"""Summaries of a run's latency samples and the host-noise witness.

Percentiles are taken per op type only: op types of one workload differ
in cost by several times, so a percentile over their pooled samples falls
between the types' clusters and moves whenever the mix shifts. A
percentile above the median is reported only when at least ten samples
lie beyond it (p90 needs 100 samples of that type in the run).
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10
UNITS = {"setup_s": "s", "op_s.p50": "s", "ops_per_s": "1/s"}


def min_samples(p: float) -> int:
    """Samples of one op type needed before percentile ``p`` (0 < p < 1)
    is reported: the median always, higher ones with ``MIN_BEYOND``
    samples beyond them."""
    if p <= 0.5:
        return 1
    return math.ceil(MIN_BEYOND / (1.0 - p) - 1e-9)


def percentile(samples: list[float], p: float) -> float | None:
    """Linearly interpolated percentile ``p`` of one op type's samples,
    or None when the type has too few samples for it."""
    if len(samples) < min_samples(p):
        return None
    if p == 0.5:
        return statistics.median(samples)
    xs = sorted(samples)
    pos = p * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def per_type(samples: dict[str, list[float]], p: float) -> dict[str, float]:
    """Percentile ``p`` of every op type that has enough samples for it."""
    out = {}
    for kind, xs in samples.items():
        v = percentile(xs, p)
        if v is not None:
            out[kind] = v
    return out


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def end_to_end(setup_s: float, samples: dict[str, list[float]],
               busy_s: float) -> dict[str, float]:
    """The benchmark's end-to-end metrics from one run's raw samples.

    ``op_s.p50`` is the geometric mean over op types of each type's
    median latency, so every type weighs the same whatever its cost, and
    no percentile is pooled across types. ``ops_per_s`` is ops completed
    per second of summed op time (``busy_s``); being a mean, it catches
    slow ops the medians hide.
    """
    n = sum(len(xs) for xs in samples.values())
    return {
        "setup_s": setup_s,
        "op_s.p50": geomean(per_type(samples, 0.5).values()),
        "ops_per_s": n / busy_s,
    }


# --- host-noise witness ----------------------------------------------------

def read_host() -> dict:
    """Cumulative CPU counters of the host: jiffies from ``/proc/stat``
    (all and steal) and the ``some`` stall total (us) from
    ``/proc/pressure/cpu``; fields that cannot be read are left out."""
    out = {}
    try:
        with open("/proc/stat") as fh:
            cpu = [int(x) for x in fh.readline().split()[1:]]
        out["jiffies"] = sum(cpu[:8])   # guest time is already in user
        out["steal"] = cpu[7] if len(cpu) > 7 else 0
    except (OSError, ValueError, IndexError):
        pass
    try:
        with open("/proc/pressure/cpu") as fh:
            for line in fh:
                if line.startswith("some"):
                    out["psi_some_us"] = int(line.split("total=")[1])
    except (OSError, ValueError, IndexError):
        pass
    return out


def host_noise(before: dict, after: dict, wall_s: float) -> dict:
    """Steal share of all CPU time, and the share of wall time in which
    some runnable task waited for a CPU, between two ``read_host`` reads.
    A disagreement between two sets of runs can be checked against it."""
    out = {}
    if "jiffies" in before and "jiffies" in after:
        d = after["jiffies"] - before["jiffies"]
        out["steal_frac"] = (after["steal"] - before["steal"]) / d if d > 0 else 0.0
    if "psi_some_us" in before and "psi_some_us" in after and wall_s > 0:
        out["cpu_pressure"] = (after["psi_some_us"] - before["psi_some_us"]) / 1e6 / wall_s
    return out
