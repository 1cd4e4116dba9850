"""End-to-end benchmark of comix_etl_spark: Marvel ETL batches and catalog
serving, timed per operation type in wall-clock.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The inputs are generated from ``--seed``
(and cached) before anything is timed; one worker process then sets up
Spark, warms up and runs ops in a closed loop until they have taken
``--seconds`` seconds.
The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics for ``--trace 0`` and the per-layer metrics of a traced run for
``--trace 1`` (whose ``etl_batch`` run also traces a cycle of the MinHash
and IVF-PQ stores). A record of the run, with the host-noise witness, is kept in
``perfbench/_runs/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TIME_LIMIT_S = 170  # the whole run, generation and clean-up included


def _become_subreaper() -> None:
    """Adopt the worker's orphaned descendants (the JVM, Python daemons),
    so that they can be stopped and waited for after the worker exits."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    me, out = os.getpid(), []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == me:
            out.append(int(pid))
    return out


def _stop_all(timeout_s: float = 15.0) -> None:
    """Terminate, then kill, every remaining child and reap it."""
    deadline = time.monotonic() + timeout_s
    sig = signal.SIGTERM
    while True:
        kids = _children()
        if not kids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break


def _run_worker(args, inputs: list[str], work: str, out: str, budget_s: float) -> int:
    cmd = [sys.executable, os.path.join(BENCH, "worker.py"),
           "--workload", args.workload, "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--inputs", inputs[0], "--work", work,
           "--out", out] + (["--extra-inputs", inputs[1]] if len(inputs) > 1 else [])
    # the worker's stdout goes to stderr: stdout carries only the result
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=max(budget_s, 1.0))
    except subprocess.TimeoutExpired:
        print(f"perfbench: worker exceeded {budget_s:.0f} s, killing it", file=sys.stderr)
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -9
    finally:
        _stop_all()


def code_identity() -> str:
    """sha256 over the engine's and the benchmark's source files: the
    tracing overhead compares runs of the same code only."""
    import hashlib

    h = hashlib.sha256()
    for top in ("comix_etl_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs[:] = sorted(x for x in dirs if not x.startswith(("_", ".")))
            for f in sorted(files):
                if f.endswith(".py"):
                    h.update(os.path.relpath(os.path.join(d, f), ROOT).encode())
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def _tracing_overhead(workload: str, code: str, seconds: float, traced: dict) -> dict:
    """Traced end-to-end values minus the median of the untraced runs of
    the same workload, code and ``--seconds`` recorded in ``_runs``
    (empty when there are none yet)."""
    import glob
    import statistics

    base: dict[str, list[float]] = {}
    for path in glob.glob(os.path.join(BENCH, "_runs", f"{workload}-s*-t0-*.json")):
        with open(path) as fh:
            rec = json.load(fh)
        if rec["correct"] and rec.get("code") == code and rec["seconds"] == seconds:
            for k, v in rec["end_to_end"].items():
                base.setdefault(k, []).append(v)
    return {k: {"traced": v, "untraced_median": statistics.median(base[k]),
                "untraced_runs": len(base[k]),
                "overhead": v - statistics.median(base[k])}
            for k, v in traced.items() if k in base}


def main(argv=None) -> int:
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "comix_etl_spark", "__init__.py")):
        print(f"perfbench: no comix_etl_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import gen, stats, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    _become_subreaper()
    inputs = [gen.ensure_inputs(BENCH, args.workload, args.seed)]
    if args.trace and args.workload in workloads.TRACED_EXTRA:
        inputs.append(gen.ensure_inputs(
            BENCH, workloads.TRACED_EXTRA[args.workload].name, args.seed))

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(BENCH, "_work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out_path = os.path.join(work, "result.json")
    host0, t0 = stats.read_host(), time.monotonic()
    try:
        code = _run_worker(args, inputs, work, out_path,
                           TIME_LIMIT_S - (time.monotonic() - t_start))
        host = stats.host_noise(host0, stats.read_host(), time.monotonic() - t0)
        if code != 0 or not os.path.exists(out_path):
            print(f"perfbench: worker failed with exit code {code}", file=sys.stderr)
            return 1
        with open(out_path) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if not res["samples"]:
        print("perfbench: every timed op failed:\n" + "".join(res["errors"][:3]),
              file=sys.stderr)
        return 1
    e2e = stats.end_to_end(res["setup_s"], res["samples"], res["busy_s"])
    if args.trace:
        from perfbench import trace

        metrics = trace.per_layer_metrics(
            res["trace"], {**res["samples"], **res["extra_samples"]}, e2e, host)
        units = trace.PER_LAYER_UNITS
    else:
        metrics, units = e2e, stats.UNITS
    correct = (res["failed"] == 0 and not res["failed_checks"] and res["attempted"] > 0)
    code_id = code_identity()
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "code": code_id, "correct": correct, "end_to_end": e2e,
              "per_type_p50": stats.per_type(res["samples"], 0.5),
              "samples": res["samples"], "extra_samples": res["extra_samples"],
              "host": host, "op_steal": res["op_steal"],
              "failed_checks": res["failed_checks"], "errors": res["errors"]}
    os.makedirs(os.path.join(BENCH, "_runs"), exist_ok=True)
    if args.trace:
        record["trace"] = res["trace"]
        record["tracing_overhead"] = _tracing_overhead(args.workload, code_id,
                                                       args.seconds, e2e)
        print(f"perfbench: tracing overhead {json.dumps(record['tracing_overhead'])}",
              file=sys.stderr)
    with open(os.path.join(BENCH, "_runs", f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(f"perfbench: host {json.dumps(host)}", file=sys.stderr)
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
