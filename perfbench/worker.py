"""One benchmark run inside its own process: set up, warm up, then time
ops in a closed loop until they have taken ``--seconds`` seconds.

Started by ``run.py`` (never by hand): it receives the generated inputs'
directory and a clean work directory, and writes its raw samples to
``--out`` as JSON. ``run.py`` turns those into the reported metrics.
A traced run given ``--extra-inputs`` then runs the workload's traced-only
ops (``workloads.TRACED_EXTRA``: the store cycle) for their layers.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()  # set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402


def spark_env(work: str, trace: bool) -> dict:
    """Environment that keeps every file Spark writes inside ``work`` and,
    for a traced run, turns on an uncompressed event log from outside the
    engine (``PYSPARK_SUBMIT_ARGS`` reaches the JVM's SparkConf)."""
    tmp = os.path.join(work, "tmp")
    confs = [f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if trace:
        confs += ["spark.eventLog.enabled=true",
                  f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
                  "spark.eventLog.compress=false",
                  "spark.eventLog.rolling.enabled=false"]
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    return {
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf '{c}'" for c in confs) + " pyspark-shell",
    }


def attempt(op, tracer, out: dict, samples: dict) -> tuple[float, bool]:
    """Run and time one op, then check it (untimed). Returns its seconds
    and whether it succeeded; a raised exception or a failed check is
    recorded in ``out`` and counts as a failed op."""
    from perfbench import stats, trace

    host0, t0 = stats.read_host(), time.perf_counter()
    try:
        if tracer and op.kind in trace.OP_SPANS:
            with tracer.span(trace.OP_SPANS[op.kind]) as span:
                res = op.run()
                span["rows"] = len(res)
        else:
            res = op.run()
    except Exception:  # a failed op is counted, the run goes on
        out["errors"].append(traceback.format_exc(limit=4))
        return time.perf_counter() - t0, False
    dt = time.perf_counter() - t0
    samples.setdefault(op.kind, []).append(dt)
    out["op_steal"].append(stats.host_noise(host0, stats.read_host(), dt)
                           .get("steal_frac", 0.0))
    if not op.check(res):
        out["failed_checks"].append(op.kind)
        return dt, False
    return dt, True


def warm_up(wl, out: dict) -> None:
    for _ in range(wl.warmup_ops):
        op = wl.next_op()
        if not op.check(op.run()):
            out["failed_checks"].append(f"warm-up {op.kind}")


def run(args) -> dict:
    from perfbench import trace, workloads

    wl = workloads.WORKLOADS[args.workload](args.inputs, args.work)
    tracer = None
    if args.trace:
        tracer = trace.Tracer()
        tracer.install()
    from comix_etl_spark import session

    spark = session.get_spark(f"perfbench-{args.workload}")
    out = {"failed_checks": [], "errors": [], "samples": {}, "extra_samples": {},
           "op_steal": []}
    extra = None
    try:
        wl.setup(spark)
        warm_up(wl, out)
        out["setup_s"] = time.perf_counter() - PROCESS_START
        if tracer:
            tracer.measuring = True
        # the loop ends after --seconds of summed op time, so the untimed
        # checks and resets between ops do not cost samples
        attempted = failed = 0
        busy = 0.0
        while busy < args.seconds:
            attempted += 1
            dt, ok = attempt(wl.next_op(), tracer, out, out["samples"])
            busy += dt
            failed += not ok
        if tracer and args.extra_inputs:
            # layers no timed workload reaches, traced after the timed
            # loop: one cycle of warm-up, then measured cycles
            extra = workloads.TRACED_EXTRA[args.workload](
                args.extra_inputs, os.path.join(args.work, "extra"))
            tracer.measuring = False
            extra.setup(spark)
            warm_up(extra, out)
            tracer.measuring = True
            for _ in range(extra.traced_ops):
                attempted += 1
                failed += not attempt(extra.next_op(), tracer, out, out["extra_samples"])[1]
        out.update(attempted=attempted, failed=failed, busy_s=busy)
    finally:
        for w in (wl, extra):
            if hasattr(w, "close"):
                w.close()
        spark.stop()
    if tracer:
        out["trace"] = tracer.report(os.path.join(args.work, "eventlog"))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--extra-inputs", default=None)
    args = ap.parse_args(argv)
    os.environ.update(spark_env(args.work, bool(args.trace)))
    result = run(args)
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    # the checkout root, which holds both the engine and this package
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
