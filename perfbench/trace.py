"""Spans around the engine's layers for the traced run, and the Spark
event-log parser that turns them into per-layer counters.

A span is opened around each engine entry point the benchmark calls
(``SPANS``, by wrapping the module attribute) or around a whole op whose
entry point only builds a lazy plan (``OP_SPANS``: the span then covers
the call and the action that consumes its result). Each span sets
``sc.setJobGroup`` so every Spark job it launches carries its id. Spans
stay in memory; after the run the uncompressed event log (enabled from
outside the engine, see ``worker.spark_env``) is parsed and each span gets
the jobs, tasks and task metrics of its own group and its descendants'.

``quality.post_write`` is the interval from the end of the staged write
to the start of the audit append inside ``run_marvel_batch``: the
quality re-scan of the freshly written table. ``similarity.ivf_pq_encode``
only builds a lazy plan; its Arrow encode runs inside the store's
``sinks.save_as_table``, so its span is derived from that write's map
stages (the stages that write shuffle data, before the final write
stage). Executor CPU counts JVM threads only: the Python worker's share
of the encode shows in the span's ``wall_s``.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import time

from perfbench import stats

ENCODE = "similarity.ivf_pq_encode"
# (span name, module, attribute path) of every wrapped entry point
SPANS = (
    ("session.get_spark", "comix_etl_spark.session", "get_spark"),
    ("session.load_tables", "comix_etl_spark.session", "load_tables"),
    ("pipeline.run_marvel_batch", "comix_etl_spark.pipeline", "run_marvel_batch"),
    ("quality.batch_guardrail", "comix_etl_spark.pipeline", "batch_guardrail"),
    ("sinks.safe_overwrite_parquet", "comix_etl_spark.pipeline", "safe_overwrite_parquet"),
    ("audit.append_to", "comix_etl_spark.operators.audit", "EtlRun.append_to"),
    ("dedup.persist_minhash_store", "comix_etl_spark.operators.dedup",
     "persist_minhash_store"),
    ("sinks.save_bucketed_table", "comix_etl_spark.sinks.writers", "save_bucketed_table"),
    ("similarity.persist_ivf_pq_store", "comix_etl_spark.operators.similarity",
     "persist_ivf_pq_store"),
    (ENCODE, "comix_etl_spark.operators.similarity", "ivf_pq_encode"),
    ("sinks.save_as_table", "comix_etl_spark.sinks.writers", "save_as_table"),
)
POST_WRITE = "quality.post_write"
# op kind -> span around the op (lazy entry points: call + action)
OP_SPANS = {
    "search": "relational.search_substring",
    "lookup": "relational.keyed_scan",
    "topk": "relational.group_count_topk",
    "dedup_probe": "dedup.dedup_against_store",
    "ann_probe": "similarity.ivf_pq_topk_from_store",
}
REPORTED = ([s[0] for s in SPANS[:5]] + [POST_WRITE] + [s[0] for s in SPANS[5:]]
            + list(OP_SPANS.values()))
SETUP_SPANS = {"session.get_spark", "session.load_tables"}  # reported over set-up
SINKS = ("sinks.safe_overwrite_parquet", "sinks.save_bucketed_table", "sinks.save_as_table")
COUNTERS = {
    "wall_s": "s", "self_s": "s", "driver_s": "s", "jobs": "count",
    "tasks": "count", "failed_tasks": "count", "exec_cpu_s": "s", "gc_s": "s",
    "shuffle_mb": "MB", "spill_mb": "MB",
}
# Counters reported per span; the run record keeps all of COUNTERS.
# ``self_s`` only where a span has children (elsewhere it equals
# ``wall_s``); ``failed_tasks``, ``gc_s`` and ``spill_mb`` as run totals
# (``all.*``); a span without jobs (``session.get_spark``) or without
# driver time of its own (the stage-derived encode) reports less.
SPAN_COUNTERS = ("wall_s", "driver_s", "jobs", "tasks", "exec_cpu_s", "shuffle_mb")
PARENTS = ("pipeline.run_marvel_batch", "dedup.persist_minhash_store",
           "similarity.persist_ivf_pq_store", "sinks.save_as_table")
TOTALS = {"failed_tasks": "count", "gc_s": "s", "spill_mb": "MB"}
OP_KINDS = ("batch", "search", "lookup", "topk",
            "dedup_write", "dedup_probe", "ann_write", "ann_probe")


def _span_counters(name: str) -> tuple[str, ...]:
    if name == "session.get_spark":
        return ("wall_s",)
    out = SPAN_COUNTERS + (("self_s",) if name in PARENTS else ())
    return tuple(c for c in out if not (name == ENCODE and c == "driver_s"))


def _units() -> dict[str, str]:
    units = {f"{s}.{c}": COUNTERS[c] for s in REPORTED for c in _span_counters(s)}
    units.update({f"all.{c}": u for c, u in TOTALS.items()})
    units.update({f"{s}.rows_scanned_per_row_returned": "ratio"
                  for s in list(OP_SPANS.values())[:3]})
    for s in SINKS:
        units.update({f"{s}.output_mb": "MB", f"{s}.files": "count"})
    units.update({"host.steal_frac": "fraction", "host.cpu_pressure": "fraction"})
    units.update({f"op.{k}.p50_s": "s" for k in OP_KINDS})
    units.update({f"traced.{m}": u for m, u in stats.UNITS.items()})
    return units


PER_LAYER_UNITS = _units()


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.missing: list[str] = []
        self.measuring = False
        self.sc = None

    # --- span bookkeeping --------------------------------------------------
    def _group(self, span: dict | None) -> None:
        if self.sc is None:
            from pyspark import SparkContext

            self.sc = SparkContext._active_spark_context
            if self.sc is None:
                return
        if span is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(f"pb{span['id']}", span["name"], False)

    def open(self, name: str) -> dict:
        span = {"id": len(self.spans), "name": name, "t0": time.time(), "t1": None,
                "parent": self.stack[-1]["id"] if self.stack else None,
                "measured": self.measuring}
        self.spans.append(span)
        self.stack.append(span)
        self._group(span)
        return span

    def close(self, span: dict) -> None:
        while self.stack and self.stack[-1] is not span:
            self.close(self.stack[-1])  # an unclosed child (post_write on error)
        span["t1"] = time.time()
        if self.stack:
            self.stack.pop()
        self._group(self.stack[-1] if self.stack else None)

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def derive(self, name: str, source: dict) -> None:
        """A span made of the map stages (the stages that write shuffle
        data) of ``source``'s jobs; ``summarize`` fills in its times."""
        self.spans.append({"id": len(self.spans), "name": name, "t0": None, "t1": None,
                           "parent": source["id"], "measured": source["measured"],
                           "map_stages_of": source["id"]})

    # --- wrapping ----------------------------------------------------------
    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if name == ENCODE:
                # builds a lazy plan whose stages run inside the store's
                # write: the encode span is derived from that write
                if tracer.stack:
                    tracer.stack[-1]["encodes"] = True
                return fn(*args, **kwargs)
            if name == "audit.append_to" and tracer.stack \
                    and tracer.stack[-1]["name"] == POST_WRITE:
                tracer.close(tracer.stack[-1])
            with tracer.span(name) as s:
                out = fn(*args, **kwargs)
            if name in SINKS:
                s["output"] = _new_files(_sink_path(name, args, kwargs), s["t0"])
            if name == "sinks.save_as_table" and any(p.get("encodes") for p in tracer.stack):
                tracer.derive(ENCODE, s)
            if name == "sinks.safe_overwrite_parquet" \
                    and any(p["name"] == "pipeline.run_marvel_batch" for p in tracer.stack):
                tracer.open(POST_WRITE)
            return out

        return wrapper

    def install(self, targets=SPANS) -> None:
        """Wrap every entry point in ``targets``; a target that no longer
        exists is recorded as missing, not treated as a failure."""
        for name, module, attr in targets:
            try:
                owner = importlib.import_module(module)
                *path, last = attr.split(".")
                for p in path:
                    owner = getattr(owner, p)
                setattr(owner, last, self._wrap(name, getattr(owner, last)))
            except (ImportError, AttributeError):
                self.missing.append(name)

    # --- report ------------------------------------------------------------
    def report(self, eventlog_dir: str) -> dict:
        logs = [os.path.join(eventlog_dir, f) for f in os.listdir(eventlog_dir)]
        if len(logs) != 1 or not os.path.isfile(logs[0]):
            raise RuntimeError(f"expected one event-log file in {eventlog_dir}, "
                               f"found {logs}")
        return summarize(self.spans, parse_event_log(logs[0]), self.missing)


def _sink_path(name: str, args, kwargs) -> str:
    """Directory a sink writes: its path argument, or a managed table's
    directory under the warehouse."""
    if name == "sinks.safe_overwrite_parquet":
        return args[1] if len(args) > 1 else kwargs["target_path"]
    table = args[1] if len(args) > 1 else kwargs["name"]
    return os.path.join(os.environ.get("SPARK_GRAFT_WAREHOUSE", "spark-warehouse"),
                        table.lower())


def _new_files(path: str, since: float) -> dict:
    """Data files under ``path`` written since ``since``: what one sink
    call wrote, for an append as for an overwrite."""
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
             if not f.startswith((".", "_"))]
    files = [f for f in files if os.path.getmtime(f) >= since - 0.05]
    return {"files": len(files), "bytes": sum(os.path.getsize(f) for f in files)}


# --- event log -------------------------------------------------------------

def parse_event_log(path: str) -> dict:
    """Jobs (group, submit/end times in s, stage ids) and per-stage task
    totals from an uncompressed Spark event log. A stage listed by several
    jobs belongs to the first, so its tasks are counted once."""
    out = {"jobs": {}, "stages": {}, "stage_times": {}}
    jobs, stages = out["jobs"], out["stages"]
    claimed: set[int] = set()
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0, "end": None,
                    "stages": [s for s in ev.get("Stage IDs", []) if s not in claimed],
                }
                claimed.update(ev.get("Stage IDs", []))
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" in info and "Completion Time" in info:
                    out["stage_times"][info["Stage ID"]] = (info["Submission Time"] / 1000.0,
                                                            info["Completion Time"] / 1000.0)
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], _zero_tasks())
                info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
                st["tasks"] += 1
                st["failed_tasks"] += bool(info.get("Failed"))
                st["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                st["shuffle_mb"] += sw / 1e6
                st["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                st["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return out


def _zero_tasks() -> dict:
    return {"tasks": 0, "failed_tasks": 0, "exec_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_mb": 0.0, "spill_mb": 0.0, "records_read": 0}


def _union_len(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _derive_map_stages(s: dict, jobs_by_group: dict, events: dict) -> list[int]:
    """Fill in a derived span (``Tracer.derive``): the map stages of its
    source's jobs, its times from theirs. Returns the stage ids."""
    sids = [sid for j in jobs_by_group.get(f"pb{s['map_stages_of']}", [])
            for sid in j["stages"]
            if events["stages"].get(sid, {}).get("shuffle_mb", 0) > 0
            and sid in events["stage_times"]]
    times = [events["stage_times"][sid] for sid in sids]
    if times:
        s["t0"], s["t1"] = min(a for a, _ in times), max(b for _, b in times)
        s["busy"] = _union_len(times)
    return sids


def summarize(spans: list[dict], events: dict, missing: list[str]) -> dict:
    """Per span name: calls and sums of every counter, over the timed
    loop (over set-up for ``SETUP_SPANS``). Job counters of a span
    include its descendants' jobs, like its wall time does. ``totals``
    sums the task counters over every measured top-level span."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    jobs_by_group: dict[str, list[dict]] = {}
    for job in events["jobs"].values():
        if job["group"]:
            jobs_by_group.setdefault(job["group"], []).append(job)
    derived = {s["id"]: _derive_map_stages(s, jobs_by_group, events)
               for s in spans if "map_stages_of" in s}

    def subtree(s):
        yield s
        for c in children.get(s["id"], []):
            yield from subtree(c)

    def stage_totals(sids, acc):
        for sid in sids:
            for k, v in events["stages"].get(sid, {}).items():
                acc[k] += v

    per_name: dict[str, dict] = {}
    totals = _zero_tasks()
    for s in spans:
        if s["t1"] is None or not (s["measured"] or s["name"] in SETUP_SPANS):
            continue
        acc = per_name.setdefault(s["name"], {"calls": 0, **{c: 0.0 for c in COUNTERS},
                                              "records_read": 0, "rows_returned": 0,
                                              "output_files": 0, "output_bytes": 0})
        acc["calls"] += 1
        if s["id"] in derived:
            acc["wall_s"] += s["busy"]
            acc["self_s"] += s["busy"]
            acc["jobs"] += sum(1 for j in jobs_by_group.get(f"pb{s['map_stages_of']}", [])
                               if set(j["stages"]) & set(derived[s["id"]]))
            stage_totals(derived[s["id"]], acc)
            continue
        wall = s["t1"] - s["t0"]
        acc["wall_s"] += wall
        acc["self_s"] += wall - _union_len(
            (c["t0"], c["t1"]) for c in children.get(s["id"], []) if c["t1"])
        jobs = [j for d in subtree(s) for j in jobs_by_group.get(f"pb{d['id']}", [])]
        acc["jobs"] += len(jobs)
        busy = _union_len((max(j["start"], s["t0"]), min(j["end"], s["t1"]))
                          for j in jobs if j["end"] and j["end"] > s["t0"])
        acc["driver_s"] += max(wall - busy, 0.0)
        sids = [sid for j in jobs for sid in j["stages"]]
        stage_totals(sids, acc)
        if s["parent"] is None and s["measured"]:
            stage_totals(sids, totals)
        acc["rows_returned"] += s.get("rows", 0)
        out = s.get("output") or {}
        acc["output_files"] += out.get("files", 0)
        acc["output_bytes"] += out.get("bytes", 0)
    return {"spans": per_name, "totals": totals, "missing": missing}


def per_layer_metrics(trace: dict, samples: dict, e2e: dict, host: dict) -> dict:
    """Flatten a traced run into the per-layer metrics of ``BENCHMARK.json``:
    per-call means per span (0 for a span the workload does not reach),
    run totals, ratios, sink output, host noise, per-type medians and the
    traced end-to-end values (the tracing overhead is these minus the
    untraced runs' values)."""
    spans, out = trace["spans"], {}

    def mean(acc, key):
        return acc[key] / acc["calls"] if acc else 0.0

    for name in REPORTED:
        for c in _span_counters(name):
            out[f"{name}.{c}"] = mean(spans.get(name), c)
    for c in TOTALS:
        out[f"all.{c}"] = trace["totals"][c]
    for name in list(OP_SPANS.values())[:3]:
        acc = spans.get(name)
        out[f"{name}.rows_scanned_per_row_returned"] = (
            acc["records_read"] / max(acc["rows_returned"], 1) if acc else 0.0)
    for name in SINKS:
        out[f"{name}.output_mb"] = mean(spans.get(name), "output_bytes") / 1e6
        out[f"{name}.files"] = mean(spans.get(name), "output_files")
    out["host.steal_frac"] = host.get("steal_frac", 0.0)
    out["host.cpu_pressure"] = host.get("cpu_pressure", 0.0)
    p50 = stats.per_type(samples, 0.5)
    for k in OP_KINDS:
        out[f"op.{k}.p50_s"] = p50.get(k, 0.0)
    for m in stats.UNITS:
        out[f"traced.{m}"] = e2e[m]
    return out
