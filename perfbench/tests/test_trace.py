"""The event-log parser and span attribution, on a small fixture log."""

import os
import sys
import types

import pytest

from perfbench import trace

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


def test_parser_reads_jobs_groups_and_task_totals():
    ev = trace.parse_event_log(FIXTURE)
    assert {j: (v["group"], v["stages"]) for j, v in ev["jobs"].items()} == {
        0: ("pb1", [0, 1]), 1: ("pb2", [2]), 2: (None, [3])}
    assert ev["jobs"][0]["start"] == 1000.0 and ev["jobs"][0]["end"] == 1000.5
    s0, s2 = ev["stages"][0], ev["stages"][2]
    assert s0["tasks"] == 1 and s0["exec_cpu_s"] == pytest.approx(0.15)
    assert s0["shuffle_mb"] == pytest.approx(2.0) and s0["records_read"] == 300
    assert s0["gc_s"] == pytest.approx(0.01)
    assert s2["tasks"] == 2 and s2["failed_tasks"] == 1
    assert s2["spill_mb"] == pytest.approx(3.0)
    assert ev["stage_times"] == {0: (1000.005, 1000.2), 1: (1000.21, 1000.5)}


def _span(i, name, t0, t1, parent=None):
    return {"id": i, "name": name, "t0": t0, "t1": t1, "parent": parent, "measured": True}


def test_span_counters_self_and_driver_time():
    spans = [_span(0, "pipeline.run_marvel_batch", 999.9, 1002.0),
             _span(1, "quality.batch_guardrail", 999.95, 1000.6, parent=0),
             _span(2, "sinks.safe_overwrite_parquet", 1000.7, 1001.5, parent=0)]
    out = trace.summarize(spans, trace.parse_event_log(FIXTURE), [])["spans"]
    run, guard, write = (out[s["name"]] for s in spans)
    assert run["wall_s"] == pytest.approx(2.1)
    assert run["self_s"] == pytest.approx(2.1 - 0.65 - 0.8)
    # the ungrouped job 2 is nobody's; the parent owns its children's jobs
    assert run["jobs"] == 2 and run["tasks"] == 4
    assert run["driver_s"] == pytest.approx(2.1 - 0.5 - 0.6)
    assert guard["jobs"] == 1 and guard["tasks"] == 2
    assert guard["driver_s"] == pytest.approx(0.65 - 0.5)
    assert write["failed_tasks"] == 1 and write["exec_cpu_s"] == pytest.approx(0.48)


def test_unmeasured_spans_are_left_out_except_setup_spans():
    spans = [dict(_span(0, "session.get_spark", 990.0, 999.0), measured=False),
             dict(_span(1, "quality.batch_guardrail", 999.95, 1000.6), measured=False)]
    out = trace.summarize(spans, trace.parse_event_log(FIXTURE), [])["spans"]
    assert set(out) == {"session.get_spark"}


def test_encode_span_is_derived_from_the_writes_map_stages():
    spans = [_span(0, "similarity.persist_ivf_pq_store", 999.0, 1001.0),
             _span(1, "sinks.save_as_table", 999.9, 1000.6, parent=0),
             dict(_span(7, trace.ENCODE, None, None, parent=1), map_stages_of=1)]
    res = trace.summarize(spans, trace.parse_event_log(FIXTURE), [])
    enc, save = res["spans"][trace.ENCODE], res["spans"]["sinks.save_as_table"]
    # stage 0 wrote shuffle data; stage 1 is the final (write) stage
    assert enc["wall_s"] == pytest.approx(0.195)
    assert (enc["jobs"], enc["tasks"]) == (1, 1)
    assert enc["exec_cpu_s"] == pytest.approx(0.15)
    assert save["self_s"] == pytest.approx(0.7 - 0.195)
    assert save["tasks"] == 2
    # run totals count each top-level span's jobs once
    assert res["totals"]["tasks"] == 2 and res["totals"]["gc_s"] == pytest.approx(0.01)


def test_wrapping_opens_post_write_between_write_and_audit(monkeypatch, tmp_path):
    calls = []
    (tmp_path / "old.parquet").write_bytes(b"x")
    os.utime(tmp_path / "old.parquet", (0, 0))
    mod = types.ModuleType("pb_fake_pipeline")

    class Run:
        def append_to(self):
            calls.append("audit")

    def write(df, target_path):
        calls.append("write")
        (tmp_path / "part-0.parquet").write_bytes(b"12345")

    def run_batch():
        mod.write(None, target_path=str(tmp_path))
        calls.append("quality")
        Run().append_to()

    mod.run_batch, mod.write, mod.Run = run_batch, write, Run
    monkeypatch.setitem(sys.modules, "pb_fake_pipeline", mod)
    t = trace.Tracer()
    t.install([("pipeline.run_marvel_batch", "pb_fake_pipeline", "run_batch"),
               ("sinks.safe_overwrite_parquet", "pb_fake_pipeline", "write"),
               ("audit.append_to", "pb_fake_pipeline", "Run.append_to"),
               ("relational.gone", "pb_fake_pipeline", "no_such_function"),
               ("relational.gone_too", "pb_no_such_module", "f")])
    mod.run_batch()
    assert calls == ["write", "quality", "audit"]
    assert t.missing == ["relational.gone", "relational.gone_too"]
    names = [(s["name"], s["parent"]) for s in t.spans]
    assert names == [("pipeline.run_marvel_batch", None),
                     ("sinks.safe_overwrite_parquet", 0),
                     (trace.POST_WRITE, 0), ("audit.append_to", 0)]
    assert all(s["t1"] is not None for s in t.spans) and not t.stack
    post, audit = t.spans[2], t.spans[3]
    assert post["t1"] <= audit["t0"]
    # only what the call wrote counts as its output
    assert t.spans[1]["output"] == {"files": 1, "bytes": 5}


def test_per_layer_metrics_fit_the_declared_list():
    assert len(trace.PER_LAYER_UNITS) <= 128
    totals = {"failed_tasks": 0, "gc_s": 0.5, "spill_mb": 0.0}
    out = trace.per_layer_metrics({"spans": {}, "totals": totals, "missing": []},
                                  {"batch": [2.0, 3.0]},
                                  {"setup_s": 30.0, "op_s.p50": 2.5, "ops_per_s": 0.4},
                                  {"steal_frac": 0.01})
    assert set(out) == set(trace.PER_LAYER_UNITS)
    assert out["op.batch.p50_s"] == 2.5 and out["traced.setup_s"] == 30.0
    assert out["all.gc_s"] == 0.5 and out["op.ann_probe.p50_s"] == 0.0
