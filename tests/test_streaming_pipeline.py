"""Streaming foreachBatch merge, sinks, multimodal plumbing, and the
end-to-end ETL pipeline DAG."""

from __future__ import annotations

import os
import shutil
import tempfile
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from comix_etl_spark.multimodal.media import (
    attach_binary_metadata,
    decode_image_features,
    frame_sample_plan,
)
from comix_etl_spark.operators.audit import read_audit
from comix_etl_spark.pipeline import RunResult, run_marvel_batch
from comix_etl_spark.sinks import write_csv_report, write_table
from comix_etl_spark.sources.json_source import read_marvel_comics
from comix_etl_spark.streaming.windowed import foreach_batch_upsert

DATA = os.path.join(os.path.dirname(__file__), "data")
JSONL = os.path.join(DATA, "marvel_comics.jsonl")


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="comix_spark_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_foreach_batch_upsert_merges_microbatches(spark, tmpdir):
    target = os.path.join(tmpdir, "target")
    sink = foreach_batch_upsert(target, key=["k"], update_cols=["v"])
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    b2 = spark.createDataFrame([(2, "B2"), (3, "c")], "k int, v string")
    sink(b1, 0)
    sink(b2, 1)
    out = {r.k: r.v for r in spark.read.parquet(target).collect()}
    assert out == {1: "a", 2: "B2", 3: "c"}  # batch 2 updated k=2, inserted k=3


def test_foreach_batch_upsert_partition_scoped(spark, tmpdir):
    """Partition-scoped merge: a micro-batch touching one partition must
    leave every other partition's FILES untouched (O(batch), not
    O(table)) while matching full-merge semantics."""
    target = os.path.join(tmpdir, "target_part")
    sink = foreach_batch_upsert(target, key=["k"], update_cols=["v"],
                                partition_col="day")
    b1 = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d1"), (10, "x", "d2")], "k int, v string, day string")
    sink(b1, 0)
    d2_files = sorted(os.listdir(os.path.join(target, "day=d2")))

    b2 = spark.createDataFrame([(2, "B2", "d1"), (3, "c", "d1")], "k int, v string, day string")
    sink(b2, 1)
    out = {r.k: (r.v, r.day) for r in spark.read.parquet(target).collect()}
    assert out == {1: ("a", "d1"), 2: ("B2", "d1"), 3: ("c", "d1"), 10: ("x", "d2")}
    # untouched partition's files were not rewritten
    assert sorted(os.listdir(os.path.join(target, "day=d2"))) == d2_files


def test_write_table_and_csv_report_roundtrip(spark, tmpdir):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id int, name string")
    p = os.path.join(tmpdir, "t")
    write_table(df, p)
    assert spark.read.parquet(p).count() == 2
    c = os.path.join(tmpdir, "report")
    write_csv_report(df, c)
    back = spark.read.option("header", True).csv(c)
    assert back.count() == 2 and set(back.columns) == {"id", "name"}


def test_write_json_records_roundtrip(spark, tmpdir):
    df = spark.createDataFrame([(1, "x", None), (2, "y", 2.5)],
                               "id int, name string, score double")
    p = os.path.join(tmpdir, "json_out")
    from comix_etl_spark.sinks.writers import write_json_records
    write_json_records(df, p)
    back = spark.read.schema("id int, name string, score double").json(p)
    assert {(r.id, r.name, r.score) for r in back.collect()} == {(1, "x", None), (2, "y", 2.5)}


def test_safe_overwrite_parquet_reads_own_input(spark, tmpdir):
    """The merge pattern: df's plan READS target_path while overwriting
    it — the staging+swap must produce the merged result, and a prior
    table must survive a failing write."""
    target = os.path.join(tmpdir, "swap_target")
    from comix_etl_spark.sinks.writers import safe_overwrite_parquet
    spark.createDataFrame([(1, "a")], "k int, v string").write.parquet(target)
    existing = spark.read.parquet(target)
    merged = existing.unionByName(spark.createDataFrame([(2, "b")], "k int, v string"))
    safe_overwrite_parquet(merged, target)
    assert {r.k for r in spark.read.parquet(target).collect()} == {1, 2}
    # a failing plan must leave the target intact
    bad = spark.read.parquet(target).withColumn("boom", F.raise_error(F.lit("x")))
    with pytest.raises(Exception):
        safe_overwrite_parquet(bad, target)
    assert {r.k for r in spark.read.parquet(target).collect()} == {1, 2}
    leftovers = [d for d in os.listdir(tmpdir) if "__staging_" in d or "__trash_" in d]
    assert leftovers == []


def test_multimodal_metadata_and_decode_agree(spark):
    # real binary payloads (UTF-8 encoding would mangle the \x89 magic byte)
    media = spark.createDataFrame(
        [(1, bytearray(b"hello world")),
         (2, bytearray(b"\x89PNG\r\n fake png bytes"))],
        "media_id long, payload binary")
    meta = attach_binary_metadata(media)
    m = {r.media_id: r.meta for r in meta.collect()}
    assert m[2].mime == "image/png"  # magic-byte sniff
    assert m[1].mime == "application/octet-stream"
    feats = {r.media_id: r for r in decode_image_features(media).collect()}
    # JVM-side sha256 and the Arrow-side stub must agree byte-for-byte
    assert feats[1].sha256 == m[1].sha256
    assert feats[1].n_bytes == m[1].n_bytes == len(b"hello world")
    assert 1 <= feats[1].fake_width <= 4096


def test_frame_sample_plan_grid(spark):
    df = spark.createDataFrame(
        [(1, (None, 3500)), (2, (None, 0)), (3, (None, 3000))],
        "media_id long, meta struct<mime:string,duration_ms:long>")
    grid = frame_sample_plan(df, every_ms=1000)
    rows = [(r.media_id, r.frame_ts_ms) for r in grid.collect()]
    assert (1, 0) in rows and (1, 3000) in rows
    assert len([r for r in rows if r[0] == 1]) == 4  # 0,1000,2000,3000
    assert len([r for r in rows if r[0] == 2]) == 1  # duration 0 → frame 0 only
    # fencepost: a 3000 ms clip spans [0, 3000) — no frame AT 3000
    assert (3, 3000) not in rows
    assert len([r for r in rows if r[0] == 3]) == 3  # 0,1000,2000


def test_pipeline_end_to_end_success_and_idempotent(spark, tmpdir):
    raw = read_marvel_comics(spark, JSONL)
    target = os.path.join(tmpdir, "issues")
    audit = os.path.join(tmpdir, "audit")
    r1 = run_marvel_batch(spark, raw, target_path=target, audit_path=audit, expected_min=30)
    assert r1.status == "SUCCESS" and r1.records_read == 40 and r1.records_loaded == 40
    # idempotent re-run: same batch → same table size
    r2 = run_marvel_batch(spark, raw, target_path=target, audit_path=audit, expected_min=30)
    assert r2.records_loaded == 40
    runs = read_audit(spark, audit)
    assert runs.count() == 2
    assert {r.status for r in runs.collect()} == {"SUCCESS"}


def test_pipeline_warm_batch_job_count(spark, tmpdir, count_jobs):
    """An unguarded run is the staged write alone: the batch's counts ride
    it, the audit row is written on the driver and the written table is
    never read back. The staged write is 2 jobs on a cold target and 3 on
    a warm one (AQE runs the merge join's shuffle stages as jobs of their
    own). A guardrail (``expected_min > 0``) adds its one pre-pass job."""
    raw = read_marvel_comics(spark, JSONL)
    target = os.path.join(tmpdir, "issues")
    audit = os.path.join(tmpdir, "audit")
    r, cold = count_jobs(lambda: run_marvel_batch(
        spark, raw, target_path=target, audit_path=audit))
    assert r.records_loaded == 40
    r, warm = count_jobs(lambda: run_marvel_batch(
        spark, raw, target_path=target, audit_path=audit))
    assert r.records_loaded == 40 == spark.read.parquet(target).count()
    r, guarded = count_jobs(lambda: run_marvel_batch(
        spark, raw, target_path=target, audit_path=audit, expected_min=30))
    assert r.records_loaded == 40
    assert cold <= 2 and warm <= 3 and guarded <= 4, (cold, warm, guarded)


def test_pipeline_empty_batch_cold_target(spark, tmpdir, count_jobs):
    """An empty batch on a cold target lands an empty table and reports
    zero counts, not NULLs, in one job: the staged write."""
    raw = read_marvel_comics(spark, JSONL).limit(0)
    target = os.path.join(tmpdir, "issues")
    audit = os.path.join(tmpdir, "audit")
    r, jobs = count_jobs(lambda: run_marvel_batch(
        spark, raw, target_path=target, audit_path=audit))
    assert r == RunResult(0, 0, "SUCCESS", {"null_onsale_date": 0,
                                            "null_cover_url": 0,
                                            "orphan_credits": 0})
    assert jobs <= 1, jobs
    assert spark.read.parquet(target).count() == 0
    runs = read_audit(spark, audit).collect()
    assert [(a.status, a.records_read, a.records_loaded) for a in runs] \
        == [("SUCCESS", 0, 0)]
    assert (runs[0].null_onsale_date, runs[0].null_cover_url,
            runs[0].orphan_credits) == (0, 0, 0)


def _within(seconds, fn):
    """``fn()``, failing the test if it has not returned in ``seconds``:
    an observation whose node the optimizer pruned would block
    ``Observation.get`` forever. The worker thread is a daemon, so a hung
    call does not hold up the interpreter's exit."""
    out = {}

    def call():
        try:
            out["value"] = fn()
        except BaseException as e:  # re-raised on the test's thread
            out["error"] = e

    t = threading.Thread(target=call, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"no result within {seconds} s"
    if "error" in out:
        raise out["error"]
    return out["value"]


@pytest.mark.parametrize("empty", [
    lambda raw: raw.limit(0),
    lambda raw: raw.filter(F.lit(False)),
    lambda raw: raw.filter(F.col("id") < 0),
], ids=["limit0", "filtered_at_plan", "filtered_at_run"])
def test_pipeline_empty_batch_warm_target_reports_zero_read(spark, tmpdir, empty):
    """An empty batch on a warm target, whether the optimizer sees it is
    empty (``limit(0)``, a false filter) or only the scan finds out,
    still delivers the counts observed inside the staged write: 0 rows
    read, and the target's own counts loaded."""
    target = os.path.join(tmpdir, "issues")
    audit = os.path.join(tmpdir, "audit")
    raw = read_marvel_comics(spark, JSONL)
    first = run_marvel_batch(spark, raw, target_path=target, audit_path=audit)
    r = _within(120, lambda: run_marvel_batch(
        spark, empty(raw), target_path=target, audit_path=audit))
    assert r == RunResult(0, 40, "SUCCESS", {**first.quality, "orphan_credits": 0})
    assert spark.read.parquet(target).count() == 40


def test_pipeline_guarded_batch_reads_its_rows(spark, tmpdir):
    """With a guardrail set, ``records_read`` still comes from the staged
    write's observation, and equals the batch's row count."""
    raw = read_marvel_comics(spark, JSONL)
    n = raw.count()
    target = os.path.join(tmpdir, "issues")
    audit = os.path.join(tmpdir, "audit")
    r = _within(120, lambda: run_marvel_batch(
        spark, raw, target_path=target, audit_path=audit, expected_min=n))
    assert (r.status, r.records_read, r.records_loaded) == ("SUCCESS", n, 40)
    runs = read_audit(spark, audit).collect()
    assert [(a.status, a.records_read) for a in runs] == [("SUCCESS", n)]


def test_pipeline_null_ids_count_orphan_credits(spark, tmpdir):
    """Every 7th comic id nulled: the merge drops the 5 NULL-key rows and
    their 12 credits are orphans. The observed counts equal the written
    table's."""
    raw = read_marvel_comics(spark, JSONL).withColumn(
        "id", F.when(F.col("id") % 7 == 0, None).otherwise(F.col("id")))
    target = os.path.join(tmpdir, "issues")
    audit = os.path.join(tmpdir, "audit")
    r = run_marvel_batch(spark, raw, target_path=target, audit_path=audit)
    assert r == RunResult(40, 35, "SUCCESS", {"null_onsale_date": 6,
                                              "null_cover_url": 4,
                                              "orphan_credits": 12})
    written = spark.read.parquet(target)
    assert written.count() == 35
    assert written.filter(F.col("onsale_date").isNull()).count() == 6
    assert written.filter(F.col("cover_url").isNull()).count() == 4
    runs = read_audit(spark, audit).collect()
    assert [(a.status, a.records_read, a.records_loaded, a.null_onsale_date,
             a.null_cover_url, a.orphan_credits) for a in runs] \
        == [("SUCCESS", 40, 35, 6, 4, 12)]


def _dir_bytes(path):
    """{file name: content} of a table directory."""
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_pipeline_guardrail_aborts_short_batch(spark, tmpdir):
    """A short batch raises before anything is staged: the warm target's
    files stay byte-identical and the audit row is FAILED."""
    target = os.path.join(tmpdir, "issues")
    audit = os.path.join(tmpdir, "audit")
    run_marvel_batch(spark, read_marvel_comics(spark, JSONL),
                     target_path=target, audit_path=audit)
    before = _dir_bytes(target)
    raw = read_marvel_comics(spark, JSONL).limit(5)
    with pytest.raises(ValueError, match="guardrail"):
        run_marvel_batch(spark, raw, target_path=target, audit_path=audit, expected_min=40)
    assert _dir_bytes(target) == before
    assert [d for d in os.listdir(tmpdir) if "__staging_" in d] == []
    runs = read_audit(spark, audit).orderBy("started_at").collect()
    assert [(a.status, a.records_read, a.records_loaded) for a in runs] \
        == [("SUCCESS", 40, 40), ("FAILED", 0, 0)]
    assert "guardrail" in runs[1].notes
    # the counters are NULL on a FAILED row
    assert (runs[1].null_onsale_date, runs[1].null_cover_url,
            runs[1].orphan_credits) == (None, None, None)


def test_audit_row_round_trip(spark, tmpdir, count_jobs):
    """SUCCESS, FAILED and NULL-notes rows read back equal to their
    EtlRun fields, timestamps included; each append is written on the
    driver (no Spark job) and the files carry the ETL_RUN columns and
    types."""
    from comix_etl_spark.operators.audit import EtlRun
    from comix_etl_spark.schemas import ETL_RUN

    path = os.path.join(tmpdir, "audit")
    ok = EtlRun("marvel", records_read=40, records_loaded=38).finish(
        "SUCCESS", notes="late partition", null_onsale_date=7,
        null_cover_url=5, orphan_credits=0)
    failed = EtlRun("comicvine", records_read=3).finish(
        "FAILED", notes="guardrail: batch below 80% of expected")
    bare = EtlRun("marvel", run_id=-(1 << 63)).finish("SUCCESS")
    assert bare.notes is None
    for run in (ok, failed, bare):
        _, jobs = count_jobs(lambda run=run: run.append_to(path))
        assert jobs == 0, jobs
    back = {r.run_id: r.asDict() for r in read_audit(spark, path).collect()}
    for run in (ok, failed, bare):
        want = {f.name: getattr(run, f.name) for f in ETL_RUN.fields}
        want["started_at"] = run.started_at.replace(tzinfo=None)
        want["finished_at"] = run.finished_at.replace(tzinfo=None)
        assert back[run.run_id] == want
    assert [(f.name, f.dataType) for f in spark.read.parquet(path).schema] \
        == [(f.name, f.dataType) for f in ETL_RUN.fields]


def test_read_audit_reads_rows_without_counter_columns(spark, tmpdir):
    """An audit dir holding a Spark-written row from before the quality
    counters existed, next to driver-written rows, still reads: the old
    row carries NULL counters. A hidden temp file that an interrupted
    append left behind is not read."""
    import datetime as dt

    from comix_etl_spark.operators.audit import EtlRun
    from comix_etl_spark.schemas import ETL_RUN

    path = os.path.join(tmpdir, "audit")
    old = T.StructType([f for f in ETL_RUN.fields if f.name not in
                        ("null_onsale_date", "null_cover_url", "orphan_credits")])
    t0 = dt.datetime(2024, 1, 2, 3, 4, 5)
    spark.createDataFrame([(1, "marvel", t0, t0, 4, 4, "SUCCESS", None)], old) \
        .write.parquet(path)
    new = EtlRun("marvel", run_id=2, records_read=4, records_loaded=3).finish(
        "SUCCESS", null_onsale_date=1, null_cover_url=0, orphan_credits=2)
    failed = EtlRun("comicvine", run_id=3, records_read=5).finish("FAILED", notes="boom")
    for run in (new, failed):
        run.append_to(path)
    # an append interrupted between its write and its rename
    interrupted = os.path.join(tmpdir, "interrupted")
    EtlRun("marvel", run_id=4).finish("SUCCESS").append_to(interrupted)
    (name,) = os.listdir(interrupted)
    shutil.move(os.path.join(interrupted, name), os.path.join(path, f".{name}.tmp"))
    got = {r.run_id: (r.source_system, r.started_at, r.status, r.records_read,
                      r.records_loaded, r.null_onsale_date, r.null_cover_url,
                      r.orphan_credits)
           for r in read_audit(spark, path).collect()}
    assert got == {1: ("marvel", t0, "SUCCESS", 4, 4, None, None, None),
                   2: ("marvel", new.started_at.replace(tzinfo=None), "SUCCESS",
                       4, 3, 1, 0, 2),
                   3: ("comicvine", failed.started_at.replace(tzinfo=None), "FAILED",
                       5, 0, None, None, None)}


@pytest.mark.parametrize("column", ["cover_url", "marvel_comic_id", "title", "+legacy"])
def test_pipeline_warm_target_schema_mismatch_raises(spark, tmpdir, column):
    """A warm target whose files lack a batch column (or carry one more,
    ``+legacy``) fails the run loudly, names the column and leaves the
    target as it was. A missing ``title`` would otherwise drop the
    batch's titles from the merged table without an error."""
    from comix_etl_spark.sources.json_source import normalize_comics

    raw = read_marvel_comics(spark, JSONL)
    target = os.path.join(tmpdir, "issues")
    audit = os.path.join(tmpdir, "audit")
    issues = normalize_comics(raw)
    table = (issues.withColumn("legacy", F.lit(1)) if column == "+legacy"
             else issues.drop(column))
    table.write.parquet(target)
    before = _dir_bytes(target)
    with pytest.raises(Exception, match=column.lstrip("+")):
        run_marvel_batch(spark, raw, target_path=target, audit_path=audit)
    assert _dir_bytes(target) == before
    runs = read_audit(spark, audit).collect()
    assert len(runs) == 1 and runs[0].status == "FAILED"


def test_stream_cdc_foreachbatch_apply(spark):
    """End-to-end streaming CDC: a changelog arriving as two ordered
    micro-batches (maxFilesPerTrigger=1) applied through foreachBatch
    with apply_changelog must leave the target equal to the one-shot
    batch apply of the full log — the streaming replication path."""
    import time as _time

    from comix_etl_spark.operators.merge import apply_changelog

    tmp = tempfile.mkdtemp(prefix="cdc_stream_")
    target = os.path.join(tmp, "target")
    logdir = os.path.join(tmp, "log")
    os.makedirs(logdir)
    try:
        snap = spark.createDataFrame(
            [(i, float(i * 10)) for i in range(1, 8)], "k int, v double")
        snap.write.mode("overwrite").parquet(target)

        log1 = spark.createDataFrame(
            [(2, 1, "U", 222.0), (3, 1, "D", None), (9, 1, "I", 900.0)],
            "k int, seq int, op string, v double")
        log2 = spark.createDataFrame(
            [(2, 2, "D", None), (9, 2, "U", 901.0), (5, 2, "U", 555.0)],
            "k int, seq int, op string, v double")
        # one file per micro-batch, mtime-ordered so batch order == seq order
        log1.coalesce(1).write.mode("overwrite").parquet(os.path.join(logdir, "b1"))
        _time.sleep(1.1)
        log2.coalesce(1).write.mode("overwrite").parquet(os.path.join(logdir, "b2"))

        def apply_batch(batch_df, _bid):
            tgt = spark.read.parquet(target)
            merged = apply_changelog(tgt, batch_df, ["k"], ["v"])
            merged = merged.localCheckpoint(eager=True)  # cut lineage on files being replaced
            merged.write.mode("overwrite").parquet(target)

        q = (spark.readStream.schema("k int, seq int, op string, v double")
             .option("maxFilesPerTrigger", 1)
             .parquet(os.path.join(logdir, "*"))
             .writeStream.foreachBatch(apply_batch)
             .option("checkpointLocation", os.path.join(tmp, "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

        got = sorted(tuple(r) for r in spark.read.parquet(target).collect())
        want = sorted(tuple(r) for r in apply_changelog(
            snap, log1.unionByName(log2), ["k"], ["v"]).collect())
        assert got == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_interval_join_how_validation(spark):
    """Only inner/left_outer are meaningful for the watermarked interval
    join; anything else must fail loudly before a stream starts."""
    import pytest

    from comix_etl_spark.streaming.joins import stream_interval_join

    l = spark.createDataFrame([(1, "2024-01-01 00:00:00")], "k long, ts_l string") \
        .selectExpr("k", "CAST(ts_l AS TIMESTAMP) AS ts_l")
    r = spark.createDataFrame([(1, "2024-01-01 00:30:00")], "k long, ts_r string") \
        .selectExpr("k", "CAST(ts_r AS TIMESTAMP) AS ts_r")
    with pytest.raises(ValueError, match="inner|left_outer"):
        stream_interval_join(l, r, key="k", left_ts="ts_l", right_ts="ts_r",
                             how="full_outer")
    # batch execution path: outer keeps the unmatched-left contract
    l2 = l.unionByName(spark.createDataFrame([(2, "2024-01-01 05:00:00")],
                                             "k long, ts_l string")
                       .selectExpr("k", "CAST(ts_l AS TIMESTAMP) AS ts_l"))
    out = stream_interval_join(l2, r, key="k", left_ts="ts_l", right_ts="ts_r",
                               how="left_outer").collect()
    assert len(out) == 2 and sum(1 for x in out if x.ts_r is None) == 1


def test_stream_checkpoint_resume_exactly_once(spark, tmpdir):
    """Checkpointed restart is the operational contract a production
    stream lives by: stop a file-source stream, add new files, restart
    with the SAME checkpointLocation — only the new files process (no
    reprocessing, no loss). Verified by counting per-batch source rows
    through foreachBatch on both runs."""
    import glob as _glob

    src = os.path.join(tmpdir, "src")
    ckpt = os.path.join(tmpdir, "ckpt")
    os.makedirs(src)
    seen: list[int] = []

    def write_file(name, lo, hi):
        tmp = tempfile.mkdtemp(prefix="ckb_")
        spark.range(lo, hi).selectExpr("id", "id * 2 AS v") \
            .coalesce(1).write.mode("overwrite").parquet(f"{tmp}/d")
        part = _glob.glob(f"{tmp}/d/part-*.parquet")[0]
        shutil.move(part, os.path.join(src, name))
        shutil.rmtree(tmp, ignore_errors=True)

    def run_once():
        q = (spark.readStream.schema("id long, v long").parquet(src)
             .writeStream.foreachBatch(
                 lambda df, bid: seen.append(df.count()))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    write_file("b1.parquet", 0, 100)
    run_once()
    assert sum(seen) == 100
    # restart with NOTHING new: checkpoint must suppress reprocessing
    run_once()
    assert sum(seen) == 100
    # add data, restart: exactly the delta processes
    write_file("b2.parquet", 100, 130)
    run_once()
    assert sum(seen) == 130


def test_stream_dedup_ingest_loop(spark, tmpdir):
    """The continuous-ingest dedup loop: a REAL file-source stream
    (maxFilesPerTrigger=1 → one micro-batch per file) probes each
    batch against everything landed before it, then lands the batch's
    docs + band rows for the next one. Matches must equal a sequential
    replay with the batch operator (dedup_against_corpus over the
    accumulated corpus), and re-applying a batch (crash-replay) must
    leave results identical — the batch_id< probe + per-batch
    overwrite idempotency contract."""
    import glob as _glob

    from comix_etl_spark.operators.dedup import dedup_against_corpus
    from comix_etl_spark.streaming.windowed import foreach_batch_dedup_ingest

    src = os.path.join(tmpdir, "ingest_src")
    root = os.path.join(tmpdir, "ingest_root")
    os.makedirs(src)

    def doc(i, words):
        return (i, " ".join(words))

    # batch files: b2 repeats a b1 doc's text (cross-batch dup), b3
    # repeats one from b1 and one from b2; unique docs share no shingles
    w = [f"w{k}" for k in range(40)]
    batches = [
        [doc(1, w[0:8]), doc(2, w[8:16])],
        [doc(10, w[0:8]), doc(11, w[16:24])],
        [doc(20, w[8:16]), doc(21, w[16:24]), doc(22, w[24:32])],
    ]

    def write_file(name, rows):
        tmp = tempfile.mkdtemp(prefix="ing_")
        spark.createDataFrame(rows, "doc_id long, text string") \
            .coalesce(1).write.mode("overwrite").parquet(f"{tmp}/d")
        part = _glob.glob(f"{tmp}/d/part-*.parquet")[0]
        shutil.move(part, os.path.join(src, name))
        shutil.rmtree(tmp, ignore_errors=True)

    for bi, rows in enumerate(batches):
        write_file(f"b{bi}.parquet", rows)
    common = dict(id_col="doc_id", text_col="text", num_hashes=16,
                  bands=4, n=3, threshold=0.5, hash_fn="md5")
    apply_fn = foreach_batch_dedup_ingest(root, **common)
    q = (spark.readStream.schema("doc_id long, text string")
         .option("maxFilesPerTrigger", 1).parquet(src)
         .writeStream.foreachBatch(apply_fn)
         .option("checkpointLocation", os.path.join(tmpdir, "ingest_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted(map(tuple, spark.read.parquet(
        os.path.join(root, "matches")).drop("batch_id").collect()))
    # sequential replay with the batch operator (file order == batch
    # order under maxFilesPerTrigger=1 + lexicographic file listing)
    expected = []
    for bi in range(1, len(batches)):
        b = spark.createDataFrame(batches[bi], "doc_id long, text string")
        corpus = spark.createDataFrame(
            [r for rows in batches[:bi] for r in rows],
            "doc_id long, text string")
        expected += [tuple(r) for r in dedup_against_corpus(
            b, corpus, "doc_id", "text", num_hashes=16, bands=4, n=3,
            threshold=0.5, hash_fn="md5").collect()]
    assert got == sorted(expected) and len(got) == 3
    # crash-replay: re-apply the LAST batch by hand — per-batch
    # overwrite + batch_id< probe must leave everything identical
    last = spark.createDataFrame(batches[-1], "doc_id long, text string")
    apply_fn(last, len(batches) - 1)
    again = sorted(map(tuple, spark.read.parquet(
        os.path.join(root, "matches")).drop("batch_id").collect()))
    assert again == got


def test_stream_ann_ingest_loop(spark, tmpdir):
    """The vector-side continuous-ingest loop: planted exact copies of
    earlier-batch vectors must be flagged (cosine 1.0, right match_id),
    novel near-orthogonal vectors must not, batch 0 matches nothing,
    and a crash-replay of the last batch leaves results identical."""
    import glob as _glob

    import numpy as np

    from comix_etl_spark.operators.similarity import (
        train_ivf_centroids, train_residual_codebooks)
    from comix_etl_spark.streaming.windowed import foreach_batch_ann_ingest

    rng = np.random.default_rng(7)
    dim = 8

    def vec(seed):
        v = rng.normal(size=dim) if seed is None else \
            np.random.default_rng(seed).normal(size=dim)
        return [float(x) for x in v / np.linalg.norm(v)]

    base = {i: vec(i) for i in range(6)}
    batches = [
        [(0, base[0]), (1, base[1])],
        [(10, base[0]), (11, base[2])],            # 10 copies batch-0's 0
        [(20, base[1]), (21, base[2]), (22, base[3])],  # copies of 1 and 11
    ]
    all_rows = [r for rows in batches for r in rows]
    train = spark.createDataFrame(all_rows, "vec_id long, embedding array<double>")
    centers = train_ivf_centroids(train, n_centroids=2, normalize=True)
    books = train_residual_codebooks(train, centers, m=2, k=4)

    src = os.path.join(tmpdir, "ann_src")
    root = os.path.join(tmpdir, "ann_root")
    os.makedirs(src)

    def write_file(name, rows):
        tmp = tempfile.mkdtemp(prefix="anni_")
        spark.createDataFrame(rows, "vec_id long, embedding array<double>") \
            .coalesce(1).write.mode("overwrite").parquet(f"{tmp}/d")
        part = _glob.glob(f"{tmp}/d/part-*.parquet")[0]
        shutil.move(part, os.path.join(src, name))
        shutil.rmtree(tmp, ignore_errors=True)

    for bi, rows in enumerate(batches):
        write_file(f"b{bi}.parquet", rows)
    apply_fn = foreach_batch_ann_ingest(root, centers, books,
                                        sim_threshold=0.98, nprobe=2,
                                        rerank=10)
    q = (spark.readStream.schema("vec_id long, embedding array<double>")
         .option("maxFilesPerTrigger", 1).parquet(src)
         .writeStream.foreachBatch(apply_fn)
         .option("checkpointLocation", os.path.join(tmpdir, "ann_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {r.vec_id: (r.match_id, r.cosine_sim)
           for r in spark.read.parquet(os.path.join(root, "matches")).collect()}
    # 10 copies 0 (batch 0); 20 copies 1 (batch 0), 21 copies 11
    # (batch 1) — ties to earlier ids are impossible (exact copies
    # score 1.0, novel vectors are random-normal and far from 0.98)
    assert set(got) == {10, 20, 21}
    assert got[10][0] == 0 and got[10][1] == 1.0
    assert got[20][0] == 1 and got[20][1] == 1.0
    assert got[21][0] == 11 and got[21][1] == 1.0
    # crash-replay of the last batch: identical results, no self-match
    last = spark.createDataFrame(batches[-1], "vec_id long, embedding array<double>")
    apply_fn(last, len(batches) - 1)
    again = {r.vec_id: (r.match_id, r.cosine_sim)
             for r in spark.read.parquet(os.path.join(root, "matches")).collect()}
    assert again == got


def test_stream_ann_ingest_fat_batch_guard(spark, tmpdir):
    """Two r12 hardening contracts of the vector ingest loop: (1) a
    micro-batch wider than ``max_query_rows`` raises a clear ValueError
    (the probe collects the query side driver-side — before the guard a
    fat batch was a silent driver OOM); (2) landed-history detection
    resolves ``root`` through the Hadoop FileSystem API, so a
    scheme-qualified URI (``file:`` here, standing in for the
    ``hdfs://``/``s3a://`` roots the loop advertises) still sees prior
    batches instead of silently probing nothing (ADVICE r11)."""
    import numpy as np

    from comix_etl_spark.operators.similarity import (
        train_ivf_centroids, train_residual_codebooks)
    from comix_etl_spark.streaming.windowed import (
        _prior_batches_exist, foreach_batch_ann_ingest)

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(6)]
    train = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centers = train_ivf_centroids(train, n_centroids=2, normalize=True)
    books = train_residual_codebooks(train, centers, m=2, k=4)
    root = "file:" + os.path.join(tmpdir, "ann_root")  # scheme'd URI
    apply_fn = foreach_batch_ann_ingest(root, centers, books,
                                        max_query_rows=4)
    apply_fn(train.limit(3), 0)  # batch 0: lands, nothing to probe
    # the os.path.isdir formulation saw False for ANY scheme'd URI —
    # every batch would probe nothing and emit zero matches
    assert _prior_batches_exist(spark, os.path.join(root, "codes"), 1)
    assert not _prior_batches_exist(spark, os.path.join(root, "codes"), 0)
    with pytest.raises(ValueError, match="max_query_rows"):
        apply_fn(train, 1)  # 6 query rows > max_query_rows=4
    # a planted copy of a landed vector IS matched through the
    # scheme-qualified root — history genuinely probed, not skipped
    copy = spark.createDataFrame([(100, rows[0][1])],
                                 "vec_id long, embedding array<double>")
    apply_fn(copy, 1)
    got = spark.read.parquet(os.path.join(root, "matches")).collect()
    assert {(r.vec_id, r.match_id) for r in got} == {(100, 0)}


def test_prior_batches_exist_scheme_uri_forms(spark, tmpdir):
    """Direct lock on the r12 remote-FS fix (VERDICT r12 #7):
    ``_prior_batches_exist`` must resolve BOTH ``file:/p`` and
    ``file:///p`` URI forms through the Hadoop FileSystem API — a
    regression to ``os.path``-based probing returns False for any
    scheme'd URI and every micro-batch would silently probe nothing
    (the worst failure mode for a dedup gate)."""
    from comix_etl_spark.streaming.windowed import _prior_batches_exist

    root = os.path.join(tmpdir, "hist_root")
    os.makedirs(os.path.join(root, "batch_id=0"))
    os.makedirs(os.path.join(root, "batch_id=3"))
    os.makedirs(os.path.join(root, "not_a_batch"))
    for uri in (root, "file:" + root, "file://" + root):
        assert _prior_batches_exist(spark, uri, 1), uri
        assert _prior_batches_exist(spark, uri, 4), uri
        assert not _prior_batches_exist(spark, uri, 0), uri
    assert not _prior_batches_exist(
        spark, "file://" + os.path.join(tmpdir, "absent"), 5)


def test_foreach_batch_drift_flags_shifted_batch(spark, tmpdir):
    """Per-micro-batch PSI monitoring: a batch drawn from the reference
    distribution scores near zero; a shifted batch scores high. Also
    checks the append contract (one metrics row per batch)."""
    import glob as _glob

    from comix_etl_spark.streaming.windowed import foreach_batch_drift

    src = os.path.join(tmpdir, "drift_src")
    metrics = os.path.join(tmpdir, "drift_metrics")
    os.makedirs(src)

    def write_file(name, values):
        tmp = tempfile.mkdtemp(prefix="drf_")
        spark.createDataFrame([(float(v),) for v in values], "value double") \
            .coalesce(1).write.mode("overwrite").parquet(f"{tmp}/d")
        part = _glob.glob(f"{tmp}/d/part-*.parquet")[0]
        shutil.move(part, os.path.join(src, name))
        shutil.rmtree(tmp, ignore_errors=True)

    # reference: uniform over [0, 100) — deciles every 10, share 0.1
    ref_edges = [10.0 * k for k in range(1, 10)]
    ref_shares = [0.1] * 10
    write_file("b1.parquet", [i % 100 + 0.5 for i in range(1000)])   # matches ref
    write_file("b2.parquet", [i % 30 + 0.5 for i in range(1000)])    # shifted low

    q = (spark.readStream.schema("value double")
         .option("maxFilesPerTrigger", 1).parquet(src)
         .writeStream.foreachBatch(
             foreach_batch_drift(metrics, ref_edges, ref_shares))
         .option("checkpointLocation", os.path.join(tmpdir, "drift_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    rows = sorted(spark.read.parquet(metrics).collect(),
                  key=lambda r: r.batch_id)
    assert len(rows) == 2 and all(r.n_rows == 1000 for r in rows)
    psis = [r.psi_e6 for r in rows]
    assert min(psis) < 20_000, psis       # in-distribution batch ~0 PSI
    assert max(psis) > 500_000, psis      # shifted batch screams

    # replay idempotence: re-delivering batch 1 (same batch_id) must
    # REPLACE its metric row, not append a duplicate
    replay = spark.createDataFrame(
        [(float(i % 30) + 0.5,) for i in range(1000)], "value double")
    foreach_batch_drift(metrics, ref_edges, ref_shares)(replay, 1)
    assert spark.read.parquet(metrics).count() == 2


def test_foreach_batch_drift_validates_edges_and_ignores_nulls(spark, tmpdir):
    """ADVICE r6: (1) a full edge list (len == n_bins) must be rejected
    at construction — rows would land in a phantom bucket that deflates
    every p_cur; (2) NULL values must not inflate bucket 0."""
    import glob as _glob

    import pytest

    from comix_etl_spark.streaming.windowed import foreach_batch_drift

    with pytest.raises(ValueError, match="interior edges"):
        foreach_batch_drift("/tmp/x", [0.0, 10.0], [0.5, 0.5])

    src = os.path.join(tmpdir, "driftnull_src")
    metrics = os.path.join(tmpdir, "driftnull_metrics")
    os.makedirs(src)
    tmp = tempfile.mkdtemp(prefix="drfn_")
    vals = [float(i % 100) + 0.5 for i in range(1000)] + [None] * 500
    spark.createDataFrame([(v,) for v in vals], "value double") \
        .coalesce(1).write.mode("overwrite").parquet(f"{tmp}/d")
    shutil.move(_glob.glob(f"{tmp}/d/part-*.parquet")[0],
                os.path.join(src, "b1.parquet"))
    shutil.rmtree(tmp, ignore_errors=True)

    ref_edges = [10.0 * k for k in range(1, 10)]
    q = (spark.readStream.schema("value double").parquet(src)
         .writeStream.foreachBatch(
             foreach_batch_drift(metrics, ref_edges, [0.1] * 10))
         .option("checkpointLocation", os.path.join(tmpdir, "driftnull_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    (row,) = spark.read.parquet(metrics).collect()
    # 500 NULLs excluded: distribution matches reference, PSI ~ 0.
    # Pre-fix they inflate bucket 0 to 600/1500 and PSI blows past 0.5.
    assert row.psi_e6 < 20_000, row


def test_foreach_batch_heavy_hitters_merged_summary(spark, tmpdir):
    """The cross-batch MG summary must (a) contain every value whose
    TOTAL stream count clears the N/(capacity+1) survival threshold,
    even when each batch alone drowns it in noise, and (b) stay within
    capacity rows."""
    import glob as _glob

    from comix_etl_spark.streaming.windowed import foreach_batch_heavy_hitters

    src = os.path.join(tmpdir, "hh_src")
    summary = os.path.join(tmpdir, "hh_summary")
    os.makedirs(src)

    def write_file(name, values):
        tmp = tempfile.mkdtemp(prefix="hhs_")
        spark.createDataFrame([(v,) for v in values], "value string") \
            .coalesce(1).write.mode("overwrite").parquet(f"{tmp}/d")
        shutil.move(_glob.glob(f"{tmp}/d/part-*.parquet")[0],
                    os.path.join(src, name))
        shutil.rmtree(tmp, ignore_errors=True)

    # 3 batches: per-batch the hot values are a small minority among
    # 600 distinct noise values; across batches they dominate
    truth: dict = {}
    for b in range(3):
        vals = []
        for j in range(6):
            vals += [f"hot{j}"] * 120
        vals += [f"noise_{b}_{i}" for i in range(600)]
        for v in vals:
            truth[v] = truth.get(v, 0) + 1
        write_file(f"b{b}.parquet", vals)

    q = (spark.readStream.schema("value string")
         .option("maxFilesPerTrigger", 1).parquet(src)
         .writeStream.foreachBatch(
             foreach_batch_heavy_hitters(summary, capacity=64))
         .option("checkpointLocation", os.path.join(tmpdir, "hh_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    rows = spark.read.parquet(summary).collect()
    assert len(rows) <= 64
    got = {r.value: r.weight for r in rows}
    n_total = sum(truth.values())
    survivors_due = {v for v, c in truth.items() if c > n_total / 65}
    assert survivors_due <= set(got), sorted(survivors_due - set(got))
    # weights undercount by at most the threshold, never overcount
    for v in survivors_due:
        assert truth[v] >= got[v] > truth[v] - n_total / 65

    # replay idempotence: re-folding the last batch (same batch_id)
    # must be a no-op, not a double-count
    replay = spark.createDataFrame([("hot0",)] * 120, "value string")
    foreach_batch_heavy_hitters(summary, capacity=64)(replay, 2)
    assert {r.value: r.weight
            for r in spark.read.parquet(summary).collect()} == got


def test_foreach_batch_cms_merges_exactly(spark, tmpdir):
    """The cross-batch CMS sketch must be bit-identical to one built
    over the concatenated stream (cell-wise merge is exact), and point
    queries through it keep the never-undercount guarantee."""
    import glob as _glob

    from comix_etl_spark.operators.profile import cms_cells, cms_estimate
    from comix_etl_spark.streaming.windowed import foreach_batch_cms

    src = os.path.join(tmpdir, "cms_src")
    sketch = os.path.join(tmpdir, "cms_sketch")
    os.makedirs(src)
    all_vals = []

    def write_file(name, values):
        all_vals.extend(values)
        tmp = tempfile.mkdtemp(prefix="cms_")
        spark.createDataFrame([(v,) for v in values], "value string") \
            .coalesce(1).write.mode("overwrite").parquet(f"{tmp}/d")
        shutil.move(_glob.glob(f"{tmp}/d/part-*.parquet")[0],
                    os.path.join(src, name))
        shutil.rmtree(tmp, ignore_errors=True)

    for b in range(3):
        write_file(f"b{b}.parquet",
                   [f"k{i % 23}" for i in range(b * 7, 400 + b * 7)])

    q = (spark.readStream.schema("value string")
         .option("maxFilesPerTrigger", 1).parquet(src)
         .writeStream.foreachBatch(
             foreach_batch_cms(sketch, depth=4, width=32))
         .option("checkpointLocation", os.path.join(tmpdir, "cms_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    streamed = {(r.depth_i, r.bucket): r.c
                for r in spark.read.parquet(sketch).collect()}
    whole_df = spark.createDataFrame([(v,) for v in all_vals], "value string")
    whole = {(r.depth_i, r.bucket): r.c
             for r in cms_cells(whole_df, "value", depth=4, width=32).collect()}
    assert streamed == whole

    # replay idempotence: re-folding the last batch (same batch_id)
    # must be a no-op — without the guard every cell double-counts it
    replay = spark.createDataFrame(
        [(f"k{i % 23}",) for i in range(14, 414)], "value string")
    foreach_batch_cms(sketch, depth=4, width=32)(replay, 2)
    assert {(r.depth_i, r.bucket): r.c
            for r in spark.read.parquet(sketch).collect()} == whole

    truth = whole_df.groupBy("value").agg(F.count(F.lit(1)).alias("true_n"))
    est = cms_estimate(spark.read.parquet(sketch), truth.select("value"),
                       "value", depth=4, width=32)
    for r in truth.join(est, "value").collect():
        assert r.cms_est >= r.true_n


def test_heavy_hitters_sink_stamp_survives_empty_trim(spark, tmpdir):
    """If the MG trim legitimately empties the summary (all merged
    counts tie at the trim threshold), the replay-guard stamp must
    survive the 0-row state write: replaying the same batch stays a
    no-op, and the NEXT batch folds into the empty state normally."""
    from comix_etl_spark.streaming.windowed import foreach_batch_heavy_hitters

    summary = os.path.join(tmpdir, "hh_empty")
    sink = foreach_batch_heavy_hitters(summary, capacity=2)
    tied = spark.createDataFrame(
        [("a",), ("a",), ("b",), ("b",), ("c",), ("c",)], "value string")
    sink(tied, 0)
    assert spark.read.parquet(summary).count() == 0  # trim emptied it
    # replay of batch 0 must be a no-op even with a 0-row state
    sink(tied, 0)
    assert spark.read.parquet(summary).count() == 0
    # a NEW batch folds normally
    nxt = spark.createDataFrame([("d",)] * 5, "value string")
    sink(nxt, 1)
    got = {r.value: r.weight for r in spark.read.parquet(summary).collect()}
    assert got == {"d": 5}
    # and replaying batch 0 AFTER batch 1 is still a no-op
    sink(tied, 0)
    assert {r.value: r.weight
            for r in spark.read.parquet(summary).collect()} == got


def test_attach_binary_metadata_riff_disambiguation(spark):
    """RIFF is a container: WebP images and AVI video must not be
    classified audio/wav."""
    rows = [
        (1, bytearray(b"RIFF\x00\x00\x00\x00WAVEfmt ")),
        (2, bytearray(b"RIFF\x00\x00\x00\x00WEBPVP8 ")),
        (3, bytearray(b"RIFF\x00\x00\x00\x00AVI LIST")),
        (4, bytearray(b"RIFF\x00\x00\x00\x00????....")),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    m = {r.media_id: r.meta.mime for r in attach_binary_metadata(df).collect()}
    assert m == {1: "audio/wav", 2: "image/webp", 3: "video/x-msvideo",
                 4: "application/octet-stream"}


def test_pipeline_cold_start_only_on_absent_target(spark, tmpdir):
    """A corrupt/unreadable existing target must ABORT the run, not be
    treated as a cold start whose overwrite destroys the table."""
    raw = read_marvel_comics(spark, JSONL)
    target = os.path.join(tmpdir, "issues_corrupt")
    os.makedirs(target)
    with open(os.path.join(target, "part-00000.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    audit = os.path.join(tmpdir, "audit")
    with pytest.raises(Exception):
        run_marvel_batch(spark, raw, target_path=target, audit_path=audit,
                         expected_min=30)
    # the corrupt-but-present directory was NOT replaced by the batch
    with open(os.path.join(target, "part-00000.parquet"), "rb") as f:
        assert f.read() == b"not a parquet file"


def test_pipeline_cold_start_never_reads_absent_target(spark, tmpdir,
                                                       monkeypatch):
    """Cold start is decided from the driver-side footer read: Spark is
    never asked to read an absent target (a failed read logs a listener
    error trace per run). A second run on the same target is warm and
    reads it once."""
    from pyspark.sql.readwriter import DataFrameReader

    reads = []
    parquet = DataFrameReader.parquet

    def spy(self, *paths, **options):
        reads.extend(paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    raw = read_marvel_comics(spark, JSONL)
    target = os.path.join(tmpdir, "issues")
    audit = os.path.join(tmpdir, "audit")
    r = run_marvel_batch(spark, raw, target_path=target, audit_path=audit)
    assert r.records_loaded == 40 and target not in reads
    r = run_marvel_batch(spark, raw, target_path=target, audit_path=audit)
    assert r.records_loaded == 40 and reads.count(target) == 1


def test_foreach_batch_upsert_null_partition_preserved(spark, tmpdir):
    """NULL IN (...) is never true: a batch touching the NULL partition
    must still merge against the existing NULL-partition rows instead
    of overwriting __HIVE_DEFAULT_PARTITION__ from the batch alone."""
    target = os.path.join(tmpdir, "nullpart")
    sink = foreach_batch_upsert(target, key=["k"], update_cols=["v"],
                                partition_col="day")
    b1 = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", None), (3, "c", None)],
        "k int, v string, day string")
    sink(b1, 0)
    b2 = spark.createDataFrame([(3, "C2", None)], "k int, v string, day string")
    sink(b2, 1)
    out = {r.k: (r.v, r.day) for r in spark.read.parquet(target).collect()}
    # k=2 (existing NULL-partition row NOT in the batch) must survive
    assert out == {1: ("a", "d1"), 2: ("b", None), 3: ("C2", None)}


def test_foreach_batch_upsert_aborts_on_unreadable_target(spark, tmpdir):
    target = os.path.join(tmpdir, "upsert_corrupt")
    os.makedirs(target)
    with open(os.path.join(target, "part-00000.parquet"), "wb") as f:
        f.write(b"garbage")
    sink = foreach_batch_upsert(target, key=["k"], update_cols=["v"])
    b = spark.createDataFrame([(1, "a")], "k int, v string")
    with pytest.raises(Exception):
        sink(b, 0)      # present-but-unreadable: abort, don't overwrite
    with open(os.path.join(target, "part-00000.parquet"), "rb") as f:
        assert f.read() == b"garbage"


def test_rest_datasource_rejects_short_pages(spark):
    """page_size above the fetcher's cap must fail loud, not silently
    land a fraction of the records."""
    from comix_etl_spark.sources.python_datasource import register

    register(spark)
    df = (spark.read.format("comix_rest_pages")
          .option("total", "400").option("page_size", "200")
          .option("fetcher", "fake_marvel").load())
    with pytest.raises(Exception, match="short page"):
        df.count()


def test_foreach_batch_drift_rejects_legacy_root_layout(spark, tmpdir):
    """ADVICE r7: the r7 sink writes batch_id=N partition dirs; pointing
    it at a metrics table written by the pre-r7 append-style sink
    (root-level data files) would create a mixed layout that
    spark.read.parquet cannot read — the sink must fail loud instead."""
    import pytest

    from comix_etl_spark.streaming.windowed import foreach_batch_drift

    metrics = os.path.join(tmpdir, "legacy_metrics")
    # simulate the legacy layout: root-level parquet data files with a
    # batch_id data column
    spark.createDataFrame(
        [(0, 1000, 12)], "batch_id long, n_rows long, psi_e6 long"
    ).coalesce(1).write.mode("overwrite").parquet(metrics)

    batch = spark.createDataFrame(
        [(float(i % 100) + 0.5,) for i in range(100)], "value double")
    sink = foreach_batch_drift(metrics, [10.0 * k for k in range(1, 10)],
                               [0.1] * 10)
    with pytest.raises(ValueError, match="legacy append-style layout"):
        sink(batch, 1)
