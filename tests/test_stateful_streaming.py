"""applyInPandasWithState sessionizer: state must carry ACROSS
micro-batches — a session spanning two batches continues, a gap closes
it, and closed sessions are emitted exactly once."""

from __future__ import annotations

import datetime as dt
import os

from comix_etl_spark.streaming.stateful import sessionize_stateful


def _write_batch(spark, path, rows):
    """Write one FLAT parquet file at ``path`` (the file stream source
    lists plain files; a df.write directory would be skipped)."""
    import glob
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="stateful_batch_")
    spark.createDataFrame(rows, "user_id long, ts timestamp") \
         .coalesce(1).write.mode("overwrite").parquet(f"{tmp}/d")
    part = glob.glob(f"{tmp}/d/part-*.parquet")[0]
    shutil.move(part, path)
    shutil.rmtree(tmp, ignore_errors=True)


def test_state_carries_across_microbatches(spark, tmp_path):
    src = str(tmp_path / "events_stream")
    os.makedirs(src, exist_ok=True)
    # batch 1: u1 two events 5 min apart (one open session)
    _write_batch(spark, f"{src}/b1.parquet", [
        (1, dt.datetime(2024, 1, 1, 10, 0, 0)),
        (1, dt.datetime(2024, 1, 1, 10, 5, 0)),
    ])
    # batch 2: u1 continues within gap (10:20), then jumps 2h (12:30) → new session
    _write_batch(spark, f"{src}/b2.parquet", [
        (1, dt.datetime(2024, 1, 1, 10, 20, 0)),
        (1, dt.datetime(2024, 1, 1, 12, 30, 0)),
    ])

    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (sessionize_stateful(stream, gap_minutes=30)
         .writeStream.outputMode("update").format("memory")
         .queryName("t_state_carry").trigger(availableNow=True).start())
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM t_state_carry").collect()

    closed = [r for r in rows if not r.is_open]
    assert len(closed) == 1  # session 1 closed by the 2h jump
    assert closed[0].session_id == 1 and closed[0].n_events == 3  # 10:00,10:05,10:20 merged ACROSS batches
    open_snaps = [r for r in rows if r.is_open]
    final_open = max(open_snaps, key=lambda r: (r.session_id, r.n_events))
    assert final_open.session_id == 2 and final_open.n_events == 1  # 12:30


def test_batch_order_within_group_is_sorted(spark, tmp_path):
    """Events arriving out of order WITHIN one batch are sorted before
    folding, so session assembly is deterministic."""
    src = str(tmp_path / "events_unordered")
    os.makedirs(src, exist_ok=True)
    _write_batch(spark, f"{src}/b1.parquet", [
        (7, dt.datetime(2024, 1, 1, 12, 0, 0)),   # later first
        (7, dt.datetime(2024, 1, 1, 9, 0, 0)),
        (7, dt.datetime(2024, 1, 1, 9, 10, 0)),
    ])
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    q = (sessionize_stateful(stream, gap_minutes=30)
         .writeStream.outputMode("update").format("memory")
         .queryName("t_state_sorted").trigger(availableNow=True).start())
    q.awaitTermination()
    rows = {(r.session_id, r.is_open): r for r in spark.sql(
        "SELECT * FROM t_state_sorted WHERE user_id = 7").collect()}
    assert rows[(1, False)].n_events == 2   # 9:00 + 9:10
    assert rows[(2, True)].n_events == 1    # 12:00 open


def test_rocksdb_state_store_provider(spark, tmp_path):
    """The production state store (session.py: set
    spark.sql.streaming.stateStore.providerClass in the Spark conf):
    run a stateful windowed count with the
    RocksDB provider active and assert (a) results are identical to
    what the default provider computes, (b) the provider actually
    engaged (RocksDB custom metrics appear in the query progress).
    At 100x state volume the default HDFS-backed provider holds every
    key on-heap; RocksDB spills to disk and checkpoints incrementally."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "rocks_stream")
    os.makedirs(src, exist_ok=True)
    _write_batch(spark, f"{src}/b1.parquet", [
        (u, dt.datetime(2024, 1, 1, 10, m, 0))
        for u in (1, 2) for m in (0, 1, 12, 13)])

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")
    try:
        stream = (spark.readStream.schema("user_id long, ts timestamp")
                  .parquet(src))
        agg = (stream.withWatermark("ts", "1 minute")
               .groupBy(F.window("ts", "10 minutes").alias("w"), "user_id")
               .agg(F.count(F.lit(1)).alias("n")))
        q = (agg.writeStream.outputMode("complete").format("memory")
             .queryName("t_rocksdb").trigger(availableNow=True).start())
        q.awaitTermination()
        got = {(r.user_id, r.w.start.minute, r.n)
               for r in spark.sql("SELECT user_id, w, n FROM t_rocksdb").collect()}
        assert got == {(1, 0, 2), (1, 10, 2), (2, 0, 2), (2, 10, 2)}
        metrics = q.lastProgress["stateOperators"][0]["customMetrics"]
        assert any("rocksdb" in k.lower() for k in metrics), metrics
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev)


def test_event_time_timeout_closes_silent_user(spark, tmp_path):
    """24/7 operation: a user who goes SILENT must still get their open
    session closed (and their state dropped) once the watermark passes
    last-event + timeout — otherwise dormant users hold state forever.
    u1 stops at 10:05; u2's later events push the watermark past u1's
    11:05 timeout, and the timeout callback emits u1's session closed."""
    src = str(tmp_path / "timeout_stream")
    os.makedirs(src, exist_ok=True)
    _write_batch(spark, f"{src}/b1.parquet", [
        (1, dt.datetime(2024, 1, 1, 10, 0, 0)),
        (1, dt.datetime(2024, 1, 1, 10, 5, 0)),
    ])
    _write_batch(spark, f"{src}/b2.parquet", [
        (2, dt.datetime(2024, 1, 1, 13, 0, 0)),
    ])
    _write_batch(spark, f"{src}/b3.parquet", [
        (2, dt.datetime(2024, 1, 1, 13, 30, 0)),
    ])

    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(src)
              .withWatermark("ts", "1 minute"))
    q = (sessionize_stateful(stream, gap_minutes=30, timeout_minutes=60)
         .writeStream.outputMode("update").format("memory")
         .queryName("t_state_timeout").trigger(availableNow=True).start())
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM t_state_timeout").collect()

    u1_closed = [r for r in rows if r.user_id == 1 and not r.is_open]
    assert len(u1_closed) == 1, rows
    assert u1_closed[0].n_events == 2
    assert u1_closed[0].end_ts == dt.datetime(2024, 1, 1, 10, 5, 0)
    # u2 stayed active — never closed by timeout
    assert not [r for r in rows if r.user_id == 2 and not r.is_open]


def test_timeout_clamped_when_watermark_delay_exceeds_timeout(spark, tmp_path):
    """ADVICE r6: with watermark DELAY > timeout, an accepted-late event's
    ts + timeout can trail the current watermark; setTimeoutTimestamp
    would throw IllegalArgumentException and kill the query. The clamp
    (max with watermark + 1 ms) must keep the query alive AND still
    close the session once the watermark advances.

    b1: u2@13:00 -> watermark after b1 = 11:00 (2 h delay). b2: u1@9:00
    arrives (stateful ops do not auto-drop late rows); unclamped timeout
    would be 9:01 < 11:00 -> crash. b3: u2@16:00 pushes the watermark to
    14:00 so the final no-data batch fires u1's (clamped) timeout."""
    src = str(tmp_path / "clamp_stream")
    os.makedirs(src, exist_ok=True)
    _write_batch(spark, f"{src}/b1.parquet", [
        (2, dt.datetime(2024, 1, 1, 13, 0, 0)),
    ])
    _write_batch(spark, f"{src}/b2.parquet", [
        (1, dt.datetime(2024, 1, 1, 9, 0, 0)),
    ])
    _write_batch(spark, f"{src}/b3.parquet", [
        (2, dt.datetime(2024, 1, 1, 16, 0, 0)),
    ])

    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(src)
              .withWatermark("ts", "2 hours"))
    q = (sessionize_stateful(stream, gap_minutes=30, timeout_minutes=1)
         .writeStream.outputMode("update").format("memory")
         .queryName("t_state_clamp").trigger(availableNow=True).start())
    q.awaitTermination()  # unclamped: StreamingQueryException here
    rows = spark.sql("SELECT * FROM t_state_clamp").collect()

    u1_closed = [r for r in rows if r.user_id == 1 and not r.is_open]
    assert len(u1_closed) == 1, rows
    assert u1_closed[0].end_ts == dt.datetime(2024, 1, 1, 9, 0, 0)


def test_null_timestamps_are_dropped_not_folded(spark, tmp_path):
    """A NULL ts becomes NaT (int64-min ns) — folding it would open a
    session at -2^63/1000 us and crash the query on emit; it must be
    dropped before the fold."""
    src = str(tmp_path / "nat_stream")
    os.makedirs(src, exist_ok=True)
    _write_batch(spark, f"{src}/b1.parquet", [
        (1, dt.datetime(2024, 1, 1, 10, 0, 0)),
        (1, None),
        (1, dt.datetime(2024, 1, 1, 10, 5, 0)),
    ])
    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .parquet(src))
    q = (sessionize_stateful(stream, gap_minutes=30)
         .writeStream.outputMode("update").format("memory")
         .queryName("t_nat").trigger(availableNow=True).start())
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM t_nat").collect()
    assert rows, "query must not crash on the NULL ts"
    assert all(r.n_events == 2 for r in rows)       # NULL row excluded
    assert all(r.start_ts.year == 2024 for r in rows)
