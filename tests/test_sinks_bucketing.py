"""Bucketed-table join elision: the scale claim ("bucketing pays the
shuffle once at write") asserted against the PHYSICAL PLAN, not prose —
a join of two co-bucketed tables must contain no Exchange."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from comix_etl_spark.sinks.writers import save_bucketed_table


def _plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_exchange(spark):
    facts = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v"))
    dims = spark.range(0, 1_000).select(
        F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("name"))
    save_bucketed_table(facts, "bt_facts", ["k"], 8, sort_cols=["k"])
    save_bucketed_table(dims, "bt_dims", ["k"], 8, sort_cols=["k"])
    try:
        # broadcast would hide the point — force the shuffle-join path
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bt_facts").join(spark.table("bt_dims"), "k")
        plan = _plan_of(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == 1_000
        # aggregation on the bucket key also reuses the layout: no Exchange
        agg = spark.table("bt_facts").groupBy("k").agg(F.sum("v").alias("s"))
        assert "Exchange" not in _plan_of(agg)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS bt_facts")
        spark.sql("DROP TABLE IF EXISTS bt_dims")


def test_clear_orphan_table_dir_refuses_append(spark, tmp_path, monkeypatch):
    """A managed-table directory left by a PRIOR session (catalog has no
    entry): overwrite clears it, but append must REFUSE — rmtree'ing it
    would silently replace the store the caller meant to grow with just
    the new batch (the r10 advisory on persist_ivf_pq_store)."""
    import os

    import pytest as _pt

    from comix_etl_spark.sinks.writers import clear_orphan_table_dir

    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    local = wh[len("file:"):] if wh.startswith("file:") else wh
    orphan = os.path.join(local, "orphan_store_t")
    os.makedirs(orphan, exist_ok=True)
    try:
        with _pt.raises(ValueError, match="refusing"):
            clear_orphan_table_dir(spark, "orphan_store_t", "append")
        assert os.path.isdir(orphan)  # refused WITHOUT deleting
        clear_orphan_table_dir(spark, "orphan_store_t", "overwrite")
        assert not os.path.isdir(orphan)
    finally:
        import shutil

        shutil.rmtree(orphan, ignore_errors=True)


def test_schema_evolution_merge_read(spark):
    """Parquet schema evolution: a landing zone whose later batches add
    a column must read as ONE table with mergeSchema, old rows
    null-backfilled — the append-only bronze contract (new fields appear
    mid-stream; history never rewrites)."""
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="schema_evo_")
    try:
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string") \
            .write.mode("overwrite").parquet(f"{tmp}/batch=1")
        spark.createDataFrame([(3, "c", 30.5)], "id int, name string, score double") \
            .write.mode("overwrite").parquet(f"{tmp}/batch=2")
        merged = (spark.read.option("mergeSchema", "true")
                  .option("basePath", tmp).parquet(f"{tmp}/batch=*"))
        assert set(merged.columns) == {"id", "name", "score", "batch"}
        rows = {r["id"]: (r["score"], r["batch"]) for r in merged.collect()}
        assert rows[1] == (None, 1)    # old rows: new column null-backfilled
        assert rows[3] == (30.5, 2)
        # pruning still works on the evolved table
        assert merged.filter("batch = 2").count() == 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_safe_overwrite_preserves_copies_when_swap_and_rollback_fail(spark, monkeypatch):
    """Data-loss guard: if the staging->target rename fails AND the
    rollback fails, BOTH the old table (trash) and the new one
    (staging) must survive for manual recovery — the old finally block
    deleted them unconditionally."""
    import glob
    import os as _os
    import tempfile

    from comix_etl_spark.sinks.writers import safe_overwrite_parquet

    tmp = tempfile.mkdtemp(prefix="swapfail_")
    target = _os.path.join(tmp, "t")
    spark.createDataFrame([(1,)], "k long").write.parquet(target)

    real_rename = _os.rename
    calls = {"n": 0}

    def failing_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 1:          # target -> trash: succeeds
            return real_rename(src, dst)
        raise OSError("simulated EIO")  # swap AND rollback fail

    monkeypatch.setattr(_os, "rename", failing_rename)
    df = spark.createDataFrame([(2,)], "k long")
    try:
        safe_overwrite_parquet(df, target)
        raise AssertionError("expected OSError")
    except OSError:
        pass
    finally:
        monkeypatch.setattr(_os, "rename", real_rename)
    staging = glob.glob(f"{target}__staging_*")
    trash = glob.glob(f"{target}__trash_*")
    assert staging and trash, "copies must be PRESERVED after failed swap"
    assert {r.k for r in spark.read.parquet(trash[0]).collect()} == {1}
    assert {r.k for r in spark.read.parquet(staging[0]).collect()} == {2}
    import shutil as _sh
    _sh.rmtree(tmp, ignore_errors=True)


def test_binary_sink_rejects_path_traversal(spark):
    import tempfile

    import pytest

    from comix_etl_spark.sinks.writers import write_binary_payloads

    with tempfile.TemporaryDirectory(prefix="bsink_") as root:
        df = spark.createDataFrame(
            [("../escape.bin", bytearray(b"x"))],
            "cover_path string, payload binary")
        with pytest.raises(Exception, match="escapes dest_root"):
            write_binary_payloads(df, root)


def test_bucketed_write_lands_one_file_per_bucket(spark):
    """r14 small-files guard: save_bucketed_table repartitions by the
    bucket columns, so a many-partition input must land exactly
    n_buckets data files — not tasks x buckets (a 32-partition build
    measured 123 files before the fix, and every probe paid the
    listing/open cost)."""
    import glob
    import os

    from comix_etl_spark.sinks.writers import clear_orphan_table_dir

    clear_orphan_table_dir(spark, "bt_onefile", "overwrite")
    rows = spark.range(0, 5_000).repartition(16).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    try:
        save_bucketed_table(rows, "bt_onefile", ["k"], 8, sort_cols=["k"])
        loc = (spark.sql("DESCRIBE TABLE EXTENDED bt_onefile")
               .filter(F.col("col_name") == "Location")
               .first().data_type)
        files = glob.glob(os.path.join(loc.replace("file:", ""), "*.parquet"))
        assert len(files) == 8, sorted(os.path.basename(f) for f in files)
        assert spark.table("bt_onefile").count() == 5_000
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_onefile")
