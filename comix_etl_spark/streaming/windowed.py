"""Streaming operators: watermarked tumbling-window aggregation and
foreachBatch incremental merge.

Batch/stream parity is the design invariant: ``stream_windowed_counts``
over a finite parquet directory must produce exactly the batch
``date_trunc`` rollup (asserted against the DuckDB oracle in the
registry). That parity is what makes the operator trustworthy at scale —
a backfill (batch) and the live stream agree by construction.

Scale notes: the window aggregate shuffles on (window, key) — state is
bounded by the watermark horizon; ``foreach_batch_upsert`` reuses
operators/merge.py so the incremental path and the batch path share one
merge implementation.
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from comix_etl_spark.operators.merge import upsert_selective


@contextmanager
def stream_shuffle_partitions(spark: SparkSession, n: int):
    """Temporarily size ``spark.sql.shuffle.partitions`` for a stateful
    streaming query. Stateful stages key their state store to this
    number at FIRST run and AQE cannot coalesce them, so the batch
    default (≈ core count) pays per-partition state overhead forever.
    Size it to the stream's key cardinality / throughput instead —
    measured 3× on the interval join at bench volume."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _prior_batches_exist(spark: SparkSession, path: str,
                         batch_id: int) -> bool:
    """True iff ``path`` holds a ``batch_id=N`` child with N < the
    current batch — the ingest loops' "is there landed history to probe"
    check. Resolved through the Hadoop FileSystem API, NOT ``os.*``:
    the loops advertise object-store roots (hdfs://, s3a://), where a
    driver-local ``os.path.isdir`` is always False and every micro-batch
    would silently probe nothing and emit zero matches — the worst
    failure mode for a dedup gate. The Hadoop FS call honors whatever
    scheme ``path`` carries (file:/local paths included), so the same
    code path is exercised by the local pytests."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return False
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if name.startswith("batch_id="):
            try:
                if int(name.split("=", 1)[1]) < batch_id:
                    return True
            except ValueError:
                continue
    return False


def stream_windowed_counts(events: DataFrame, *, ts_col: str = "ts",
                           key_col: str = "event_type", window: str = "1 hour",
                           watermark: str = "2 hours",
                           slide: str | None = None,
                           value_col: str = "value") -> DataFrame:
    """Tumbling (or, with ``slide``, SLIDING/hopping) window count+sum
    per key with a late-data watermark. A slide of w/s replicates each
    event into w/s overlapping windows — state grows by the same factor,
    which is why the watermark matters more for sliding aggregations.

    Works on both a streaming and a batch DataFrame (the watermark is a
    no-op in batch) — the parity contract above.
    """
    win = (F.window(ts_col, window, slide) if slide
           else F.window(ts_col, window))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(F.col(value_col).cast("decimal(18,4)")).cast("double").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), key_col, "n_events", "sum_value")
    )


def run_stream_to_memory(spark: SparkSession, source_dir: str, schema,
                         transform: Callable[[DataFrame], DataFrame],
                         *, query_name: str = "stream_out", glob: str | None = None,
                         ts_fix: Callable[[DataFrame], DataFrame] | None = None,
                         output_mode: str = "complete") -> DataFrame:
    """Drive a file-source stream to completion synchronously (availableNow
    → memory sink) and return the result as a DataFrame. The local test
    harness for any streaming operator; in production the same transform
    writes to a real sink with a checkpoint dir.

    The file source needs a DIRECTORY; use ``glob`` to select specific
    files within it."""
    reader = spark.readStream.schema(schema)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.parquet(source_dir)
    if ts_fix is not None:
        raw = ts_fix(raw)
    q = (
        transform(raw)
        .writeStream.outputMode(output_mode)
        .format("memory").queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {query_name}")


def run_stream_foreach_batch(spark: SparkSession, source_dir: str, schema,
                             apply_fn, *, glob: str | None = None,
                             checkpoint: str | None = None,
                             ts_fix: Callable[[DataFrame], DataFrame] | None = None) -> None:
    """Drive a file-source stream through a foreachBatch sink to
    completion (availableNow) — the harness counterpart of
    run_stream_to_memory for sinks that own their output (parquet
    upsert, drift metrics, ANN probe results). ``checkpoint`` should be
    a caller-owned dir for restart semantics; None lets Spark allocate
    a temp checkpoint (fine for one-shot availableNow runs)."""
    reader = spark.readStream.schema(schema)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.parquet(source_dir)
    if ts_fix is not None:
        raw = ts_fix(raw)
    writer = raw.writeStream.foreachBatch(apply_fn)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()


def foreach_batch_dedup_ingest(root: str, *, id_col: str, text_col: str,
                               num_hashes: int = 32, bands: int = 8,
                               n: int = 3, threshold: float = 0.5,
                               hash_fn: str = "xxhash64"):
    """foreachBatch sink implementing the CONTINUOUS-INGEST dedup loop —
    the production composition the batch store operators
    (persist_minhash_store / dedup_against_store) serve one step of:
    every micro-batch (1) PROBES everything ingested before it through
    the landed band rows, (2) records its near-dup matches, (3) LANDS
    its own docs and band rows so the next batch probes against it.
    The index grows with the stream; no batch ever re-signs the corpus.

    Replay-idempotent WITHOUT a transactional table format: the layout
    is ``{root}/{docs,bands,matches}/batch_id=N``, each written with
    per-batch overwrite, and the probe reads ONLY ``batch_id <
    current`` — so a replayed batch N overwrites its own outputs and
    cannot see the half-landed rows of its failed attempt
    (pytest-locked: a double-applied batch leaves results identical).
    Matches exclude within-batch duplicates by construction (the
    cross-side contract of dedup_against_corpus); screen the batch
    against itself with minhash_lsh_pairs first if intra-batch dedup
    is also wanted.

    Scale shape per batch: sign ONLY the batch (scan-local), broadcast
    its band rows onto the landed partitioned band directory, verify
    the bounded candidate set via the broadcast-semi-join text fetch
    (the r11b-measured probe shape — flat in corpus size), write
    O(batch) rows. The landed-bands read does prune: batch_id is a
    partition column, so ``< N`` is partition pruning, not a filter
    scan."""
    from comix_etl_spark.operators.dedup import (_probe_landed_bands,
                                                 minhash_band_rows)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        import os

        spark = batch_df.sparkSession
        batch = batch_df.localCheckpoint(eager=True)
        nb = minhash_band_rows(batch, id_col, text_col,
                               num_hashes=num_hashes, bands=bands, n=n,
                               hash_fn=hash_fn)
        # pin: nb feeds both the probe and the landed write — without
        # this the batch would sign twice
        nb = nb.localCheckpoint(eager=True)
        have_history = _prior_batches_exist(
            spark, os.path.join(root, "bands"), batch_id)
        if have_history:
            ob = (spark.read.parquet(os.path.join(root, "bands"))
                  .filter(F.col("batch_id") < batch_id))
            corpus = (spark.read.parquet(os.path.join(root, "docs"))
                      .filter(F.col("batch_id") < batch_id))
            matches = _probe_landed_bands(nb, ob, batch, corpus, id_col,
                                          text_col, n=n,
                                          threshold=threshold)
        else:  # nothing landed yet — nothing to match against
            id_type = dict(batch.dtypes)[id_col]
            matches = spark.createDataFrame(
                [], f"{id_col} {id_type}, match_id {id_type}, jaccard double")
        (matches.write.mode("overwrite")
         .parquet(os.path.join(root, "matches", f"batch_id={batch_id}")))
        (batch.write.mode("overwrite")
         .parquet(os.path.join(root, "docs", f"batch_id={batch_id}")))
        (nb.write.mode("overwrite")
         .parquet(os.path.join(root, "bands", f"batch_id={batch_id}")))

    return apply


def foreach_batch_ann_ingest(root: str, centers, codebooks, *,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             sim_threshold: float = 0.98,
                             nprobe: int = 4, rerank: int = 50,
                             max_query_rows: int = 10_000):
    """foreachBatch sink: the VECTOR-side continuous-ingest dedup loop —
    the embedding sibling of ``foreach_batch_dedup_ingest``. Every
    micro-batch of vectors (1) probes the landed IVF-PQ codes for its
    nearest already-ingested neighbor (ADC + exact re-rank, k=1) and
    flags near-dups at ``sim_threshold``, (2) lands its raw vectors
    and its pre-encoded codes so the next batch probes against them.
    The encode scan runs once per batch; the landed corpus is never
    re-encoded — the streaming form of the persist_ivf_pq_store
    economics.

    Same replay-idempotency contract as the text loop: layout is
    ``{root}/{vecs,codes,matches}/batch_id=N`` with per-batch
    overwrite, probes read only ``batch_id < current`` (partition
    pruning), so a replayed batch overwrites itself and never matches
    its own half-landed rows. The (centers, codebooks) are BAKED INTO
    the stream — changing them mid-stream makes landed codes garbage
    (same contract as persist_ivf_pq_store). Micro-batches must be
    driver-bounded (ivf_pq_topk collects the query side) — ENFORCED:
    ``max_query_rows`` threads into the probe, so a fat micro-batch
    raises a clear ValueError instead of a driver OOM; size the
    stream's ``maxFilesPerTrigger``/rate under it.

    Output matches: (``id_col``, match_id, cosine_sim) — each flagged
    batch vector's best landed neighbor at ≥ ``sim_threshold``."""
    from comix_etl_spark.operators.similarity import (
        ivf_pq_encode, ivf_pq_topk, release_search_resources)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        import os

        spark = batch_df.sparkSession
        batch = batch_df.localCheckpoint(eager=True)
        enc = ivf_pq_encode(batch, centers, codebooks, id_col=id_col,
                            vec_col=vec_col).localCheckpoint(eager=True)
        have_history = _prior_batches_exist(
            spark, os.path.join(root, "codes"), batch_id)
        resources: list = []
        if have_history:
            codes = (spark.read.parquet(os.path.join(root, "codes"))
                     .filter(F.col("batch_id") < batch_id)
                     .select(id_col, "centroid_id", "pq_code"))
            vecs = (spark.read.parquet(os.path.join(root, "vecs"))
                    .filter(F.col("batch_id") < batch_id)
                    .select(id_col, vec_col))
            top = ivf_pq_topk(vecs, batch.select(id_col, vec_col),
                              centers=centers, codebooks=codebooks,
                              id_col=id_col, vec_col=vec_col, k=1,
                              nprobe=nprobe, rerank=rerank, encoded=codes,
                              max_query_rows=max_query_rows,
                              cleanup=resources)
            matches = (top.filter(F.col("cosine_sim") >= sim_threshold)
                       .select(F.col("query_id").alias(id_col),
                               F.col(id_col).alias("match_id"),
                               "cosine_sim"))
        else:
            id_type = dict(batch.dtypes)[id_col]
            matches = spark.createDataFrame(
                [], f"{id_col} {id_type}, match_id {id_type}, "
                    f"cosine_sim double")
        (matches.write.mode("overwrite")
         .parquet(os.path.join(root, "matches", f"batch_id={batch_id}")))
        # the matches write fully consumed the probe plan — release its
        # query broadcast NOW instead of leaving it to GC +
        # ContextCleaner: on a long-running stream that deferred
        # cleanup accumulates block-manager and driver-temp state for
        # as long as Python references survive (ADVICE r13). batch/enc
        # stay checkpointed until apply() returns (the two landing
        # writes below still read them); those handles die with this
        # frame, one micro-batch of lag at most.
        release_search_resources(resources)
        (batch.select(id_col, vec_col).write.mode("overwrite")
         .parquet(os.path.join(root, "vecs", f"batch_id={batch_id}")))
        (enc.write.mode("overwrite")
         .parquet(os.path.join(root, "codes", f"batch_id={batch_id}")))

    return apply


def foreach_batch_upsert(target_path: str, key: list[str], update_cols: list[str],
                         *, partition_col: str | None = None):
    """foreachBatch sink: merge each micro-batch into a parquet table via
    the batch merge operator (one code path for batch + streaming loads).

    With ``partition_col`` (the scale path) the write is **O(batch), not
    O(table)**: the batch's distinct partition values are collected (a
    micro-batch holds few partitions by construction), ONLY those
    partitions are read back (partition pruning — the rest of a 100 TB
    table is never touched), merged, and rewritten via dynamic partition
    overwrite, which replaces just the partitions present in the result.
    ``localCheckpoint`` breaks the merged plan's lineage on the files
    being replaced. A partition must therefore contain every row of any
    key it holds — true when ``partition_col`` is a function of the key
    (e.g. a hash bucket or an entity's home date).

    Without ``partition_col`` the full table merges through
    ``safe_overwrite_parquet`` (staging + directory swap — no destruction
    window; see sinks/writers.py). Delta/Iceberg MERGE replaces either
    path without touching the merge logic.
    """
    from comix_etl_spark.sinks.writers import safe_overwrite_parquet

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        import os

        spark = batch_df.sparkSession
        # EXISTENCE check, not a broad except: a transient read failure
        # of a present table must abort the batch — the first-batch
        # overwrite branch would replace the whole merged history with
        # one micro-batch (same convention as _replay_guard below)
        if not os.path.isdir(target_path):
            writer = batch_df.write.mode("overwrite")
            if partition_col:
                writer = writer.partitionBy(partition_col)
            writer.parquet(target_path)
            return
        existing = spark.read.parquet(target_path)
        if partition_col:
            touched = [r[0] for r in batch_df.select(partition_col).distinct().collect()]
            # NULL IN (...) is never true: when the batch carries a NULL
            # partition value, the existing NULL-partition rows must
            # still join the merge slice — otherwise dynamic overwrite
            # rewrites __HIVE_DEFAULT_PARTITION__ from the batch alone,
            # deleting every pre-existing NULL-partition row
            pred = F.col(partition_col).isin([t for t in touched if t is not None])
            if any(t is None for t in touched):
                pred = pred | F.col(partition_col).isNull()
            slice_df = existing.filter(pred)
            merged = upsert_selective(slice_df, batch_df, key, update_cols)
            merged = merged.localCheckpoint(eager=True)  # cut lineage on replaced files
            prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            try:
                (merged.write.mode("overwrite")
                 .partitionBy(partition_col).parquet(target_path))
            finally:
                spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        else:
            merged = upsert_selective(existing, batch_df, key, update_cols)
            safe_overwrite_parquet(merged, target_path)

    return apply


def foreach_batch_drift(metrics_path: str, ref_edges: list[float],
                        ref_shares: list[float], *, value_col: str = "value",
                        eps: float = 1e-6):
    """foreachBatch sink: score every micro-batch's ``value_col``
    distribution against a REFERENCE decile histogram (PSI — the same
    monitor plans/queries.py::q_drift_psi runs in batch) and write
    one (n_rows, psi_e6) row per batch to
    ``metrics_path/batch_id=N`` (overwrite — a crash-replayed batch
    REPLACES its row instead of appending a duplicate; read the whole
    table with ``spark.read.parquet(metrics_path)``, where batch_id
    comes back as a partition column).
    Continuous data-quality monitoring at ingestion time: a feed whose
    distribution shifts pages the pipeline BEFORE the bad data lands
    in training mixes.

    ``ref_edges``/``ref_shares`` come from the reference period (a
    driver-small list of bin edges + expected share per bin — compute
    once, broadcast forever). Cost per batch: one conditional-count
    aggregate over the batch, no shuffle of history; the epsilon floor
    mirrors the batch monitor (an empty bucket must not emit ln(0)).

    BREAKING layout migration (r7): earlier versions APPENDED rows with
    a ``batch_id`` data column to ``metrics_path`` root; this version
    writes ``batch_id=N`` partition directories. A table holding both
    layouts (root-level data files plus partition dirs) is unreadable
    by ``spark.read.parquet``, so the sink detects legacy root-level
    data files on first write and fails with a migration message
    instead of corrupting the table."""
    n_bins = len(ref_shares)
    # n_bins buckets need exactly n_bins - 1 interior edges; a full edge
    # list would route rows into a phantom bucket n_bins that inflates
    # `total` but is skipped by the PSI loop, deflating every p_cur
    if len(ref_edges) != n_bins - 1:
        raise ValueError(
            f"ref_edges must hold the {n_bins - 1} interior edges for "
            f"{n_bins} ref_shares bins, got {len(ref_edges)}")
    # legacy-layout guard memo: the check is a directory listing of the
    # sink root — run it once per path per query, not on every
    # micro-batch (True = checked and clean)
    _layout_ok: dict[str, bool] = {}

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        bucket = F.lit(0)
        for e in ref_edges:
            bucket = bucket + F.when(F.col(value_col) > F.lit(e), 1).otherwise(0)
        # NULL values satisfy no `>` predicate and would land in bucket
        # 0, silently inflating the lowest bin's share — exclude them
        # from the distribution under test
        counts = (batch_df.filter(F.col(value_col).isNotNull())
                  .select(bucket.alias("_b"))
                  .groupBy("_b").agg(F.count(F.lit(1)).alias("_n"))
                  .collect())  # ≤ n_bins rows — bounded by construction
        if not counts:
            return
        by_bin = {r._b: r._n for r in counts}
        total = sum(by_bin.values())
        import math

        psi = 0.0
        for b in range(n_bins):
            p_cur = by_bin.get(b, 0) / total
            p_ref = ref_shares[b]
            psi += (p_cur - p_ref) * math.log(max(p_cur, eps) / max(p_ref, eps))
        spark = batch_df.sparkSession
        # legacy-layout guard (see docstring): root-level data files
        # mean the table was written by the pre-r7 append-with-column
        # sink; mixing in partition dirs would make the whole table
        # unreadable — fail loud with the migration path instead.
        # Listing goes through the Hadoop FileSystem API so the guard
        # covers REMOTE roots (hdfs://, s3a://, ...) too, not just
        # bare/file: paths, and the result is memoized per path — one
        # listing per query, not one per micro-batch. Spark-Connect
        # sessions have no JVM gateway; there the guard degrades to a
        # local-path os.listdir (best effort, as pre-r9).
        if not _layout_ok.get(metrics_path):
            legacy: list[str] = []
            listed = False  # memoize ONLY a listing that actually ran:
            # a transient FS error (momentary S3 blip) must NOT mark the
            # path clean forever — the fallback is a no-op for remote
            # paths, so without this flag one blip would permanently
            # disable the legacy-layout guard for the rest of the query
            try:
                jvm = spark._jvm
                jpath = jvm.org.apache.hadoop.fs.Path(metrics_path)
                fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
                if fs.exists(jpath):
                    for st in fs.listStatus(jpath):
                        name = st.getPath().getName()
                        if not name.startswith(("batch_id=", "_", ".")):
                            legacy.append(name)
                listed = True
            except Exception:
                import os

                local = metrics_path
                if local.startswith("file:"):
                    local = local[len("file:"):] or "/"
                if "://" not in local and os.path.isdir(local):
                    legacy = [f for f in os.listdir(local)
                              if not f.startswith(("batch_id=", "_", "."))]
                    listed = True
            if legacy:
                raise ValueError(
                    f"foreach_batch_drift: {metrics_path} holds root-level "
                    f"data files from the legacy append-style layout "
                    f"(e.g. {legacy[0]}); migrate them into batch_id=N "
                    f"partition dirs (or point at a fresh path) before "
                    f"using the partitioned sink")
            if listed:
                _layout_ok[metrics_path] = True
        # per-batch partition + overwrite: foreachBatch replays a batch
        # (same batch_id) after a crash — the rewrite replaces that
        # batch's row instead of appending a duplicate metric
        (spark.createDataFrame(
            [(int(total), int(round(psi * 1_000_000)))],
            "n_rows long, psi_e6 long")
         .write.mode("overwrite")
         .parquet(f"{metrics_path}/batch_id={int(batch_id)}"))

    return apply


def _replay_guard(spark, state_path: str, batch_id: int):
    """Shared exactly-once guard for the read-merge-rewrite sinks:
    returns (already_applied, prior_state_df). foreachBatch re-delivers
    a crashed batch under the SAME batch_id — folding it into the
    landed state twice would double-count, so every state rewrite
    stamps a ``_last_batch_id`` SIDECAR file (underscore prefix ⇒
    invisible to Spark's file listing) and a replay of any batch ≤
    that stamp becomes a no-op. The stamp is deliberately NOT a data
    column: a Misra-Gries trim can legitimately empty the summary, and
    a 0-row parquet would silently drop a row-borne stamp — reopening
    the double-count the guard exists to prevent. (Append-style sinks
    instead write to a ``batch_id=N`` partition with overwrite — same
    idempotence, no stamp needed.)"""
    import os

    marker = os.path.join(state_path, "_last_batch_id")
    if os.path.isfile(marker):
        with open(marker) as fh:
            if batch_id <= int(fh.read().strip()):
                return True, None
    if not os.path.isdir(state_path):
        return False, None
    cur = spark.read.parquet(state_path)
    if "last_batch_id" in cur.columns:  # legacy row-borne stamp
        cur = cur.drop("last_batch_id")
    return False, cur


def foreach_batch_heavy_hitters(summary_path: str, *,
                                value_col: str = "value",
                                capacity: int = 256):
    """foreachBatch sink: maintain a MERGED Misra-Gries heavy-hitter
    summary of ``value_col`` across every micro-batch seen so far —
    continuous "what dominates this feed" monitoring without keeping
    (or shuffling) the full distinct-key space. The streaming sibling
    of ``operators/relational.py::heavy_hitters_exact``; summaries are
    MERGEABLE (Agarwal et al. 2012), so batch-wise folding preserves
    the guarantee: any value whose TOTAL stream count exceeds
    N_total/(capacity+1) is in the summary, with its weight
    undercounting by at most that threshold.

    State is a ≤ ``capacity``-row parquet table (value, weight) at
    ``summary_path`` (plus a ``_last_batch_id`` replay-guard sidecar) — small enough to read, merge and rewrite per
    batch; for exact counts of the current candidates, recount them
    against the landed bronze (same recount step the batch operator
    runs).

    Per-batch cost: one map-side MG pass over the batch (mapInPandas,
    ≤ capacity rows emitted per partition), a driver-side merge bounded
    by capacity × (partitions + 1) rows, one tiny parquet rewrite. The
    batch's raw keys never shuffle.
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        import os

        import pandas as pd

        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        applied, prior = _replay_guard(spark, summary_path, int(batch_id))
        if applied:
            return
        vals = (batch_df.select(F.col(value_col).cast("string").alias("_v"))
                .filter(F.col("_v").isNotNull()))

        def mg(batches):
            from comix_etl_spark.operators.relational import misra_gries_fold

            counters, _err = misra_gries_fold(batches, capacity)
            yield pd.DataFrame({"_v": list(counters.keys()),
                                "_w": [int(w) for w in counters.values()]})

        # ≤ capacity rows per batch partition — bounded by construction
        parts = [(r._v, int(r._w))
                 for r in vals.mapInPandas(mg, schema="_v string, _w long")
                 .collect()]
        merged: dict = {}
        for v, w in parts:
            merged[v] = merged.get(v, 0) + w
        if prior is not None:
            for r in prior.collect():
                merged[r.value] = merged.get(r.value, 0) + int(r.weight)
        if len(merged) > capacity:
            from comix_etl_spark.operators.relational import mg_trim

            merged, _err = mg_trim(merged, capacity)
        out = spark.createDataFrame(
            sorted(merged.items()), "value string, weight long")
        from comix_etl_spark.sinks.writers import safe_overwrite_parquet

        # the stamp rides INSIDE the staged swap: written after it, a
        # crash between swap and stamp would leave state with batch N
        # folded in but no marker — the replay would double-count
        safe_overwrite_parquet(
            out.coalesce(1), summary_path,
            extra_files={"_last_batch_id": str(int(batch_id))})

    return apply


def foreach_batch_cms(sketch_path: str, *, key_col: str = "value",
                      depth: int = 4, width: int = 1024):
    """foreachBatch sink: maintain a MERGED Count-Min frequency sketch
    of ``key_col`` across every micro-batch seen so far — point-query
    estimates for ANY key over the whole stream in O(depth·width)
    state. The streaming sibling of ``operators/profile.py::cms_cells``
    (and the frequency counterpart of the MG heavy-hitter sink above:
    MG answers "what dominates", CMS answers "how often is THIS key").

    CMS cells merge by cell-wise addition, so folding per-batch
    sketches into the landed one is EXACT: the merged sketch is
    bit-identical to a single sketch built over the concatenated
    stream, and the one-sided-error guarantee carries over with N =
    total stream rows. Per-batch cost: one bounded exchange over the
    batch (≤ depth·width rows per task after map-side combine) plus a
    tiny (≤ depth·width rows) parquet read-merge-rewrite; the batch's
    raw keys never shuffle, and nothing key-shaped ever collects.

    Query the result with ``operators/profile.py::cms_estimate`` over
    ``spark.read.parquet(sketch_path)`` (the ``_last_batch_id``
    replay-guard sidecar is invisible to the read).
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        from comix_etl_spark.operators.profile import cms_cells
        from comix_etl_spark.sinks.writers import safe_overwrite_parquet

        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        applied, prior = _replay_guard(spark, sketch_path, int(batch_id))
        if applied:
            return
        cells = cms_cells(
            batch_df.select(F.col(key_col).cast("string").alias("_k")),
            "_k", depth=depth, width=width)
        if prior is not None:
            cells = cells.unionByName(prior)
        merged = (cells.groupBy("depth_i", "bucket")
                  .agg(F.sum("c").cast("long").alias("c")))
        safe_overwrite_parquet(
            merged.coalesce(1), sketch_path,
            extra_files={"_last_batch_id": str(int(batch_id))})

    return apply
