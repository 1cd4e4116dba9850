"""Relational operators: scans, filters, joins, aggregations, windows,
top-k (SURVEY.md §2.2–§2.6).

Scale notes (100 TB):
- Every builder returns a lazy plan; filters/projections are expressed on
  columns so Catalyst pushes them into the parquet scan.
- Point lookups and dim joins broadcast the small side explicitly.
- Top-k is ORDER BY + LIMIT → Spark's TakeOrderedAndProject (per-partition
  heap + driver merge), never a full sort.
- Deterministic tie-breaks are part of every top-k contract: at scale,
  result stability across retries/AQE re-plans requires total ordering.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def search_substring(df: DataFrame, column: str, q: str, order_by: Sequence[str], limit: int = 50) -> DataFrame:
    """P3 + O1/O2 — case-insensitive substring search, ordered, capped.

    Reference: app.py:174-186 (`title ilike '%q%' ORDER BY title LIMIT 50`).
    The contains-filter can't use an index, but it pushes into the scan as
    a parquet row-group predicate on min/max-less strings — still scan-local
    and embarrassingly parallel; LIMIT is TakeOrderedAndProject.
    """
    return (
        df.filter(F.lower(F.col(column)).contains(q.lower()))
        .orderBy(*[F.col(c) for c in order_by])
        .limit(limit)
    )


def keyed_scan(df: DataFrame, key_col: str, key_value, order_by: Sequence[str]) -> DataFrame:
    """P2 + O1 — equality filter + ordered scan (the /series/<id>/issues shape).

    Reference: app/api.py:117-154. The equality predicate pushes into the
    parquet scan. After it, ``key_col`` holds one value in every surviving
    row (a NULL key keeps no rows), so ordering by it is a no-op — one
    that Catalyst keeps, since constant propagation rewrites filters, not
    sort orders. Every ``order_by`` entry equal to ``key_col`` is dropped:
    a global sort costs a range-sampling job and a shuffle before its
    result job. With no order key left the lookup is one scan job; the
    remaining keys (say, the issue number) are still sorted globally.
    """
    hits = df.filter(F.col(key_col) == key_value)
    rest = [c for c in order_by if c != key_col]
    return hits.orderBy(*rest) if rest else hits


def group_count_topk(fact: DataFrame, dim: DataFrame, join_key: str, label_col: str, k: int) -> DataFrame:
    """A1/J1/O3 — the reference's flagship: top dims by fact count.

    Reference: comixcatalog_starter.zip!etl/etl.py:56-67 ("top series by
    issue count"). Plan: broadcast the dim, partial-aggregate map-side,
    single shuffle on the label, TakeOrderedAndProject for the limit.
    """
    return (
        fact.join(F.broadcast(dim), join_key, "inner")
        .groupBy(label_col)
        .agg(F.count(F.lit(1)).alias("issue_count"))
        .orderBy(F.desc("issue_count"), F.col(label_col))
        .limit(k)
    )


def orphan_rows(child: DataFrame, parent: DataFrame, key: str) -> DataFrame:
    """J2/A3 — children with no parent (referential-integrity quality check).

    Reference: comixcatalog_starter.zip!etl/etl.py:52 (LEFT JOIN … IS NULL).
    left_anti is the idiomatic plan: one shuffle (or broadcast), no null
    post-filter, and AQE can turn it into a broadcast anti-join.
    """
    return child.join(parent, key, "left_anti")


def exists_semi(child: DataFrame, parent: DataFrame, key: str) -> DataFrame:
    """J4/P7 — set-based EXISTS: keep children that have a match.

    Replaces the reference's per-row existence probes
    (seed_static_comics.py:43-46) with one distributed semi-join.
    """
    return child.join(parent, key, "left_semi")


def sequence_within_group(df: DataFrame, part_by: Sequence[str], order_by: Sequence[Column | str],
                          out_col: str = "seq") -> DataFrame:
    """W1 — running 1..n position within a group (issue_order semantics).

    Reference: etl/seed/seed_from_marvel.py:243-245 (enumerate per series
    in onsale order). One shuffle on the partition key; at scale the key
    (series_id) is high-cardinality so partitions stay balanced.
    """
    w = Window.partitionBy(*part_by).orderBy(*order_by)
    return df.withColumn(out_col, F.row_number().over(w))


def top1_per_group(df: DataFrame, part_by: Sequence[str], order_by: Sequence[Column | str]) -> DataFrame:
    """W2/A7 — best row per group, deterministic tie-broken.

    Reference: etl/seed/seed_from_marvel.py:126-141 (best series match).
    row_number (not rank) guarantees exactly one row per group.
    """
    w = Window.partitionBy(*part_by).orderBy(*order_by)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def global_rank(df: DataFrame, order_col: str, *, out_col: str = "rank",
                num_partitions: int | None = None) -> DataFrame:
    """O1 — global ORDER BY rank WITHOUT the single-task funnel.

    ``row_number() OVER (ORDER BY k)`` with no PARTITION BY moves every
    row through ONE task — fine for 50 rows, fatal for 50 billion. The
    scale-safe equivalent: range-partition on the key (so partition i
    holds keys strictly below partition i+1), rank within each partition
    in parallel, then add each partition's cumulative preceding count —
    a driver-small array (one long per partition, collected once).

    Requires distinct values of ``order_col`` (true for any rank over a
    DISTINCT projection); result is identical to the global window.
    """
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    # localCheckpoint pins ONE physical range partitioning for both
    # consumers below. repartitionByRange samples its boundaries, and
    # _pid is spark_partition_id() — if the offsets branch and the main
    # branch each re-executed the exchange (exchange reuse off, plan
    # divergence after a refactor), they could sample DIFFERENT
    # boundaries and pair ranks with the wrong offsets silently.
    # Materializing the partitioned frame makes that impossible by
    # construction instead of by optimizer goodwill.
    parts = (df.repartitionByRange(n, F.col(order_col))
             .withColumn("_pid", F.spark_partition_id())
             .localCheckpoint(eager=False))
    # per-partition offsets: a window over the AGGREGATED (pid, count)
    # frame — one row per partition, so the "global" window there is n
    # rows, not the dataset. One shuffle, zero driver actions.
    cum = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (parts.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
               .withColumn("_offset", F.coalesce(F.sum("_cnt").over(cum), F.lit(0)))
               .select("_pid", "_offset"))
    w = Window.partitionBy("_pid").orderBy(order_col)
    return (parts.join(F.broadcast(offsets), "_pid")
            .withColumn(out_col, F.row_number().over(w) + F.col("_offset"))
            .drop("_pid", "_offset"))


def union_prefix_crawl(df: DataFrame, column: str, prefixes: Sequence[str], dedup_key: str) -> DataFrame:
    """S3/O7/A6 — union of per-prefix scans, dedup by key.

    Reference: etl/sources/marvel_extract.py:89-130 (A–Z titleStartsWith
    crawl with a ``seen_ids`` set). Spark runs the prefixes as parallel
    scan branches of one plan; dropDuplicates replaces the driver-side set
    with a hash aggregate.
    """
    if not prefixes:
        raise ValueError("union_prefix_crawl: prefixes is empty — a "
                         "config-driven prefix list has been emptied")
    branches = [df.filter(F.lower(F.col(column)).startswith(p.lower())) for p in prefixes]
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out.dropDuplicates([dedup_key])


def bloom_prefiltered_join(probe: DataFrame, build: DataFrame, key: str, *,
                           how: str = "inner", bits: int = 1 << 20) -> DataFrame:
    """Large-large equi-join with a broadcast bloom prefilter on the
    probe side. Result is IDENTICAL to ``probe.join(build, key, how)``
    — the filter only removes probe rows that provably cannot match
    (bucket absent from the build side), then the exact join runs.

    The 100 TB shape this exists for: build is too big to broadcast-join
    but its KEY SET summarizes into a tiny bitmap, and probe is a huge
    fact most of whose rows won't match. Without the prefilter, every
    probe row pays the shuffle; with it, non-matching rows die at the
    scan (the bitmap filter sits on the probe's scan side of the
    exchange). This is what Spark's AQE runtime bloom filter
    (spark.sql.optimizer.runtime.bloomFilter.enabled) injects
    automatically for selective joins; the explicit operator makes the
    plan deterministic and tunable.

    Mechanics: one hash (xxhash64 → bucket in [0, bits)), buckets packed
    64/word by bit_or aggregation → bits/64 words broadcast (1 M bits =
    16 K words = 128 KB). False-positive rate ≈ distinct_build_keys/bits
    (one-hash bloom); false positives cost only wasted shuffle rows,
    never wrong results. Supported ``how``: inner / left_semi (a pure
    probe-side filter is unsound for outer joins — rejected loudly).
    """
    if how not in ("inner", "left_semi", "semi"):
        raise ValueError(f"bloom_prefiltered_join supports inner/semi joins, not {how!r}")
    words = bits // 64
    bucket = F.pmod(F.xxhash64(F.col(key)), F.lit(bits))
    word = (bucket / 64).cast("long").alias("_w")
    # backtick-quote the identifier: a key named e.g. 'cover-path'
    # would otherwise parse as subtraction inside F.expr (shiftleft's
    # Python wrapper only takes a literal shift, so expr it is)
    mask = F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                  f"CAST(pmod(xxhash64(`{key}`), {bits}) % 64 AS INT))")
    bitmap = (build.select(word, mask.alias("_m"))
              .groupBy("_w").agg(F.bit_or("_m").alias("_bits")))
    filtered = (probe.withColumn("_w", (bucket / 64).cast("long"))
                .join(F.broadcast(bitmap), "_w", "inner")
                .filter((F.col("_bits").bitwiseAND(mask)) != 0)
                .drop("_w", "_bits"))
    _ = words  # documented sizing; the groupBy bounds rows at bits/64
    return filtered.join(build, key, how)


def sessionize(events: DataFrame, user_col: str, ts_col: str, gap_minutes: int = 30) -> DataFrame:
    """Sessionization: new session when gap to previous event > threshold.

    Beyond-reference (events table). lag + running-sum over one window —
    a single shuffle on user_id; skewed users are handled by AQE.
    Adds ``session_id`` (1..n per user).
    """
    w = Window.partitionBy(user_col).orderBy(ts_col)
    # microsecond precision: second-truncated gaps would misclassify
    # boundaries (gap in (30min, 30min+1s)) differently than the oracle
    gap = F.unix_micros(F.col(ts_col)) - F.lag(F.unix_micros(F.col(ts_col))).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_minutes * 60 * 1_000_000), F.lit(1)).otherwise(F.lit(0))
    return (
        events.withColumn("_new", is_new)
        .withColumn("session_id", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .drop("_new")
    )


def salted_agg(df: DataFrame, key: Sequence[str], sum_col: str, *,
               salts: int = 16) -> DataFrame:
    """Skew-mitigating two-phase aggregation: identical result to
    ``df.groupBy(key).agg(sum, count)`` even when one key holds most of
    the rows.

    Phase 1 groups by (key, salt) — the hot key spreads over ``salts``
    reducers; phase 2 merges the ≤``salts`` partials per key, a shuffle
    of the already-tiny partial frame. Spark's hash aggregate already
    does map-side partials, which usually makes this unnecessary — the
    explicit form exists for the cases partials can't save: high-
    cardinality-state aggregates (collect_list/exact distinct) or a
    sort-aggregate fallback under memory pressure. Sums/counts are
    associative, so the two-phase split is exact, not approximate.

    The salt is a deterministic row hash (same input → same partials →
    same result), not rand() — re-execution of a failed stage must not
    change the answer.
    """
    kl = list(key)
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]),
                  F.lit(salts)).cast("int")
    partial = (df.withColumn("_salt", salt)
               .groupBy(*kl, "_salt")
               .agg(F.sum(sum_col).alias("_psum"),
                    F.count(F.lit(1)).alias("_pcnt")))
    return (partial.groupBy(*kl)
            .agg(F.sum("_psum").alias(f"sum_{sum_col}"),
                 F.sum("_pcnt").cast("long").alias("n_rows")))


def global_running_sum(df: DataFrame, order_by: Sequence[str],
                       value_col: str | Sequence[str], *,
                       out_col: str | Sequence[str] = "running",
                       num_partitions: int | None = None,
                       descending: Sequence[bool] | None = None) -> DataFrame:
    """Globally-ordered running sum WITHOUT the single-task funnel —
    the distributed prefix-sum primitive (sibling of ``global_rank``):
    range-partition on the order key, cumsum within each partition in
    parallel, then add the preceding partitions' totals (a window over
    the n-row per-partition aggregate, broadcast back).

    ``order_by`` must be a TOTAL order (add a unique tiebreak column);
    ``descending`` flags per order column. Result is identical to
    ``sum(value) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)``.

    ``value_col``/``out_col`` also accept equal-length lists: several
    measures share ONE range shuffle and one window pass (the KS
    two-sample CDFs run both samples' counts through a single call).
    """
    cols = [value_col] if isinstance(value_col, str) else list(value_col)
    outs = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(cols) != len(outs):
        raise ValueError(f"{len(cols)} value cols but {len(outs)} out cols")
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    desc = list(descending or [False] * len(order_by))
    keys = [F.col(c).desc() if d else F.col(c).asc()
            for c, d in zip(order_by, desc)]
    parts = (df.repartitionByRange(n, *keys)
             .withColumn("_pid", F.spark_partition_id())
             .localCheckpoint(eager=False))
    cum = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (parts.groupBy("_pid")
               .agg(*[F.sum(c).alias(f"_psum_{i}")
                      for i, c in enumerate(cols)]))
    for i in range(len(cols)):
        offsets = offsets.withColumn(
            f"_offset_{i}",
            F.coalesce(F.sum(f"_psum_{i}").over(cum), F.lit(0)))
    offsets = offsets.select("_pid", *[f"_offset_{i}" for i in range(len(cols))])
    w = (Window.partitionBy("_pid").orderBy(*keys)
         .rowsBetween(Window.unboundedPreceding, 0))
    result = parts.join(F.broadcast(offsets), "_pid")
    for i, (c, o) in enumerate(zip(cols, outs)):
        result = result.withColumn(o, F.sum(c).over(w) + F.col(f"_offset_{i}"))
    return result.drop("_pid", *[f"_offset_{i}" for i in range(len(cols))])


def grouped_running_sum(df: DataFrame, group_cols: Sequence[str],
                        order_col: str,
                        value_col: str | Sequence[str], *,
                        out_col: str | Sequence[str] = "running",
                        total_col: str | Sequence[str] | None = None,
                        n_buckets: int | None = None,
                        small_input: bool | None = None) -> DataFrame:
    """PER-GROUP running sum over a NUMERIC order column WITHOUT one
    task per group at scale — the grouped sibling of
    ``global_running_sum`` (r15, r14 verdict #1 "histogram-then-
    narrow"), SCALE-ROUTED on the same memoized split probe
    ``spread_small_scan`` uses:

    - input plans into <= cores splits (every local/test scale): the
      plain per-group window — exact, ONE exchange, sort-based (spills
      gracefully, never buffers a group in an aggregation buffer).
    - more splits than cores (real scale): a hot group is SPLIT into
      contiguous order ranges by a deterministic B-bucket histogram
      (``n_buckets``, default 32 × cores) and the window cumsum runs
      per (group, bucket) IN PARALLEL; each bucket's preceding-range
      total comes analytically from the tiny histogram frame
      (broadcast back) — no repartitionByRange sampler, no
      spark_partition_id, no localCheckpoint (each of those costs a
      driver planning/codegen pass per call, measured r15 at 0.6–3 s
      per checkpoint at plan-build). Three column-pruned
      partial-aggregating scans composed in ONE lazy plan:
      (1) per-group min/max + totals, broadcast; (2) per-(group,
      bucket) measure sums, cumulative-before-bucket offsets via a
      window over <= groups × B rows; (3) the data pass. The bucket
      expression is floor of an affine map — weakly monotone under
      IEEE ops with constant operands — so equal order values always
      share a bucket; a group whose order stats are degenerate (all
      equal / non-finite) falls into one bucket: correct, serial,
      bounded by max bucket load.

    Both routes produce identical cumsums; intra-tie order is
    engine-chosen in both (collapse ties first for a total order, or
    consume tie-robustly as the percentile/weighted-median callers
    do). ``order_col`` must be numeric and non-NULL (filter first).

    ``value_col``/``out_col`` accept equal-length lists: several
    measures share the same passes. ``total_col`` names add each
    measure's PER-GROUP total as an extra output column (free on both
    routes). NULL group keys form their own group (null-safe joins /
    window partitions), matching groupBy/Window semantics.
    """
    from comix_etl_spark.operators.partitioning import probe_num_partitions

    cols = [value_col] if isinstance(value_col, str) else list(value_col)
    outs = [out_col] if isinstance(out_col, str) else list(out_col)
    tots = ([total_col] if isinstance(total_col, str) else
            list(total_col) if total_col is not None else [])
    if len(cols) != len(outs):
        raise ValueError(f"{len(cols)} value cols but {len(outs)} out cols")
    if tots and len(tots) != len(cols):
        raise ValueError(f"{len(cols)} value cols but {len(tots)} total cols")
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    gl = list(group_cols)
    oc = F.col(order_col)

    # SCALE ROUTE (the spread_small_scan probe, memoized): an input
    # that plans into <= cores splits cannot under-parallelize a
    # per-group window more than it under-parallelizes its own scan —
    # the plain window form is exact, sort-based (spills, never
    # buffers), and pays ONE exchange. Real scale (thousands of
    # splits) takes the histogram form below. Both forms produce
    # identical cumsums (ties always share a bucket; intra-tie order
    # is engine-chosen in both). ``small_input`` overrides the probe:
    # pass it when ``df``'s plan embeds exchanges (a join/aggregate) —
    # probing such a plan EXECUTES its non-result stages under AQE, so
    # the caller should decide from its own cheap scan probe instead.
    if (small_input if small_input is not None
            else probe_num_partitions(df) <= par):
        w = (Window.partitionBy(*gl).orderBy(order_col)
             .rowsBetween(Window.unboundedPreceding, 0))
        wall = Window.partitionBy(*gl)
        r = df
        for c, o in zip(cols, outs):
            r = r.withColumn(o, F.sum(c).over(w))
        for c, tname in zip(cols, tots):
            r = r.withColumn(tname, F.sum(c).over(wall))
        return r

    b_n = n_buckets or 32 * par

    def _nsjoin(left, right, extra=None):
        cond = F.lit(True)
        for g in gl:
            cond = cond & F.col(f"_l.{g}").eqNullSafe(F.col(f"_r.{g}"))
        if extra is not None:
            cond = cond & extra
        return left.alias("_l").join(F.broadcast(right).alias("_r"), cond)

    # pass 1 — per-group stats (tiny, broadcast): bucket bounds + totals
    st = df.groupBy(*gl).agg(
        F.min(order_col).alias("_gr_mn"), F.max(order_col).alias("_gr_mx"),
        *[F.sum(c).alias(f"_gr_t{i}") for i, c in enumerate(cols)])
    base = _nsjoin(df, st).select(
        *[F.col(f"_l.{c}") for c in df.columns],
        F.col("_r._gr_mn").alias("_gr_mn"), F.col("_r._gr_mx").alias("_gr_mx"),
        *[F.col(f"_r._gr_t{i}").alias(f"_gr_t{i}") for i in range(len(cols))])
    # monotone (floor of an affine map — weakly monotone under IEEE
    # ops with constant operands), deterministic, NULL-free: equal
    # order values always share a bucket
    span = F.col("_gr_mx") - F.col("_gr_mn")
    bucket = (F.when(span > 0, F.least(
        F.lit(b_n - 1).cast("long"), F.greatest(F.lit(0).cast("long"), F.floor(
            (oc - F.col("_gr_mn")) / span * b_n))))
        .otherwise(F.lit(0)).cast("int"))
    base = base.withColumn("_gr_b", bucket)

    # pass 2 — per-(group, bucket) measure sums; cumulative-BEFORE-
    # bucket offsets ride one tiny window over <= groups x B rows
    hist = base.groupBy(*gl, "_gr_b").agg(
        *[F.sum(c).alias(f"_hs{i}") for i, c in enumerate(cols)])
    wprev = (Window.partitionBy(*gl).orderBy("_gr_b")
             .rowsBetween(Window.unboundedPreceding, -1))
    for i, c in enumerate(cols):
        hist = hist.withColumn(
            f"_off{i}", F.coalesce(F.sum(f"_hs{i}").over(wprev),
                                   F.lit(0).cast(dict(df.dtypes)[c])))
    bmap = hist.select(*gl, "_gr_b",
                       *[f"_off{i}" for i in range(len(cols))])

    # pass 3 — data pass: window cumsum WITHIN each (group, bucket)
    # order range + the bucket's analytic offset; parallelism is the
    # bucket grain (a group whose mass concentrates in one bucket, or
    # whose order stats are non-finite, degrades toward one range —
    # correct, and bounded by max bucket load)
    r2 = _nsjoin(base, bmap, extra=F.col("_l._gr_b") == F.col("_r._gr_b")) \
        .select(*[F.col(f"_l.{c}") for c in df.columns],
                F.col("_l._gr_b").alias("_gr_b"),
                *[F.col(f"_l._gr_t{i}").alias(f"_gr_t{i}")
                  for i in range(len(cols))],
                *[F.col(f"_r._off{i}").alias(f"_off{i}")
                  for i in range(len(cols))])
    w = (Window.partitionBy(*gl, "_gr_b").orderBy(order_col)
         .rowsBetween(Window.unboundedPreceding, 0))
    for i, (c, o) in enumerate(zip(cols, outs)):
        r2 = r2.withColumn(o, F.sum(c).over(w) + F.col(f"_off{i}"))
    for i, tname in enumerate(tots):
        r2 = r2.withColumn(tname, F.col(f"_gr_t{i}"))
    return r2.drop("_gr_b", *[f"_off{i}" for i in range(len(cols))],
                   *[f"_gr_t{i}" for i in range(len(cols))])


def skyline_2d(df: DataFrame, id_col: str, x_col: str, y_col: str,
               *, num_partitions: int | None = None) -> DataFrame:
    """2-D Pareto frontier (skyline): rows where no other row has
    strictly-better x (lower) without worse y, i.e. keep p unless some
    q has (q.x < p.x AND q.y >= p.y) OR (q.x <= p.x AND q.y > p.y).
    Equal (x, y) points all survive (neither dominates).

    The naive formulation is an O(n²) NOT EXISTS self-join. The 2-D
    structure collapses it to a prefix max: p survives iff its y equals
    its own x-group's max AND beats the running max of all strictly
    smaller x. That prefix max runs DISTRIBUTED at the x-grain —
    range-partition on x, strict per-partition window, preceding
    partitions' inclusive maxima broadcast back (same shape as
    global_running_sum; no single-task global window) — then one
    broadcast join back onto the full rows. Two bounded shuffles total
    at any row count.
    """
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    g = df.groupBy(F.col(x_col).alias("_x")).agg(F.max(y_col).alias("_ymax"))
    parts = (g.repartitionByRange(n, F.col("_x").asc())
             .withColumn("_pid", F.spark_partition_id())
             .localCheckpoint(eager=False))
    prev = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (parts.groupBy("_pid").agg(F.max("_ymax").alias("_pmax"))
               .withColumn("_offset", F.max("_pmax").over(prev))
               .select("_pid", "_offset"))
    w = (Window.partitionBy("_pid").orderBy(F.col("_x").asc())
         .rowsBetween(Window.unboundedPreceding, -1))
    pm = (parts.join(F.broadcast(offsets), "_pid")
          .withColumn("_pm", F.greatest(F.max("_ymax").over(w), F.col("_offset")))
          .select("_x", "_ymax", "_pm"))
    # NO broadcast hint: pm holds one row per DISTINCT x — unbounded
    # for a continuous x column (forcing a broadcast there would
    # collect the distinct-x frame to the driver); let the planner pick
    # broadcast only when stats show pm is actually small
    return (df.join(pm, F.col(x_col) == F.col("_x"))
            .filter((F.col(y_col) == F.col("_ymax"))
                    & (F.col("_pm").isNull() | (F.col(y_col) > F.col("_pm"))))
            .drop("_x", "_ymax", "_pm"))


def gaps_in_sequence(df: DataFrame, key_col: str,
                     *, num_partitions: int | None = None) -> DataFrame:
    """Missing runs in an integer key sequence — the completeness probe
    for ingest auditing (dropped batches show up as key gaps). Returns
    (gap_start, gap_end, gap_len) for every maximal missing run between
    the observed min and max.

    The naive formulation is lead() over a GLOBAL order — a single-task
    window. Here the lead is distributed the same way as global_rank /
    global_running_sum: range-partition the distinct keys, lead within
    each partition in parallel, and close the partition seams with a
    broadcast of each partition's first key (every partition's last row
    peeks at the NEXT non-empty partition's minimum — n rows, driver-
    free). Two bounded shuffles at any key count.
    """
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    d = (df.select(F.col(key_col).cast("long").alias("_k")).distinct()
         .repartitionByRange(n, F.col("_k").asc())
         .withColumn("_pid", F.spark_partition_id())
         .localCheckpoint(eager=False))
    # each partition's min key, shifted to the PRECEDING partition as
    # its "next seam key" (window over the tiny n-row aggregate)
    seam = Window.orderBy("_pid")
    firsts = (d.groupBy("_pid").agg(F.min("_k").alias("_first"))
              .withColumn("_seam_next", F.lead("_first").over(seam))
              .select("_pid", "_seam_next"))
    w = Window.partitionBy("_pid").orderBy("_k")
    return (d.join(F.broadcast(firsts), "_pid")
            .withColumn("_next", F.coalesce(F.lead("_k").over(w),
                                            F.col("_seam_next")))
            .filter(F.col("_next") - F.col("_k") > 1)
            .select((F.col("_k") + 1).alias("gap_start"),
                    (F.col("_next") - 1).alias("gap_end"),
                    (F.col("_next") - F.col("_k") - 1).alias("gap_len")))


def mg_trim(counters: dict, capacity: int):
    """The ONE copy of the batched Misra-Gries decrement: subtract the
    running minimum that brings the dict back under ``capacity`` and
    drop the zeros. Returns (trimmed counters, mass subtracted per
    surviving counter). Shared by the per-partition fold below AND the
    streaming sink's driver-side merge (streaming/windowed.py) so the
    error-bound arithmetic cannot drift between them."""
    m = sorted(counters.values())[len(counters) - capacity - 1]
    return {v: c - m for v, c in counters.items() if c > m}, m


def misra_gries_fold(batches, capacity: int):
    """Fold an iterator of single-column pandas frames into a batched
    Misra-Gries summary: (counters dict of value → residual weight,
    err = total mass the decrements subtracted). The ONE copy of the
    subtle trim arithmetic — both the exact batch operator below and
    the streaming sink (streaming/windowed.py::
    foreach_batch_heavy_hitters) fold through this, so the error-bound
    logic cannot drift between them. Runs executor-side inside
    mapInPandas; per-call state is ≤ capacity counters."""
    counters: dict = {}
    err = 0
    for pdf in batches:
        for v, c in pdf.iloc[:, 0].value_counts().items():
            counters[v] = counters.get(v, 0) + int(c)
        if len(counters) > capacity:
            # any value's undercount here is ≤ the accumulated m
            counters, m = mg_trim(counters, capacity)
            err += m
    return counters, err


def heavy_hitters_exact(df: DataFrame, value_col: str, *, k: int = 10,
                        capacity: int = 256) -> DataFrame:
    """EXACT top-k heavy hitters without shuffling the distinct-key
    space: per-partition Misra-Gries summaries (the mergeable-summaries
    reduction of Agarwal et al. 2012) produce a small candidate set
    that provably contains every value of global count > N/(capacity+1);
    one candidate-filtered recount then restores exact counts, so the
    output is the true top-k (certified, see below) — sketch recall
    with exact-aggregate precision.

    NULLs are excluded (they are a data-quality signal, not a key).

    Certification (MEASURED, not worst-case): each partition's summary
    carries the total mass its Misra-Gries decrements actually
    subtracted (``err_p``). A value absent from every summary has
    global count ≤ Σ err_p, so the result is provably complete iff the
    k-th recounted value exceeds Σ err_p; when it doesn't, this raises
    ValueError("cannot certify") instead of silently returning a
    maybe-incomplete top-k — raise ``capacity`` and rerun. Because
    Σ err_p ≤ N/(capacity+1) (each decrement event retires ≥
    capacity+1 units of mass), this is never stricter than the
    worst-case pigeonhole test — and when no partition ever
    overflowed, Σ err_p = 0: the candidate set holds EVERY distinct
    value and the result certifies unconditionally (a skewed
    distribution with a long-but-light tail no longer gets a spurious
    refusal).

    Scale shape (the reason this exists next to the plain groupBy
    top-k): at 100 TB with high-cardinality keys, groupBy+count's
    exchange carries every distinct key. Here the wide data NEVER
    shuffles: summaries are ≤ capacity+1 rows per partition
    (mapInPandas with per-partition dict state; one NULL-keyed sentinel
    carries err_p), candidates collapse to ≤ capacity × partitions rows
    broadcast back, and the recount's map-side combine emits ≤
    |candidates| rows per task. Two scans, zero wide exchanges.
    """
    vals = df.select(F.col(value_col)).filter(F.col(value_col).isNotNull())
    dtype = vals.schema[0].dataType.simpleString()

    def mg(batches):
        import pandas as pd

        counters, err = misra_gries_fold(batches, capacity)
        yield pd.DataFrame({"_v": list(counters.keys()) + [None],
                            "_err": [0] * len(counters) + [err]})

    # ONE materialization (≤ (capacity+1)·partitions rows): candidates
    # and the error total both read it — without the checkpoint each
    # branch would re-run the full MG scan
    summary = (vals.mapInPandas(mg, schema=f"_v {dtype}, _err long")
               .localCheckpoint(eager=True))
    err_total = summary.agg(F.sum("_err")).collect()[0][0] or 0
    candidates = summary.filter(F.col("_v").isNotNull()).select("_v").distinct()
    exact = (vals.join(F.broadcast(candidates),
                       vals[value_col] == candidates["_v"])
             .groupBy(value_col)
             .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    top = (exact.orderBy(F.col("cnt").desc(), F.col(value_col))
           .limit(k))
    rows = top.collect()
    # certify the whole returned prefix: every value NOT in the
    # candidate set has count ≤ Σ err_p, so as long as the smallest
    # returned count clears that bar — or no decrement ever happened —
    # nothing missing can outrank anything returned
    if err_total > 0 and (len(rows) < k or rows[-1].cnt <= err_total):
        kth = rows[-1].cnt if rows else 0
        raise ValueError(
            f"cannot certify top-{k}: k-th count {kth} ≤ measured "
            f"Misra-Gries error bound {err_total} — values below the "
            f"survival threshold may be missing; raise capacity")
    return df.sparkSession.createDataFrame(rows, top.schema)
