"""Statistical profiling operators: grouped exact percentiles, pairwise
correlation, z-score outlier screens, and fixed-width histograms.

Beyond-reference extensions (SURVEY.md §7): the reference's analytics stop
at counts and top-k (comixcatalog_starter.zip!etl/etl.py:47-67); these
lift the same "describe the table" intent to the moments/quantiles a data
pipeline actually monitors.

Scale notes: every operator here is a single aggregation pass —
percentiles and correlations reduce to per-group sort/moment state inside
one shuffle; histograms are scan-local integer bucketing + one count
shuffle on the (bounded) bucket key; the z-score screen broadcasts a tiny
per-group moment table back onto the scan, so the fact side never
shuffles. Nothing here collects to the driver.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def grouped_percentile_cont(df: DataFrame, group_col: str, value_col: str,
                            probs: Sequence[float], *,
                            carry_first: Sequence[str] = (),
                            small_input: bool | None = None) -> DataFrame:
    """Exact interpolated percentiles per group WITHOUT the
    one-buffer-per-group reducer (r15) — bit-identical to
    ``F.percentile`` / ANSI ``percentile_cont`` / DuckDB
    ``quantile_cont``, but no stage buffers a group's values in one
    aggregation buffer:

    1. one row per non-NULL value with a running COUNT per group via
       the scale-routed grouped prefix sum
       (relational.grouped_running_sum — a plain per-group window
       while the input plans into <= cores splits; at real scale the
       histogram-bucketed form whose window parallelizes WITHIN a
       group, no checkpoint, no sampler, ONE lazy plan either way);
    2. the value at 0-based rank r is the unique row whose running
       count equals r + 1 — both target ranks (floor/ceil of the
       position) are picked out by conditional MAX aggregates in ONE
       final partial-aggregating pass, no joins;
    3. interpolate with EXACTLY Spark's Percentile arithmetic —
       position = (n-1)·p in double, and
       ``(higher − position)·v_lo + (position − lower)·v_hi`` with the
       same two no-interpolation short-circuits (integral position;
       equal neighbor values) — so results match the single-buffer
       aggregate bit for bit (same IEEE ops in the same order).

    Returns one row per group that has ≥ 1 non-NULL value:
    ``(group_col, _q0.._qk)`` (unrounded doubles, in ``probs`` order)
    — callers alias/round. NULL values are ignored exactly as
    ``F.percentile`` ignores them; a NULL group key is a group.
    ``carry_first`` names per-group-constant companion columns carried
    into the output via ``first()`` in the same pass — so a caller
    needing (median, companion) pays ONE reference to its input
    instead of re-joining the companion frame (mad_outliers' _med).
    """
    from comix_etl_spark.operators.partitioning import probe_num_partitions
    from comix_etl_spark.operators.relational import grouped_running_sum

    probs = [float(p) for p in probs]
    bad = [p for p in probs if not 0.0 <= p <= 1.0]
    if bad:
        # F.percentile raises on these; the rank picks below would
        # silently return NULL instead
        raise ValueError(f"percentile probs must be in [0, 1], got {bad}")
    carry = list(carry_first)
    rows = (df.select(F.col(group_col).alias("_g"),
                      F.col(value_col).cast("double").alias("_v"), *carry)
            .filter(F.col("_v").isNotNull())
            .withColumn("_one", F.lit(1).cast("long")))
    # SINGLE-prob small input (same split probe the prefix sum routes
    # on): the classic buffered aggregate IS the fastest exact form —
    # its per-group buffer is bounded by the probed input size, and its
    # cost scales with the prob count (k Percentile buffers), so only
    # k = 1 takes it; the window form is flat in k and wins beyond.
    par = df.sparkSession.sparkContext.defaultParallelism
    small = (small_input if small_input is not None
             else probe_num_partitions(rows) <= par)
    if len(probs) == 1 and small:
        return (rows.groupBy("_g")
                .agg(F.percentile("_v", F.lit(probs[0])).alias("_q0"),
                     *[F.first(c).alias(c) for c in carry])
                .withColumnRenamed("_g", group_col))
    cum = grouped_running_sum(rows, ["_g"], "_v", "_one", out_col="_cum",
                              total_col="_n", small_input=small)
    # rank r is covered by the single row with _cum == r+1; position is
    # Spark's maxPosition * percentage — (n-1) toDouble times p
    sel_aggs, qcols = [], []
    for i, p in enumerate(probs):
        pos = (F.col("_n") - 1).cast("double") * F.lit(p)
        sel_aggs += [
            F.max(F.when(F.floor(pos) + 1 == F.col("_cum"), F.col("_v")))
            .alias(f"_vlo{i}"),
            F.max(F.when(F.ceil(pos) + 1 == F.col("_cum"), F.col("_v")))
            .alias(f"_vhi{i}")]
    sel = (cum.groupBy("_g")
           .agg(F.first("_n").alias("_n"),
                *[F.first(c).alias(c) for c in carry], *sel_aggs))
    # Spark Percentile.getPercentile, verbatim: integral position or
    # equal neighbors -> lower value; else linear interpolation with
    # (higher − position) first — same fp op order, bit-identical
    for i, p in enumerate(probs):
        pos = (F.col("_n") - 1).cast("double") * F.lit(p)
        lo, hi = F.floor(pos), F.ceil(pos)
        vlo, vhi = F.col(f"_vlo{i}"), F.col(f"_vhi{i}")
        qcols.append(
            F.when(hi == lo, vlo)
            .when(vhi == vlo, vlo)
            .otherwise((hi.cast("double") - pos) * vlo
                       + (pos - lo.cast("double")) * vhi)
            .alias(f"_q{i}"))
    return (sel.select("_g", *carry, *qcols)
            .withColumnRenamed("_g", group_col))


def grouped_percentiles(df: DataFrame, group_col: str, value_col: str, *,
                        probs: Sequence[float] = (0.25, 0.5, 0.75, 0.95),
                        ndigits: int = 6) -> DataFrame:
    """Interpolated percentiles per group, one column per prob.

    Exact, through ``grouped_percentile_cont`` — the distributed form
    (grouped running count + conditional-max rank selection), which
    produces bit-identical values to ``F.percentile`` with NO
    one-buffer-per-group reducer and NO count pre-pass job, so it is
    safe at any group volume. A sketch is ``F.approx_percentile``
    (oracle-checked by ``approx_percentiles_check``).
    """
    probs = [float(p) for p in probs]
    # n_rows counts ALL rows (NULL values included, as the old
    # aggregate did); groups whose values are all NULL surface with
    # NULL percentiles via the left null-safe join
    n_rows = (df.groupBy(F.col(group_col).alias("_g"))
              .agg(F.count(F.lit(1)).cast("long").alias("n_rows")))
    qs = grouped_percentile_cont(df, group_col, value_col, probs)
    g, q = n_rows.alias("_nr"), qs.alias("_qs")
    out = g.join(q, F.col("_nr._g").eqNullSafe(F.col(f"_qs.{group_col}")),
                 "left")
    return out.select(
        F.col("_nr._g").alias(group_col),
        *[F.round(F.col(f"_qs._q{i}"), ndigits).alias(f"p{int(p * 100):02d}")
          for i, p in enumerate(probs)],
        F.col("_nr.n_rows"))


def corr_matrix(df: DataFrame, cols: Sequence[str], *,
                ndigits: int = 4) -> DataFrame:
    """Pairwise Pearson correlations, long form: (col_a, col_b, corr).

    All C(k,2) coefficients come out of ONE aggregation job (each
    ``F.corr`` is an independent agg expression sharing the scan), then
    unpivot driver-side-free via stack. Emitted rounded: corr folds
    sums of products, whose float accumulation order is partition-
    dependent — at ``ndigits`` well above the ~1e-12 relative noise the
    value is stable across engines and partitionings.
    """
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    agg = df.agg(*[F.round(F.corr(a, b), ndigits).alias(f"{a}__{b}")
                   for a, b in pairs])
    stack_args = ", ".join(f"'{a}', '{b}', `{a}__{b}`" for a, b in pairs)
    return agg.select(F.expr(
        f"stack({len(pairs)}, {stack_args}) AS (col_a, col_b, corr)"))


def zscore_outliers(df: DataFrame, group_col: str, value_col: str, *,
                    z_threshold: float = 2.0, ndigits: int = 4) -> DataFrame:
    """Rows whose ``value_col`` deviates more than ``z_threshold``
    population standard deviations from their group mean.

    Plan: per-group (avg, stddev_pop) is a tiny aggregate (one row per
    group) broadcast back onto the scan — the fact side is filtered
    in place without shuffling. ``stddev_pop`` (not sample) on both
    engines so the oracle SQL is unambiguous.
    """
    stats = df.groupBy(group_col).agg(
        F.avg(value_col).alias("_mu"),
        F.stddev_pop(value_col).alias("_sigma"))
    z = (F.col(value_col) - F.col("_mu")) / F.col("_sigma")
    return (df.join(F.broadcast(stats), group_col)
            .filter(F.col("_sigma") > 0)
            .withColumn("zscore", F.round(z, ndigits))
            .filter(F.abs(F.col("zscore")) > z_threshold)
            .drop("_mu", "_sigma"))


def fixed_histogram(df: DataFrame, value_col: str, *, width: float,
                    origin: float = 0.0) -> DataFrame:
    """Fixed-width histogram: integer bucket ids, counts, and ppm share.

    Fixed bounds (not data-driven min/max) keep the bucketing a pure
    scan-local expression — no extra pass to find the range, and bucket
    ids are stable as data grows. The share denominator re-aggregates
    the (bounded-cardinality) bucket frame, never a second fact scan.
    """
    bucket = F.floor((F.col(value_col) - F.lit(origin)) / F.lit(width))
    counts = (df.select(bucket.cast("long").alias("bucket"))
              .groupBy("bucket")
              .agg(F.count(F.lit(1)).cast("long").alias("n_rows")))
    total = counts.agg(F.sum("n_rows").alias("_total"))
    return (counts.crossJoin(F.broadcast(total))
            .select("bucket",
                    (F.col("bucket") * width + origin).alias("lo"),
                    ((F.col("bucket") + 1) * width + origin).alias("hi"),
                    "n_rows",
                    F.expr("n_rows * 1000000L div _total").alias("share_e6")))


def _cms_hash(key: F.Column) -> F.Column:
    # 15 hex chars = 60 bits, always non-negative, so `%` and pmod
    # agree on every engine; ONE md5 per row supplies all depth rows —
    # each depth takes a disjoint 15-bit slice (md5 bits are pairwise
    # independent), which is 4× less hashing than a seed-prefix md5
    # per depth for the same guarantee. Oracle-reproducible like the
    # det MinHash/SimHash families (operators/dedup.py).
    return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")


def _cms_bucket(h: F.Column, seed: int, width: int) -> F.Column:
    # depth ``seed`` reads bits [seed*15, seed*15+15) — supports depth
    # ≤ 4; width must be ≤ 32768 (and a power of two keeps the modulo
    # unbiased since 2^15 is divisible by it)
    return F.pmod(F.shiftright(h, seed * 15).bitwiseAND(F.lit(32767)),
                  F.lit(width))


def cms_cells(df: DataFrame, key_col: str, *, depth: int = 4,
              width: int = 1024) -> DataFrame:
    """Count-Min Sketch of ``key_col``'s frequency distribution:
    ``depth × width`` cells, each the count of keys hashing into that
    (row, bucket) slot — (depth_i, bucket, c).

    The frequency-sketch sibling of the HLL cardinality rollup and the
    Misra-Gries top-k (Cormode & Muthukrishnan 2005): point-queryable
    estimates for EVERY key in O(depth·width) space, one-sided error
    (never undercounts — only hash collisions inflate).

    Scale shape: the explode multiplies rows by ``depth`` BEFORE the
    exchange, but hash-aggregate map-side combine collapses each task's
    output to ≤ depth·width cell rows, so the shuffle carries at most
    ``depth·width·n_tasks`` rows regardless of input size — never the
    key space. Sketches MERGE by cell-wise addition (same (depth_i,
    bucket) grid), so per-partition / per-day sketches roll up exactly
    like the HLL registers in `hll_rollup`.
    """
    if depth > 4 or width > 32768:
        raise ValueError("the 60-bit hash supports depth <= 4 slices of "
                         f"15 bits (width <= 32768); got {depth}/{width}")
    from comix_etl_spark.operators.partitioning import spread_small_scan

    h = _cms_hash(F.col(key_col).cast("string"))
    cell = F.explode(F.array(*[
        F.struct(F.lit(i).alias("depth_i"),
                 _cms_bucket(h, i, width).alias("bucket"))
        for i in range(depth)])).alias("cell")
    # spread the slim key projection: the per-row md5 hash is the CPU
    # cost of the sketch build and a single-split input runs it on one
    # core (no-op at real split counts)
    return (spread_small_scan(
                df.filter(F.col(key_col).isNotNull()).select(key_col))
            .select(cell)
            .select("cell.depth_i", "cell.bucket")
            .groupBy("depth_i", "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("c")))


def cms_estimate(cells: DataFrame, probes: DataFrame, key_col: str, *,
                 depth: int = 4, width: int = 1024) -> DataFrame:
    """Point-query a Count-Min sketch: per probe key, the minimum over
    the ``depth`` cells it hashes into — (key, cms_est).

    The sketch is ≤ depth·width rows by construction, so it broadcasts;
    the probe side never shuffles. ``depth``/``width`` must match the
    build call — the hash family is positional.

    LEFT join + coalesce-to-0: ``cells`` stores only the NON-ZERO grid
    slots, but a real CMS array holds zeros — a probe key hashing into
    any empty cell must estimate from that 0 (and a never-seen key
    whose cells are all empty must return exactly 0), not silently
    drop out of the result or take min() over only its collided cells.
    """
    h = _cms_hash(F.col(key_col).cast("string"))
    probe_cells = probes.select(
        key_col, F.explode(F.array(*[
            F.struct(F.lit(i).alias("depth_i"),
                     _cms_bucket(h, i, width).alias("bucket"))
            for i in range(depth)])).alias("cell"))
    return (probe_cells
            .join(F.broadcast(cells),
                  (F.col("cell.depth_i") == cells["depth_i"])
                  & (F.col("cell.bucket") == cells["bucket"]), "left")
            .groupBy(key_col)
            .agg(F.min(F.coalesce(F.col("c"), F.lit(0)))
                 .cast("long").alias("cms_est")))


def cms_inner_product(cells_a: DataFrame, cells_b: DataFrame) -> DataFrame:
    """JOIN-SIZE ESTIMATE from two Count-Min sketches (the inner-product
    estimator of Cormode & Muthukrishnan 2005): |A ⋈ B| on the sketched
    key equals the dot product of the two key-frequency vectors, and
    min over depth of Σ_bucket cA·cB overestimates it by at most
    ‖A‖₁·‖B‖₁/width per row (one-sided, like the point query).

    One row out: (cms_est). The planner use case at 100 TB: both
    sketches are ≤ depth·width rows maintained incrementally (see
    streaming/windowed.py::foreach_batch_cms), so "how big would this
    join be" costs a sketch-×-sketch join over a few thousand rows —
    no scan of either fact table. Sketches must share depth/width
    (the hash family is positional).

    A depth row whose buckets don't overlap at all has dot product 0 —
    the estimate is then exactly 0 (an empty join detected from
    sketches alone). The sparse cell join drops such rows, so they are
    re-completed against the union of observed depth ids and coalesced
    to 0 before the min; two empty sketches estimate 0, never NULL.
    """
    # pin both sketches: each is consumed TWICE (the cell join and the
    # observed-depth union) and would otherwise rebuild from its fact
    # scan per consumer; a sketch is ≤ depth·width rows by construction,
    # far smaller than one rebuild. RETENTION (r14 advice): the
    # MEMORY_AND_DISK blocks live until the returned frame's RDD is
    # garbage-collected (ContextCleaner unpersists then) — a long-lived
    # session looping over MANY sketch pairs should drop plan
    # references promptly (as bench.py does) or call the un-pinned
    # cells frames itself; per-call block volume is ≤ 2·depth·width
    # rows, so steady-state pressure stays bounded by GC cadence.
    cells_a = cells_a.localCheckpoint(eager=False)
    cells_b = cells_b.localCheckpoint(eager=False)
    j = (cells_a.alias("a")
         .join(cells_b.alias("b"), ["depth_i", "bucket"]))
    per_row = (j.groupBy("depth_i")
               .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("dot")))
    depths = (cells_a.select("depth_i")
              .unionByName(cells_b.select("depth_i")).distinct())
    completed = (depths.join(per_row, "depth_i", "left")
                 .select(F.coalesce(F.col("dot"), F.lit(0)).alias("dot")))
    return completed.agg(
        F.coalesce(F.min("dot"), F.lit(0)).cast("long").alias("cms_est"))


def ams_f2(df: DataFrame, key_col: str, *, depth: int = 9) -> DataFrame:
    """AMS second-moment sketch (Alon-Matias-Szegedy 1996): estimate
    F2 = Σ_k f_k² — the self-join size / key-skew statistic — as the
    median over ``depth`` independent rows of (Σ_rows ±1)², with the
    ±1 drawn per key from the md5 seed-prefix family. One row out:
    (ams_est).

    Unlike CMS this is UNBIASED (two-sided error), and unlike the
    exact recount it needs ZERO key-space shuffle: each input row
    contributes only its sign, and every depth's partial sum is an
    independent agg expression over ONE scan (no depth× row explode)
    — the exchange carries one depth-wide partial row per task. The
    skew statistic
    that decides salting (operators/relational.py::salted_agg) becomes
    measurable at 100 TB for the cost of a count.

    Odd ``depth``: the median of an odd count is an exact ELEMENT, and
    it is selected by sort-and-limit over DECIMAL(38,0) squares — not
    an interpolating percentile over doubles, whose 2^53 mantissa
    would silently round z² beyond |z| ≈ 9.5e7. The returned estimate
    is exact integer math end to end; the int64 OUTPUT cast bounds the
    contract at F2 < 2^63 — the same ceiling any exact BIGINT recount
    of F2 has.
    """
    if depth % 2 == 0:
        raise ValueError(f"depth must be odd for an exact median, got {depth}")
    if depth > 60:
        raise ValueError(f"depth must be <= 60 (one sign bit per hash "
                         f"bit), got {depth}")
    k = F.col(key_col).cast("string")
    h = _cms_hash(k)  # ONE md5 per row; bit i is depth i's ±1 sign

    def sign(i: int) -> F.Column:
        bit = F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1))
        return (bit * 2 - 1).cast("long")

    # all depth partial sums are independent agg expressions over ONE
    # scan — no depth× row explode, no (depth_i) shuffle: the exchange
    # carries one depth-wide partial row per task. The slim key
    # projection is spread first so the per-row md5 runs across the
    # cluster on single-split inputs (no-op at real split counts).
    from comix_etl_spark.operators.partitioning import spread_small_scan

    agg_row = (spread_small_scan(df.filter(k.isNotNull())
                                 .select(F.col(key_col)))
               .select(h.alias("_h"))
               .agg(*[F.sum(sign(i)).cast("long").alias(f"_z{i}")
                      for i in range(depth)]))
    dec = "decimal(38,0)"
    z2 = agg_row.select(F.explode(F.array(*[
        (F.col(f"_z{i}").cast(dec) * F.col(f"_z{i}").cast(dec))
        for i in range(depth)])).alias("z2"))
    return (z2.orderBy("z2").limit(depth // 2 + 1)
            .orderBy(F.col("z2").desc()).limit(1)
            .select(F.col("z2").cast("long").alias("ams_est")))


def ks_two_sample(df: DataFrame, value_col: str, label_col: str, *,
                  d_scale: int = 1_000_000,
                  num_partitions: int | None = None) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov distance: one row
    (n_a, n_b, d_stat_e6) where d_stat_e6 = floor(d_scale · D) and
    D = max over values of |CDF_a - CDF_b|. ``label_col`` is boolean:
    true rows form sample A. The distribution-drift test that, unlike
    PSI (fixed reference bins) or chi-square (categorical), needs no
    binning choice at all.

    Scale shape: counts collapse per DISTINCT value first (one bounded
    wide exchange), then BOTH samples' cumulative counts run through
    ONE call of the distributed prefix sum (relational.py::
    global_running_sum's multi-measure form — range partition +
    broadcast offsets, no single-task window funnel). D compares
    cross-products (cum_a·n_b vs cum_b·n_a) in DECIMAL(38,0), so the
    statistic is exact integer math, bit-identical on every engine and
    partitioning, without the int64 ceiling (n_a·n_b overflows BIGINT
    at ~3M rows per sample; decimal carries to ~10^19 per sample).

    Either sample being EMPTY makes D undefined — the job fails with
    an assert message rather than emitting a NULL that a downstream
    ``d > threshold`` check would silently treat as "no drift".
    """
    from comix_etl_spark.operators.relational import global_running_sum

    is_a = F.col(label_col).cast("boolean")
    agg = (df.filter(F.col(value_col).isNotNull() & is_a.isNotNull())
           .groupBy(value_col)
           .agg(F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("_da"),
                F.sum(F.when(is_a, 0).otherwise(1)).cast("long").alias("_db"))
           .localCheckpoint(eager=False))
    totals = agg.agg(F.sum("_da").cast("long").alias("n_a"),
                     F.sum("_db").cast("long").alias("n_b"))
    cum = global_running_sum(agg, [value_col], ["_da", "_db"],
                             out_col=["_ca", "_cb"],
                             num_partitions=num_partitions)
    dec = "decimal(38,0)"
    m = (cum.crossJoin(F.broadcast(totals))
         .agg(F.max(F.abs(F.col("_ca").cast(dec) * F.col("n_b").cast(dec)
                          - F.col("_cb").cast(dec) * F.col("n_a").cast(dec)))
              .alias("_m")))
    # assert_true rides INSIDE the projected expression (a dropped
    # helper column would be pruned by Catalyst, silently disabling
    # the guard); it returns NULL on success, so the IF passes the
    # statistic through untouched
    d_expr = (f"CAST(IF(assert_true(n_a > 0 AND n_b > 0, "
              f"'ks_two_sample: one sample is empty - D is undefined') "
              f"IS NULL, (_m * {d_scale}) div "
              f"(CAST(n_a AS {dec}) * CAST(n_b AS {dec})), NULL) AS LONG)")
    return (totals.crossJoin(F.broadcast(m))
            .select("n_a", "n_b", F.expr(d_expr).alias("d_stat_e6")))
