"""Unit tests for the r4 operators: statistical profiling
(operators/profile.py), CDC changelog apply (operators/merge.py), and
salted two-phase aggregation (operators/relational.py).

The registry parity tests already diff these against DuckDB end-to-end;
the tests here pin the algebraic properties the oracles can't express:
diff/apply round-trip, salted == unsalted, planted-outlier detection,
and bucket-boundary semantics.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from comix_etl_spark.operators.merge import apply_changelog, snapshot_diff
from comix_etl_spark.operators.profile import (
    corr_matrix,
    fixed_histogram,
    grouped_percentiles,
    zscore_outliers,
)
from comix_etl_spark.operators.relational import salted_agg


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------------------
# apply_changelog
# ---------------------------------------------------------------------------

def test_apply_changelog_roundtrips_snapshot_diff(spark):
    """apply_changelog(old, diff(old, new)) == new — the pair of CDC
    operators must be mutually inverse."""
    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k int, s string, v double")
    new = spark.createDataFrame(
        [(1, "a", 10.0),          # unchanged
         (2, "B", 25.0),          # updated
         (4, "d", 40.0)],         # inserted; 3 deleted
        "k int, s string, v double")
    diff = snapshot_diff(old, new, ["k"], ["s", "v"])
    log = diff.select(
        "k", F.lit(1).alias("seq"), "op",
        F.col("new_s").alias("s"), F.col("new_v").alias("v"))
    applied = apply_changelog(old, log, ["k"], ["s", "v"])
    assert _rows(applied) == _rows(new)


def test_apply_changelog_last_op_wins(spark):
    """A later DELETE must beat an earlier UPDATE for the same key, and
    ops on distinct keys must not interfere."""
    snap = spark.createDataFrame([(1, 100.0), (2, 200.0)], "k int, v double")
    log = spark.createDataFrame(
        [(1, 1, "U", 111.0),
         (1, 2, "D", None),      # terminal: key 1 gone
         (2, 1, "U", 222.0),
         (3, 1, "I", 333.0)],
        "k int, seq int, op string, v double")
    out = _rows(apply_changelog(snap, log, ["k"], ["v"]))
    assert out == [(2, 222.0), (3, 333.0)]


def test_apply_changelog_empty_log_is_identity(spark):
    snap = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k int, v double")
    log = spark.createDataFrame([], "k int, seq int, op string, v double")
    assert _rows(apply_changelog(snap, log, ["k"], ["v"])) == _rows(snap)


# ---------------------------------------------------------------------------
# salted_agg
# ---------------------------------------------------------------------------

def test_salted_agg_equals_plain_groupby(spark):
    """Two-phase salted aggregation must be exactly the plain GROUP BY —
    on a deliberately hot-keyed frame, with decimal measures so float
    ordering can't blur the comparison."""
    rows = [("hot", i) for i in range(5000)] + [("cold", i) for i in range(7)]
    df = (spark.createDataFrame(rows, "k string, v long")
          .select("k", F.col("v").cast("decimal(18,4)").alias("v")))
    salted = salted_agg(df, ["k"], "v", salts=16)
    plain = df.groupBy("k").agg(F.sum("v").alias("sum_v"),
                                F.count(F.lit(1)).cast("long").alias("n_rows"))
    assert _rows(salted) == _rows(plain)


# ---------------------------------------------------------------------------
# zscore_outliers
# ---------------------------------------------------------------------------

def test_zscore_flags_planted_outlier(spark):
    """One planted far-out value must be the only row flagged."""
    rows = [("g", float(v)) for v in [10, 11, 9, 10, 12, 10, 9, 11, 10, 1000]]
    df = spark.createDataFrame(rows, "g string, v double")
    out = zscore_outliers(df, "g", "v", z_threshold=2.0).collect()
    assert len(out) == 1 and out[0]["v"] == 1000.0 and out[0]["zscore"] > 2.0


def test_zscore_zero_variance_group_emits_nothing(spark):
    df = spark.createDataFrame([("g", 5.0)] * 4, "g string, v double")
    assert zscore_outliers(df, "g", "v", z_threshold=1.0).count() == 0


# ---------------------------------------------------------------------------
# fixed_histogram
# ---------------------------------------------------------------------------

def test_fixed_histogram_boundaries_and_shares(spark):
    """Values on a bucket edge belong to the HIGHER bucket (floor
    semantics); negatives land in negative buckets; shares sum ≈ 1e6."""
    df = spark.createDataFrame(
        [(x,) for x in [-0.5, 0.0, 9.99, 10.0, 19.99, 25.0]], "v double")
    got = {r["bucket"]: (r["n_rows"], r["lo"], r["hi"])
           for r in fixed_histogram(df, "v", width=10.0).collect()}
    assert got[-1][0] == 1          # -0.5 → bucket -1
    assert got[0] == (2, 0.0, 10.0)  # 0.0 and 9.99
    assert got[1][0] == 2           # 10.0 (edge → up) and 19.99
    assert got[2][0] == 1           # 25.0
    total_share = sum(r["share_e6"] for r in fixed_histogram(df, "v", width=10.0).collect())
    assert 1_000_000 - 4 <= total_share <= 1_000_000  # integer-div rounding


# ---------------------------------------------------------------------------
# grouped_percentiles / corr_matrix
# ---------------------------------------------------------------------------

def test_grouped_percentiles_interpolation(spark):
    """percentile_cont semantics: p50 of [1,2,3,4] is 2.5 (interpolated),
    p25 is 1.75."""
    df = spark.createDataFrame([("g", float(v)) for v in (1, 2, 3, 4)],
                               "g string, v double")
    row = grouped_percentiles(df, "g", "v", probs=(0.25, 0.5)).collect()[0]
    assert row["p25"] == pytest.approx(1.75)
    assert row["p50"] == pytest.approx(2.5)
    assert row["n_rows"] == 4


def test_grouped_percentile_cont_rejects_probs_outside_unit_interval(spark):
    """A prob outside [0, 1] raises, as F.percentile does, instead of
    silently returning NULL quantiles — on both the single-prob and
    the multi-prob route."""
    from comix_etl_spark.operators.profile import (grouped_percentile_cont,
                                                   grouped_percentiles)

    df = spark.createDataFrame([("a", 1.0), ("a", 2.0), ("b", 3.0)],
                               "g string, v double")
    for probs in ((1.5,), (0.5, -0.1), (float("nan"),)):
        with pytest.raises(ValueError, match=r"\[0, 1\]"):
            grouped_percentile_cont(df, "g", "v", probs)
    with pytest.raises(ValueError, match=r"\[0, 1\]"):
        grouped_percentiles(df, "g", "v", probs=(0.5, 95))
    assert {r["g"]: r["_q0"] for r in grouped_percentile_cont(
        df, "g", "v", (0.0, 1.0)).collect()} == {"a": 1.0, "b": 3.0}


def test_grouped_percentile_cont_matches_percentile_bitwise(spark):
    """r15 distributed exact percentile (r14 verdict #1): the
    collapse -> range-partitioned prefix sum -> broadcast rank probe
    form must reproduce F.percentile BIT-FOR-BIT — same (n-1)*p
    position, same (higher-position)*v_lo + (position-lower)*v_hi
    interpolation order, same no-interpolation short-circuits — on
    data with ties, NULL values, a NULL group key, and a 1-row group."""
    import random

    from comix_etl_spark.operators.profile import grouped_percentile_cont

    random.seed(11)
    rows = []
    for g, n in (("a", 500), ("b", 37), (None, 9), ("one", 1)):
        for _ in range(n):
            v = (42.0 if g == "one"
                 else random.choice([None, float(random.randint(0, 20)),
                                     random.random() * 100]))
            rows.append((g, v))
    df = spark.createDataFrame(rows, "g string, v double")
    probs = (0.0, 0.25, 0.5, 2.0 / 3, 0.95, 1.0)
    old = {r[0]: tuple(r[1:]) for r in df.groupBy("g").agg(
        *[F.percentile("v", F.lit(p)).alias(f"q{i}")
          for i, p in enumerate(probs)]).collect()}
    new = {r[0]: tuple(r[1:]) for r in
           grouped_percentile_cont(df, "g", "v", probs).collect()}
    for g, vals in old.items():
        assert new[g] == vals  # exact float equality, not approx


def test_corr_matrix_matches_numpy(spark):
    import numpy as np

    rng = [(float(i), float(2 * i + 1), float((-1) ** i * i)) for i in range(50)]
    df = spark.createDataFrame(rng, "a double, b double, c double")
    got = {(r["col_a"], r["col_b"]): r["corr"] for r in corr_matrix(df, ["a", "b", "c"]).collect()}
    m = np.corrcoef(np.array(rng).T)
    assert got[("a", "b")] == pytest.approx(round(m[0, 1], 4))
    assert got[("a", "c")] == pytest.approx(round(m[0, 2], 4))
    assert got[("b", "c")] == pytest.approx(round(m[1, 2], 4))


# ---------------------------------------------------------------------------
# constraint_report
# ---------------------------------------------------------------------------

def test_constraint_report_counts_planted_violations(spark):
    from comix_etl_spark.operators.quality import constraint_report

    df = spark.createDataFrame(
        [(1, "a", 10.0), (1, "b", -5.0), (2, None, 3.0), (3, "c", None)],
        "k int, s string, v double")
    rep = {r["constraint"]: (r["n_violations"], r["n_rows"])
           for r in constraint_report(
               df, not_null=("s",), unique=(("k",),),
               checks=(("v_positive", F.col("v") > 0),)).collect()}
    assert rep["not_null:s"] == (1, 4)
    assert rep["unique:k"] == (1, 4)       # two k=1 rows
    assert rep["check:v_positive"] == (2, 4)  # -5 fails, NULL fails


# ---------------------------------------------------------------------------
# approx percentiles error bound
# ---------------------------------------------------------------------------

def test_approx_percentile_within_accuracy_bound(spark, sf_small):
    """percentile_approx(accuracy=1000) must land within 2/1000 of the
    group's rank range of the exact percentile (2x the documented GK
    bound — merges across partitions can consume the whole budget)."""
    from comix_etl_spark.session import load_tables

    li = load_tables(spark, sf_small, ("lineitem",))["lineitem"]
    joined = (
        li.groupBy("l_returnflag")
        .agg(F.percentile_approx("l_extendedprice", 0.5, 1000).alias("approx"),
             F.percentile("l_extendedprice", 0.5).alias("exact"),
             F.expr("percentile(l_extendedprice, 0.502)").alias("hi"),
             F.expr("percentile(l_extendedprice, 0.498)").alias("lo"))
        .collect())
    for r in joined:
        assert r["lo"] <= r["approx"] <= r["hi"], (
            f"{r['l_returnflag']}: approx {r['approx']} outside "
            f"[{r['lo']}, {r['hi']}] around exact {r['exact']}")


# ---------------------------------------------------------------------------
# global_running_sum
# ---------------------------------------------------------------------------

def test_global_running_sum_matches_single_window(spark):
    """The range-partitioned prefix sum must equal the single-task
    global window exactly, including with a descending tiebreak."""
    from pyspark.sql import Window

    from comix_etl_spark.operators.relational import global_running_sum

    rows = [(i % 7, (-1) ** i, i) for i in range(500)]
    df = spark.createDataFrame(rows, "k int, delta int, uid int")
    got = global_running_sum(df, ["k", "delta", "uid"], "delta",
                             out_col="run", descending=[False, True, False])
    w = (Window.orderBy(F.asc("k"), F.desc("delta"), F.asc("uid"))
         .rowsBetween(Window.unboundedPreceding, 0))
    want = df.withColumn("run", F.sum("delta").over(w))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_apply_changelog_batchwise_composition(spark):
    """Applying a changelog in seq-ordered micro-batches must equal
    applying the whole log at once — the property a foreachBatch CDC
    sink relies on (each batch's seqs all follow the previous batch's)."""
    snap = spark.createDataFrame(
        [(i, float(i * 10)) for i in range(1, 8)], "k int, v double")
    log1 = spark.createDataFrame(
        [(2, 1, "U", 222.0), (3, 1, "D", None), (9, 1, "I", 900.0)],
        "k int, seq int, op string, v double")
    log2 = spark.createDataFrame(
        [(2, 2, "D", None), (9, 2, "U", 901.0), (5, 2, "U", 555.0)],
        "k int, seq int, op string, v double")
    stepped = apply_changelog(
        apply_changelog(snap, log1, ["k"], ["v"]), log2, ["k"], ["v"])
    oneshot = apply_changelog(snap, log1.unionByName(log2), ["k"], ["v"])
    assert _rows(stepped) == _rows(oneshot)


def test_temperature_downsample_interpolates(spark):
    """alpha=0 equals balance_downsample's uniform rates; alpha=1 keeps
    everything; alpha=0.5 sits strictly between for a skewed group."""
    from comix_etl_spark.operators.sampling import (
        balance_downsample, temperature_downsample)

    rows = [(i, "big") for i in range(900)] + [(i + 1000, "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    n_all = temperature_downsample(df, "doc_id", "grp", alpha=1.0).count()
    n_mid = temperature_downsample(df, "doc_id", "grp", alpha=0.5).count()
    n_flat = temperature_downsample(df, "doc_id", "grp", alpha=0.0).count()
    n_bal = balance_downsample(df, "doc_id", "grp").count()
    assert n_all == 1000
    assert abs(n_flat - n_bal) <= 1   # same rule modulo floor-vs-div rounding
    assert n_flat < n_mid < n_all


def test_cms_never_undercounts_and_merges_cellwise(spark):
    from comix_etl_spark.operators.profile import cms_cells, cms_estimate

    rows = [(i % 37,) for i in range(2000)] + [(999,)] * 150
    df = spark.createDataFrame(rows, "k long")
    cells = cms_cells(df, "k", depth=4, width=64)
    truth = df.groupBy("k").agg(F.count(F.lit(1)).alias("true_n"))
    est = cms_estimate(cells, truth.select("k"), "k", depth=4, width=64)
    joined = {r.k: (r.true_n, r.cms_est)
              for r in truth.join(est, "k").collect()}
    assert len(joined) == 38
    # one-sided error: a CMS point query can only overcount
    assert all(e >= t for t, e in joined.values())
    # width=64 << 38 keys forces collisions yet the planted heavy
    # hitter's estimate stays within the eps*N bound (eps = e/width)
    t999, e999 = joined[999]
    assert t999 == 150 and e999 - 150 <= (3 * 2150) // 64

    # never-seen probe keys must still produce a row (left join to the
    # sparse cell set), with 0 <= est <= N — NOT drop out of the result
    absent = spark.createDataFrame([(777777,), (888888,)], "k long")
    got = {r.k: r.cms_est for r in
           cms_estimate(cells, absent, "k", depth=4, width=64).collect()}
    assert set(got) == {777777, 888888}
    assert all(0 <= e <= 2150 for e in got.values())
    # against an EMPTY sketch every cell is an implicit zero: exactly 0
    empty_cells = cms_cells(df.filter(F.col("k") < 0), "k",
                            depth=4, width=64)
    zeros = {r.k: r.cms_est for r in
             cms_estimate(empty_cells, absent, "k",
                          depth=4, width=64).collect()}
    assert zeros == {777777: 0, 888888: 0}

    # mergeability: sketch(half1) + sketch(half2), cell-wise, must equal
    # sketch(whole) exactly — the property that makes per-day/per-shard
    # sketches roll up like HLL registers
    h1 = cms_cells(df.filter(F.col("k") < 19), "k", depth=4, width=64)
    h2 = cms_cells(df.filter(F.col("k") >= 19), "k", depth=4, width=64)
    merged = (h1.unionByName(h2).groupBy("depth_i", "bucket")
              .agg(F.sum("c").cast("long").alias("c")))
    whole = {(r.depth_i, r.bucket): r.c for r in cells.collect()}
    assert {(r.depth_i, r.bucket): r.c for r in merged.collect()} == whole


def test_cms_inner_product_exact_without_collisions(spark):
    """With width >> distinct keys the dot product has (almost surely)
    no colliding terms, so the estimate equals the true join size; with
    a tiny width it still never undercounts."""
    from comix_etl_spark.operators.profile import cms_cells, cms_inner_product

    a = spark.createDataFrame([(i % 7,) for i in range(70)], "k long")
    b = spark.createDataFrame([(i % 5,) for i in range(25)], "k long")
    true_n = a.join(b, "k").count()   # keys 0..4 -> 10*5*5 = 250
    assert true_n == 250
    wide = cms_inner_product(
        cms_cells(a, "k", depth=4, width=8192),
        cms_cells(b, "k", depth=4, width=8192)).collect()[0].cms_est
    assert wide == 250
    narrow = cms_inner_product(
        cms_cells(a, "k", depth=4, width=4),
        cms_cells(b, "k", depth=4, width=4)).collect()[0].cms_est
    assert narrow >= 250

    # disjoint key spaces: any depth with zero bucket overlap must
    # contribute dot = 0 (not vanish from the min), so the estimate
    # detects the empty join instead of returning NULL or inflating
    c = spark.createDataFrame([(i + 100000,) for i in range(10)], "k long")
    disjoint = cms_inner_product(
        cms_cells(a, "k", depth=4, width=16384),
        cms_cells(c, "k", depth=4, width=16384)).collect()[0].cms_est
    assert disjoint == 0
    # two empty sketches -> 0, never NULL
    empty = cms_cells(a.filter(F.col("k") < 0), "k", depth=4, width=16384)
    assert cms_inner_product(empty, empty).collect()[0].cms_est == 0


def test_ams_f2_estimates_skew_and_rejects_even_depth(spark):
    from comix_etl_spark.operators.profile import ams_f2

    # hot key dominates: F2 = 400^2 + 100*1 = 160100
    rows = [("hot",)] * 400 + [(f"u{i}",) for i in range(100)]
    df = spark.createDataFrame(rows, "k string")
    est = ams_f2(df, "k", depth=9).collect()[0].ams_est
    true_f2 = 400 * 400 + 100
    # deterministic md5 signs; median-of-9 keeps the estimate within a
    # small constant factor of the truth on a skew-dominated input
    assert true_f2 / 5 <= est <= true_f2 * 5
    with pytest.raises(ValueError, match="odd"):
        ams_f2(df, "k", depth=8)


def test_ks_two_sample_bounds_and_shift(spark):
    from comix_etl_spark.operators.profile import ks_two_sample

    # identical distributions -> D = 0
    rows = [(float(i % 50), True) for i in range(200)] \
        + [(float(i % 50), False) for i in range(200)]
    df = spark.createDataFrame(rows, "v double, a boolean")
    r = ks_two_sample(df, "v", "a").collect()[0]
    assert (r.n_a, r.n_b, r.d_stat_e6) == (200, 200, 0)

    # disjoint supports -> D = 1 (scaled)
    rows = [(float(i), True) for i in range(100)] \
        + [(float(i + 1000), False) for i in range(100)]
    df = spark.createDataFrame(rows, "v double, a boolean")
    assert ks_two_sample(df, "v", "a").collect()[0].d_stat_e6 == 1_000_000
    # a uniform sample vs the same sample shifted by half its range:
    # D = 0.5 exactly (100 of 200 values lie below the other's support)
    rows = [(float(i), True) for i in range(200)] \
        + [(float(i + 100), False) for i in range(200)]
    df = spark.createDataFrame(rows, "v double, a boolean")
    assert ks_two_sample(df, "v", "a").collect()[0].d_stat_e6 == 500_000


def test_dsir_importance_ranks_target_like_docs_higher(spark):
    """Documents drawn from the target vocabulary must outscore
    documents from a disjoint vocabulary; weights are integer
    micro-nats summed exactly (rerun-stable)."""
    from comix_etl_spark.operators.sampling import dsir_importance

    tgt_text = "the quick brown fox jumps over the lazy dog again and again"
    src_text = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    rows = ([(i, tgt_text) for i in range(10)]
            + [(100 + i, src_text) for i in range(30)])
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    target = corpus.filter("doc_id < 10")
    out = dsir_importance(corpus, target, id_col="doc_id",
                          text_col="text", buckets=512)
    w = {r.doc_id: r.dsir_weight_e6 for r in out.collect()}
    assert len(w) == 40
    assert min(w[i] for i in range(10)) > max(w[100 + i] for i in range(30))
    # deterministic across executions
    w2 = {r.doc_id: r.dsir_weight_e6 for r in dsir_importance(
        corpus, target, id_col="doc_id", text_col="text",
        buckets=512).collect()}
    assert w == w2


def test_dsir_importance_empty_target_fails_loud(spark):
    """Review r8: an empty target must raise, not silently NULL every
    weight (which would turn downstream top-k into arbitrary picks)."""
    import pytest

    from comix_etl_spark.operators.sampling import dsir_importance

    corpus = spark.createDataFrame(
        [(1, "some words here"), (2, "other words there")],
        "doc_id long, text string")
    empty_target = corpus.filter("doc_id < 0")
    with pytest.raises(Exception, match="target set is empty"):
        dsir_importance(corpus, empty_target, id_col="doc_id",
                        text_col="text", buckets=64).collect()
