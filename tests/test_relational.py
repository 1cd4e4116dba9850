"""Relational-operator tests not already covered by oracle parity."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from comix_etl_spark.operators.relational import (
    global_rank,
    group_count_topk,
    keyed_scan,
    search_substring,
)


def test_global_rank_matches_global_window(spark):
    """Range-partitioned rank must equal row_number() OVER (ORDER BY k)
    exactly, across many partitions and an awkward row count."""
    df = spark.range(0, 1003).select(
        F.concat(F.lit("k"), F.lpad(F.col("id").cast("string"), 6, "0")).alias("k"))
    got = {r.k: r.rank for r in global_rank(df, "k", num_partitions=7).collect()}
    want = {r.k: r.rn for r in df.withColumn(
        "rn", F.row_number().over(Window.orderBy("k"))).collect()}
    assert got == want


def test_global_rank_single_partition_and_empty(spark):
    one = spark.createDataFrame([("z",)], "k string")
    assert global_rank(one, "k").collect()[0].rank == 1
    empty = spark.createDataFrame([], "k string")
    assert global_rank(empty, "k").count() == 0


def _catalog(spark, tmp_path):
    """A 4-file parquet catalog: key ``k`` (5 values, each spread over
    every file), a distinct ``other`` out of id order, a title and a
    label."""
    path = str(tmp_path / "catalog")
    (spark.range(0, 200, 1, 4)
     .select((F.col("id") % 5).alias("k"),
             ((F.col("id") * 7919) % 1009).alias("other"),
             F.concat(F.lit("title "), F.col("id").cast("string")).alias("title"),
             F.concat(F.lit("c"), (F.col("id") % 7).cast("string")).alias("label"))
     .write.parquet(path))
    return spark.read.parquet(path)


def _plan_text(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_serve_ops_job_counts(spark, tmp_path, count_jobs):
    """Each serve shape's Spark jobs per call. A lookup ordered by its
    own key is one scan job, hit or miss: the global sort it used to
    run added a range-sampling job and a shuffle-map job. Top-k is a
    ceiling at its current count."""
    cat = _catalog(spark, tmp_path)
    for key, n in ((3, 40), (99, 0)):
        rows, jobs = count_jobs(lambda: keyed_scan(cat, "k", key, ["k"]).collect())
        assert (len(rows), jobs) == (n, 1), (key, len(rows), jobs)
    rows, jobs = count_jobs(
        lambda: search_substring(cat, "title", "TITLE 1", ["title", "k"]).collect())
    assert len(rows) == 50 and jobs == 1, (len(rows), jobs)
    dim = cat.filter(F.col("other") < 500).select("other")
    rows, jobs = count_jobs(
        lambda: group_count_topk(cat, dim, "other", "label", 3).collect())
    assert len(rows) == 3 and jobs <= 3, (len(rows), jobs)


def test_keyed_scan_drops_pinned_order_keys(spark, tmp_path):
    """Ordering by the filtered key is dropped wherever it sits in
    ``order_by``; the remaining keys still sort globally over rows read
    from several input partitions, and a NULL key returns no rows."""
    cat = _catalog(spark, tmp_path)
    assert cat.rdd.getNumPartitions() >= 2
    want = sorted(((r.k, r.other, r.title) for r in cat.collect() if r.k == 3),
                  key=lambda r: r[1])
    for order in (["k", "other"], ["other", "k"]):
        df = keyed_scan(cat, "k", 3, order)
        assert [(r.k, r.other, r.title) for r in df.select("k", "other", "title").collect()] == want
        assert "Exchange rangepartitioning" in _plan_text(df), order

    pinned = keyed_scan(cat, "k", 3, ["k"])
    assert "Exchange rangepartitioning" not in _plan_text(pinned)
    assert sorted((r.k, r.other, r.title) for r in pinned.select("k", "other", "title").collect()) \
        == sorted(want)

    none = keyed_scan(cat, "k", None, ["k", "other"])
    assert none.schema == cat.schema
    assert none.collect() == []


def test_hash_split_partitioning_invariant(spark):
    """The same key must land in the same split regardless of
    parallelism — the property randomSplit does NOT have."""
    from comix_etl_spark.operators.sampling import hash_split

    df = spark.range(0, 2000).select(F.col("id").alias("k"))
    a = {r.k: r.split for r in hash_split(df.repartition(1), "k").collect()}
    b = {r.k: r.split for r in hash_split(df.repartition(17), "k").collect()}
    assert a == b
    frac = sum(1 for v in a.values() if v == "test") / len(a)
    assert 0.05 < frac < 0.15  # ~10%


def test_group_hash_sample_exact_n_and_partitioning_invariant(spark):
    from comix_etl_spark.operators.sampling import group_hash_sample

    rows = [(i, f"g{i % 3}") for i in range(300)]
    df = spark.createDataFrame(rows, "k long, g string")
    a = group_hash_sample(df, ["g"], "k", 5)
    got = {(r.g, r.k) for r in a.collect()}
    per_group = {}
    for g, k in got:
        per_group.setdefault(g, set()).add(k)
    assert all(len(v) == 5 for v in per_group.values())
    # identical survivors under a different physical partitioning
    b = group_hash_sample(df.repartition(17), ["g"], "k", 5)
    assert {(r.g, r.k) for r in b.collect()} == got


def test_approx_cardinality_error_bound(spark, sf_small):
    from pyspark.sql import functions as F

    from comix_etl_spark.plans.queries import QUERIES

    approx = QUERIES["approx_cardinality"].builder(spark, sf_small).collect()[0]
    li = spark.read.parquet(f"{sf_small}/lineitem.parquet")
    od = spark.read.parquet(f"{sf_small}/orders.parquet")
    exact = {
        "approx_parts": li.select("l_partkey").distinct().count(),
        "approx_suppliers": li.select("l_suppkey").distinct().count(),
        "approx_customers": od.select("o_custkey").distinct().count(),
    }
    for col, ex in exact.items():
        rel_err = abs(getattr(approx, col) - ex) / max(ex, 1)
        assert rel_err < 0.05, f"{col}: approx={getattr(approx, col)} exact={ex}"


def test_skyline_2d_hand_graded(spark):
    """Frontier on (x lower-better, y higher-better): dominated rows
    drop, equal-(x,y) duplicates both survive, same-x smaller-y drops."""
    from comix_etl_spark.operators.relational import skyline_2d

    rows = [(1, 1.0, 5), (2, 2.0, 9), (3, 2.0, 9),   # 2,3: equal pair, both stay
            (4, 2.0, 4),                              # same x as 2, worse y
            (5, 3.0, 9),                              # worse x, same y as 2
            (6, 5.0, 10),                             # best y — frontier
            (7, 0.5, 1)]                              # best x — frontier
    df = spark.createDataFrame(rows, "id long, x double, y long")
    got = sorted(r.id for r in skyline_2d(df, "id", "x", "y").collect())
    assert got == [1, 2, 3, 6, 7]


def test_gaps_in_sequence_hand_graded(spark):
    """Keys {1,2,5,6,10} → gaps (3-4, len 2) and (7-9, len 3); a dense
    run has none. Forced onto many range partitions so the seam logic
    (last row of one partition peeking at the next partition's min)
    actually executes."""
    from comix_etl_spark.operators.relational import gaps_in_sequence

    df = spark.createDataFrame([(k,) for k in (1, 2, 5, 6, 10)], "k long")
    got = sorted((r.gap_start, r.gap_end, r.gap_len)
                 for r in gaps_in_sequence(df, "k", num_partitions=4).collect())
    assert got == [(3, 4, 2), (7, 9, 3)]
    dense = spark.createDataFrame([(k,) for k in range(50)], "k long")
    assert gaps_in_sequence(dense, "k", num_partitions=8).count() == 0


def test_salted_paths_under_genuine_skew(spark):
    """Skew stress for the salted aggregate: one key holds 30% of a
    20k-row fact. Asserts (1) salted_agg == plain agg under real skew,
    (2) the documented whole-row salt genuinely fans the hot key out
    over most of the salt space (a salt keyed only on the group key
    would collapse to 1 and this fails), (3) the two-phase agg plan
    shape: two exchanges (partial + merge) where the plain agg has
    one."""
    from comix_etl_spark.operators.relational import salted_agg
    from comix_etl_spark.plans.introspect import plan_summary

    n, hot_share = 20_000, 0.3
    n_hot = int(n * hot_share)
    fact = spark.range(n).select(
        F.when(F.col("id") < n_hot, F.lit("hot"))
         .otherwise(F.concat(F.lit("k"), (F.col("id") % 700).cast("string")))
         .alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
        F.col("id").alias("rid"))
    # (1) agg equality
    plain_agg = {r.k: (r.s, r.c) for r in
                 fact.groupBy("k").agg(F.sum("v").alias("s"),
                                       F.count(F.lit(1)).alias("c")).collect()}
    got_agg = {r.k: (r.sum_v, r.n_rows)
               for r in salted_agg(fact, ["k"], "v", salts=16).collect()}
    assert got_agg == plain_agg
    assert got_agg["hot"][1] == n_hot

    # (2) fan-out: the documented whole-row salt spreads the hot key
    # over most of the 16-salt space (docstring contract: salt = hash
    # of the whole row, so distinct rows under one key get distinct salts)
    fanout = (fact.filter(F.col("k") == "hot")
              .select(F.pmod(F.xxhash64("k", "v", "rid"), F.lit(16))
                      .alias("_salt"))
              .distinct().count())
    assert fanout >= 12, fanout

    # (3) two-phase plan shape: one extra exchange vs the plain agg
    plain_x = plan_summary(
        fact.groupBy("k").agg(F.sum("v"), F.count(F.lit(1)))).n_exchanges
    salted_x = plan_summary(salted_agg(fact, ["k"], "v", salts=16)).n_exchanges
    assert plain_x == 1 and salted_x == 2, (plain_x, salted_x)


def test_heavy_hitters_exact_adversarial_capacity(spark):
    """Misra-Gries candidates must survive capacity pressure: 2000
    distinct noise values (each count 1-2) + 12 planted hitters, with
    capacity 32 << cardinality. The result must equal the full
    groupBy's top-10 exactly."""
    from comix_etl_spark.operators.relational import heavy_hitters_exact

    rows = [(f"noise{i % 2000}",) for i in range(3000)]
    for j in range(12):
        rows += [(f"hot{j:02d}",)] * (400 - 10 * j)
    df = spark.createDataFrame(rows, "v string").repartition(8)

    got = [(r.v, r.cnt) for r in heavy_hitters_exact(
        df, "v", k=10, capacity=32).collect()]
    want = [(r.v, r.cnt) for r in
            df.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "v").limit(10).collect()]
    assert got == want


def test_heavy_hitters_exact_refuses_uncertifiable(spark):
    """A flat distribution under a tiny capacity cannot be certified:
    the operator must raise, not silently return a maybe-wrong top-k."""
    import pytest

    from comix_etl_spark.operators.relational import heavy_hitters_exact

    df = spark.createDataFrame([(f"u{i % 500}",) for i in range(2000)],
                               "v string").repartition(8)
    with pytest.raises(ValueError, match="cannot certify"):
        heavy_hitters_exact(df, "v", k=10, capacity=8)


def test_heavy_hitters_exact_certifies_light_tail_when_no_decrement(spark):
    """When no partition ever overflowed capacity, the measured MG
    error is 0 and the candidate set holds EVERY distinct value — the
    result is exact and must NOT be refused, even though the k-th count
    sits far below the worst-case N/(capacity+1) pigeonhole threshold
    (50+1 rows, k-th count 1 ≤ 51/17: the old worst-case test would
    spuriously raise here)."""
    from comix_etl_spark.operators.relational import heavy_hitters_exact

    df = spark.createDataFrame([("a",)] * 50 + [("b",)], "v string") \
        .repartition(4)
    got = [(r.v, r.cnt) for r in heavy_hitters_exact(
        df, "v", k=2, capacity=16).collect()]
    assert got == [("a", 50), ("b", 1)]


def test_heavy_hitters_exact_ignores_nulls(spark):
    from comix_etl_spark.operators.relational import heavy_hitters_exact

    df = spark.createDataFrame(
        [("a",)] * 50 + [("b",)] * 30 + [(None,)] * 100, "v string")
    got = [(r.v, r.cnt) for r in heavy_hitters_exact(
        df, "v", k=2, capacity=16).collect()]
    assert got == [("a", 50), ("b", 30)]


def test_quality_probes_null_and_empty_edges(spark):
    """Review fixes: (1) an EMPTY table reports 0 nulls, not NULL;
    (2) NULL-component keys are counted by the distinct (a lone NULL
    key row is NOT a duplicate); (3) an expected-but-missing batch
    surfaces as an n_rows=0 FAIL row; (4) a quote in a check label
    must not break the stack SQL."""
    from comix_etl_spark.operators.quality import (
        constraint_report,
        duplicate_key_count,
        guardrail_report,
        null_counts,
    )

    empty = spark.createDataFrame([], "a string, b long")
    row = empty.agg(*null_counts(["a", "b"])).collect()[0]
    assert (row.total_rows, row.null_a, row.null_b) == (0, 0, 0)

    nk = spark.createDataFrame([(None, 1), (None, 2), (3, 3)],
                               "k1 long, v long")
    assert duplicate_key_count(nk, ["k1", "v"]).collect()[0].duplicate_keys == 0
    dup = spark.createDataFrame([(None,), (None,), (1,)], "k1 long")
    # two identical NULL keys ARE one duplicate (struct distinct = 2)
    assert duplicate_key_count(dup, ["k1"]).collect()[0].duplicate_keys == 1

    batches = spark.createDataFrame([("d1",)] * 8 + [("d2",)] * 10,
                                    "day string")
    expected = spark.createDataFrame(
        [("d1", 10), ("d2", 10), ("d3", 10)], "day string, expected_rows long")
    rep = {r.day: (r.n_rows, r.passes) for r in
           guardrail_report(batches, ["day"], expected).collect()}
    assert rep["d1"] == (8, True) and rep["d2"] == (10, True)
    assert rep["d3"] == (0, False)   # missing batch must FAIL, not vanish

    rep2 = {r.constraint: r.n_violations for r in constraint_report(
        nk, checks=[("v isn't huge", F.col("v") < 100)]).collect()}
    assert rep2["check:v isn't huge"] == 0


def test_balance_downsample_null_group_does_not_anchor_min(spark):
    """Review fix: NULL-group rows are excluded consistently — they
    must neither appear in the output nor let a phantom group's small
    count slash every real group's rate."""
    from comix_etl_spark.operators.sampling import balance_downsample

    rows = ([(f"a{i}", "x") for i in range(400)]
            + [(f"b{i}", "y") for i in range(400)]
            + [(f"n{i}", None) for i in range(4)])
    df = spark.createDataFrame(rows, "k string, g string")
    out = balance_downsample(df, "k", "g")
    got = {r.g for r in out.collect()}
    assert None not in got
    # both real groups are their own min (rate 1e6): everything kept —
    # pre-fix the NULL group's count (4) cut each group to ~1%
    assert out.count() == 800


def test_interval_ops_reject_reversed_intervals(spark):
    import pytest

    from comix_etl_spark.operators.temporal import (
        interval_overlap_pairs,
        range_join_points_intervals,
    )

    iv = spark.createDataFrame(
        [(1, "2024-01-10 00:00:00", "2024-01-01 00:00:00"),
         (2, "2024-01-01 00:00:00", "2024-01-05 00:00:00")],
        "id long, s string, e string") \
        .select("id", F.col("s").cast("timestamp").alias("s"),
                F.col("e").cast("timestamp").alias("e"))
    with pytest.raises(Exception, match="reversed interval"):
        interval_overlap_pairs(iv, id_col="id",
                               start_col="s", end_col="e").collect()
    pts = spark.createDataFrame([("2024-01-02 00:00:00",)], "p string") \
        .select(F.col("p").cast("timestamp").alias("p"))
    with pytest.raises(Exception, match="reversed interval"):
        range_join_points_intervals(pts, iv, point_col="p", start_col="s",
                                    end_col="e", bin_seconds=86400).collect()


def test_asof_join_null_left_ts_unmatched_both_directions(spark):
    from comix_etl_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-05 00:00:00"), (2, None)], "id long, ts string") \
        .select("id", F.col("ts").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [("2024-01-01 00:00:00", 10.0), ("2024-01-09 00:00:00", 20.0)],
        "ts string, px double") \
        .select(F.col("ts").cast("timestamp").alias("ts"), "px")
    for direction, want in (("backward", 10.0), ("forward", 20.0)):
        got = {r.id: r.px for r in asof_join(
            left, right, key=[], left_ts="ts", right_ts="ts",
            value_cols=["px"], direction=direction).collect()}
        assert got[1] == want
        assert got[2] is None   # NULL ts: unmatched in BOTH directions


def test_logreg_train_learns_separable(spark):
    """The in-engine GD trainer must actually LEARN when the label is
    separable: y = (x > 0) with x in ±[1, 2] climbs from the 50% base
    rate to >90% within a few iterations, and the weight on x turns
    positive. (The registry's quality_classifier converges to the base
    rate BY DESIGN — its synthetic corpus carries no lang signal; this
    test is the proof the optimizer moves when signal exists.)"""
    from pyspark.sql import functions as F

    from comix_etl_spark.operators.quality import logreg_train

    d = spark.range(200).select(
        (F.when(F.col("id") % 2 == 0, 1.0).otherwise(-1.0)
         * (F.lit(1.0) + (F.col("id") % 50) / 49.0)).alias("x"))
    trail = logreg_train(d, F.col("x") > 0, [F.col("x")], lr=2.0, iters=4)
    assert trail[0]["n"] == 200
    assert trail[-1]["acc"] > 0.9
    assert trail[-1]["w"][1] > 0        # feature weight points with the label
    assert [t["iter"] for t in trail] == [1, 2, 3, 4]


def test_logreg_train_deterministic_under_repartition(spark):
    """DECIMAL gradient accumulation: the weight trajectory must be
    bit-identical regardless of partitioning (float sums would not be)."""
    from pyspark.sql import functions as F

    from comix_etl_spark.operators.quality import logreg_train

    d = spark.range(300).select(
        ((F.col("id") % 97).cast("double") / 10.0).alias("x"),
        (F.col("id") % 3 == 0).alias("y"))
    t1 = logreg_train(d, F.col("y"), [F.col("x")], iters=3)
    t2 = logreg_train(d.repartition(17), F.col("y"), [F.col("x")], iters=3)
    assert [t["w"] for t in t1] == [t["w"] for t in t2]
    assert [t["hits"] for t in t1] == [t["hits"] for t in t2]


def test_logreg_train_empty_input_raises(spark):
    from pyspark.sql import functions as F

    import pytest

    from comix_etl_spark.operators.quality import logreg_train

    empty = spark.range(0).select(F.col("id").cast("double").alias("x"))
    with pytest.raises(ValueError, match="empty input"):
        logreg_train(empty, F.col("x") > 0, [F.col("x")])


# ---------------------------------------------------------------------------
# grouped_running_sum (r15)
# ---------------------------------------------------------------------------

def test_grouped_running_sum_routes_match_window_form(spark):
    """r15 scale-routed grouped prefix sum: the histogram-bucketed big
    route (forced via a many-partition input) must reproduce the plain
    per-group window cumsum exactly — including NULL group keys, tie
    runs (collapsed first for a total order), skewed mass on one value,
    and a degenerate all-equal group — and the carried per-group totals
    must equal a plain groupBy sum."""
    import random

    from comix_etl_spark.operators.relational import grouped_running_sum

    random.seed(5)
    rows = []
    for g, n in (("a", 3000), ("b", 400), (None, 50), ("eq", 200)):
        for i in range(n):
            v = 7.0 if g == "eq" else float(random.randint(0, 60))
            rows.append((g, v, float(random.choice([1, 2, 5]))))
    df = spark.createDataFrame(rows, "g string, v double, w double")
    # collapse ties -> total order per (g, v), the callers' contract
    agg = df.groupBy("g", "v").agg(F.sum("w").alias("w"))
    wref = (Window.partitionBy("g").orderBy("v")
            .rowsBetween(Window.unboundedPreceding, 0))
    ref = {(r["g"], r["v"]): r["c"]
           for r in agg.withColumn("c", F.sum("w").over(wref)).collect()}
    reftot = {r["g"]: r["t"]
              for r in agg.groupBy("g").agg(F.sum("w").alias("t")).collect()}
    par = spark.sparkContext.defaultParallelism
    for reparted, label in ((agg, "small"), (agg.repartition(par * 4), "big")):
        out = grouped_running_sum(reparted, ["g"], "v", "w",
                                  out_col="c", total_col="t")
        got = {(r["g"], r["v"]): r["c"] for r in out.collect()}
        assert got == ref, f"{label} route cumsum mismatch"
        gtot = {r["g"]: r["t"]
                for r in out.select("g", "t").distinct().collect()}
        assert gtot == reftot, f"{label} route totals mismatch"
