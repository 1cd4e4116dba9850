"""Sequence packing + mixture rebalancing invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from comix_etl_spark.operators.packing import pack_sequences, packing_report
from comix_etl_spark.operators.sampling import balance_downsample, mixture_allocation


def _docs(spark, n=200):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 37 + 1).alias("n_tokens"),
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias("grp"),
    )


def test_pack_sequences_offsets_are_contiguous_per_shard(spark):
    packed = pack_sequences(_docs(spark), "doc_id", "n_tokens",
                            budget=64, n_shards=4).collect()
    by_shard = {}
    for r in packed:
        by_shard.setdefault(r.shard, []).append(r)
    assert set(by_shard) <= set(range(4))
    for rows in by_shard.values():
        rows.sort(key=lambda r: r.offset)
        cum = 0
        for r in rows:
            assert r.offset == cum            # contiguous stream, no gaps
            assert r.seq_no == cum // 64      # doc starts in seq cum//budget
            cum += r.n_tokens


def test_pack_sequences_partitioning_invariant(spark):
    d = _docs(spark)
    a = {r.doc_id: (r.shard, r.seq_no, r.offset)
         for r in pack_sequences(d, "doc_id", "n_tokens", budget=64).collect()}
    b = {r.doc_id: (r.shard, r.seq_no, r.offset)
         for r in pack_sequences(d.repartition(13), "doc_id", "n_tokens",
                                 budget=64).collect()}
    assert a == b


def test_packing_report_conserves_tokens(spark):
    d = _docs(spark)
    packed = pack_sequences(d, "doc_id", "n_tokens", budget=64)
    rep = packing_report(packed, budget=64)
    total = rep.agg(F.sum("n_tokens")).collect()[0][0]
    want = d.agg(F.sum("n_tokens")).collect()[0][0]
    assert total == want
    assert rep.agg(F.sum("n_docs")).collect()[0][0] == d.count()


def test_mixture_allocation_upsampling_and_weights(spark):
    """The plan's two regimes: a small domain under a big target must
    report epochs > 1e6 (repeat to meet target) with the rate capped at
    1e6, while a big domain downsamples (rate = epochs < 1e6). Explicit
    weights route allocation; an uncovered domain gets weight 0 — rate
    and epochs 0, not an error. NULL domains drop."""
    d = spark.createDataFrame(
        [("big", 900)] * 10 + [("small", 10)] * 10 + [(None, 50)],
        "dom string, n_tok int")
    # uniform weights, budget = half of 9100 = 4550; per-domain 2275:
    # big has 9000 (downsample), small has 100 (22.75 epochs)
    out = {r["dom"]: r for r in mixture_allocation(
        d, "dom", F.col("n_tok")).collect()}
    assert set(out) == {"big", "small"}
    assert out["big"]["n_tokens"] == 9000 and out["small"]["n_tokens"] == 100
    assert out["big"]["target_tokens"] == 2275
    assert out["big"]["sample_rate_e6"] == out["big"]["epochs_e6"] == 252777
    assert out["small"]["sample_rate_e6"] == 1_000_000          # capped
    assert out["small"]["epochs_e6"] == 22_750_000              # 22.75 epochs
    # explicit weights: all budget to big; small uncovered -> zeroed
    out2 = {r["dom"]: r for r in mixture_allocation(
        d, "dom", F.col("n_tok"), weights={"big": 1.0}).collect()}
    assert out2["big"]["target_tokens"] == 4550
    assert out2["small"]["target_tokens"] == 0
    assert out2["small"]["sample_rate_e6"] == 0
    assert out2["small"]["epochs_e6"] == 0


def test_mixture_allocation_exact_integer_boundary(spark):
    """floor(total * frac / n) at an exact-integer boundary: 49 domains
    of 100 tokens each, budget_frac 0.5 → total·0.5/n = 50.0 exactly.
    The reciprocal form floor(total·0.5·(1/n)) lands one BELOW (IEEE:
    4900·0.5·(1/49) = 49.999…), which is a full-integer cross-engine
    mismatch after the floor — the allocation must divide directly,
    matching the DuckDB oracle's operation order."""
    d = spark.createDataFrame(
        [(f"d{i:02d}", 100) for i in range(49)], "dom string, n_tok int")
    out = mixture_allocation(d, "dom", F.col("n_tok")).collect()
    assert all(r["target_tokens"] == 50 for r in out), \
        sorted({r["target_tokens"] for r in out})


def test_mixture_allocation_zero_token_domain(spark):
    """A domain whose texts carry zero tokens has nothing to sample:
    rate and epochs must be 0, not an inf/NaN floor from the bare
    division."""
    d = spark.createDataFrame(
        [("live", 100), ("live", 50), ("empty", 0), ("empty", 0)],
        "dom string, n_tok int")
    out = {r["dom"]: r for r in mixture_allocation(
        d, "dom", F.col("n_tok")).collect()}
    assert out["empty"]["n_tokens"] == 0
    assert out["empty"]["sample_rate_e6"] == 0
    assert out["empty"]["epochs_e6"] == 0
    assert out["live"]["epochs_e6"] > 0


def test_balance_downsample_keeps_min_group_and_subsets(spark):
    d = _docs(spark)
    kept = balance_downsample(d, "doc_id", "grp")
    before = {r.grp: r.n for r in
              d.groupBy("grp").agg(F.count(F.lit(1)).alias("n")).collect()}
    after = {r.grp: r.n for r in
             kept.groupBy("grp").agg(F.count(F.lit(1)).alias("n")).collect()}
    min_grp = min(before, key=lambda g: (before[g], g))
    # the smallest group's rate is exactly 1e6 -> every row survives
    assert after[min_grp] == before[min_grp]
    kept_ids = {r.doc_id for r in kept.collect()}
    all_ids = {r.doc_id for r in d.collect()}
    assert kept_ids <= all_ids
    # rerun on different partitioning -> identical surviving set
    kept2 = {r.doc_id for r in
             balance_downsample(d.repartition(7), "doc_id", "grp").collect()}
    assert kept_ids == kept2


def test_weighted_sample_deterministic_and_weight_sensitive(spark):
    """Same inputs → identical sample on re-run; an overwhelming weight
    is always selected; k >= n returns every positive-weight row."""
    from comix_etl_spark.operators.sampling import weighted_sample

    rows = [(i, 1.0) for i in range(1, 40)] + [(99, 1e9), (100, -1.0)]
    df = spark.createDataFrame(rows, "k long, w double")
    s1 = sorted(r.k for r in weighted_sample(df, "k", "w", 10).collect())
    s2 = sorted(r.k for r in weighted_sample(df, "k", "w", 10).collect())
    assert s1 == s2 and len(s1) == 10
    assert 99 in s1                      # P(miss) ~ 1e-9 per draw — deterministic here
    everything = weighted_sample(df, "k", "w", 1000).collect()
    assert len(everything) == 40         # the w <= 0 row is excluded


def test_zorder_key_bit_interleave(spark):
    """Hand-checked Morton codes: z(1,0)=1, z(0,1)=2, z(3,5)=39."""
    from pyspark.sql import functions as F

    from comix_etl_spark.operators.partitioning import zorder_key

    df = spark.createDataFrame([(1, 0), (0, 1), (3, 5)], "x int, y int")
    got = [r.z for r in df.select(zorder_key("x", "y").alias("z"))
           .orderBy(F.col("z")).collect()]
    assert got == [1, 2, 39]


def test_probe_num_partitions_cache_keyed_on_app_and_bounded(spark,
                                                              monkeypatch):
    """The partition-count memo keys on the SparkContext's application
    id (a session's Python id is reused after collection), answers a
    repeated probe from the cache, and evicts past its cap instead of
    growing with every distinct plan probed."""
    from comix_etl_spark.operators import partitioning as P

    monkeypatch.setattr(P, "_NPARTS_CACHE", {})
    monkeypatch.setattr(P, "_NPARTS_CACHE_MAX", 4)
    app_id = spark.sparkContext.applicationId
    df = spark.range(10).repartition(3)
    assert P.probe_num_partitions(df) == 3
    assert P._NPARTS_CACHE == {(app_id, df.semanticHash()): 3}
    P._NPARTS_CACHE[(app_id, df.semanticHash())] = 99  # served from cache
    assert P.probe_num_partitions(df) == 99
    for n in range(1, 8):
        P.probe_num_partitions(spark.range(n).repartition(n))
        assert len(P._NPARTS_CACHE) <= 4
    assert all(k[0] == app_id for k in P._NPARTS_CACHE)
