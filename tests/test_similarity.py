"""Similarity-search tests: brute-force correctness, LSH recall."""

from __future__ import annotations

from pyspark.sql import functions as F

from comix_etl_spark.operators import similarity as S


def test_brute_force_self_is_top1(spark, sf_small):
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 7).select("embedding")
    top = S.brute_force_topk(emb, q, k=3).collect()
    assert top[0].vec_id == 7 and top[0].cosine_sim == 1.0


def test_brute_force_multi_query_partitions(spark, sf_small):
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id").isin(1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = S.brute_force_topk(emb, qs, k=5, query_id_col="query_id").collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {1, 2}
    assert all(len(v) == 5 for v in by_q.values())
    assert by_q[1][0].vec_id == 1 and by_q[2][0].vec_id == 2  # self first


def test_lsh_recall_vs_brute_force(spark, sf_small):
    """LSH top-k with exact re-rank: top-1 (self) must always be found;
    top-10 recall should clear 50% with 8 tables × 4 bits on this corpus
    (random vectors — neighbors near cosine 0.3, so few bits per table)."""
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = S.brute_force_topk(emb, qs, k=10, query_id_col="query_id").collect()
    approx = S.lsh_bucketed_topk(emb, qs, dim=64, k=10, bits=4, tables=8).collect()
    exact_set = {(r.query_id, r.vec_id) for r in exact}
    approx_set = {(r.query_id, r.vec_id) for r in approx}
    for qid in (0, 1, 2):
        assert (qid, qid) in approx_set  # self always collides with itself
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"LSH recall {recall:.2f}"


def test_ivf_full_probe_equals_brute_force(spark, sf_small):
    """nprobe = n_centroids probes every inverted list → exact results."""
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r.query_id, r.vec_id, r.cosine_sim) for r in
             S.brute_force_topk(emb, qs, k=5, query_id_col="query_id").collect()}
    full = {(r.query_id, r.vec_id, r.cosine_sim) for r in
            S.ivf_topk(emb, qs, k=5, n_centroids=8, nprobe=8).collect()}
    assert full == exact


def test_ivf_partial_probe_recall_and_self(spark, sf_small):
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r.query_id, r.vec_id) for r in
             S.brute_force_topk(emb, qs, k=10, query_id_col="query_id").collect()}
    approx = {(r.query_id, r.vec_id) for r in
              S.ivf_topk(emb, qs, k=10, n_centroids=8, nprobe=4).collect()}
    for qid in (0, 1, 2):
        assert (qid, qid) in approx  # a query's own list is always probed first
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall {recall:.2f}"


def test_lsh_similarities_match_brute_force_for_found_pairs(spark, sf_small):
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r.query_id, r.vec_id): r.cosine_sim
             for r in S.brute_force_topk(emb, qs, k=50, query_id_col="query_id").collect()}
    approx = S.lsh_bucketed_topk(emb, qs, dim=64, k=10).collect()
    for r in approx:
        if (r.query_id, r.vec_id) in exact:
            assert exact[(r.query_id, r.vec_id)] == r.cosine_sim  # exact re-rank


def test_quantize_int8_roundtrip_and_zero(spark):
    from pyspark.sql import functions as F

    from comix_etl_spark.functions.vector import quantize_int8

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>")
    scale, qvec = quantize_int8("embedding")
    out = {r.vec_id: r for r in
           df.select("vec_id", scale.alias("s"), qvec.alias("q"), "embedding").collect()}
    # max-magnitude element always quantizes to ±127
    assert out[1].q[0] == 127 and out[1].q[1] == -63
    # zero vector: scale 0, all-zero code (no NaN / division blowup)
    assert out[2].s == 0.0 and out[2].q == [0, 0, 0, 0]
    # dequantization error bounded by scale/2 per element
    s = out[1].s
    for orig, q in zip(out[1].embedding, out[1].q):
        assert abs(orig - q * s) <= s / 2 + 1e-12


def test_quantized_topk_recall_vs_float_baseline(spark, sf_small):
    from pyspark.sql import functions as F

    from comix_etl_spark.operators.similarity import (brute_force_topk,
                                                      quantized_brute_topk)

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2)) \
                 .select(F.col("vec_id").alias("query_id"), "embedding")
    exact = brute_force_topk(emb, queries, id_col="vec_id",
                             vec_col="embedding", k=10, query_id_col="query_id")
    quant = quantized_brute_topk(emb, queries, id_col="vec_id",
                                 vec_col="embedding", k=10)
    e = {}
    for r in exact.collect():
        e.setdefault(r.query_id, set()).add(r.vec_id)
    q = {}
    for r in quant.collect():
        q.setdefault(r.query_id, set()).add(r.vec_id)
    # int8 quantization distorts cosine by < 1%; top-10 overlap stays high
    for qid in e:
        recall = len(e[qid] & q[qid]) / 10
        assert recall >= 0.8, f"query {qid}: recall {recall}"


def test_pq_topk_recall_vs_brute_force(spark, sf_small):
    """PQ(m=8, k=16) + ADC + rerank=100 must recover most of the exact
    top-10 on the seeded corpus (random vectors are PQ's worst case —
    0.6 is a conservative floor; structured embeddings do far better)."""
    from pyspark.sql import functions as F

    from comix_etl_spark.operators.similarity import brute_force_topk, pq_topk
    from comix_etl_spark.session import load_tables

    emb = load_tables(spark, sf_small, ("embeddings",))["embeddings"]
    qdf = (emb.filter(F.col("vec_id").isin(0, 1, 2))
           .select(F.col("vec_id").alias("query_id"), "embedding"))
    exact = {(r["query_id"], r["vec_id"])
             for r in brute_force_topk(emb, emb.filter(F.col("vec_id").isin(0, 1, 2)),
                                       id_col="vec_id", k=10,
                                       query_id_col="vec_id").collect()}
    got = {(r["query_id"], r["vec_id"])
           for r in pq_topk(emb, qdf, id_col="vec_id", k=10, m=8,
                            n_codes=16, rerank=100).collect()}
    assert len(got) == len(exact)
    assert len(exact & got) / len(exact) >= 0.6


def test_ivf_pq_recall_vs_brute_force(spark, sf_small):
    """IVF-PQ (16 lists, probe 4, residual PQ m=8 k=16, rerank=100) must
    recover most of the exact top-10. The floor is BELOW pq_topk's 0.6:
    probing 4/16 lists can route a true neighbor away before ADC ever
    sees it — that's the recall/nprobe trade the operator exists to
    expose. Self-hit must survive (the query's own list is always its
    nearest, so self always lands in a probed list)."""
    from comix_etl_spark.operators.similarity import brute_force_topk, ivf_pq_topk
    from comix_etl_spark.session import load_tables

    emb = load_tables(spark, sf_small, ("embeddings",))["embeddings"]
    qdf = (emb.filter(F.col("vec_id").isin(0, 1, 2))
           .select(F.col("vec_id").alias("query_id"), "embedding"))
    exact = {(r["query_id"], r["vec_id"])
             for r in brute_force_topk(emb, emb.filter(F.col("vec_id").isin(0, 1, 2)),
                                       id_col="vec_id", k=10,
                                       query_id_col="vec_id").collect()}
    got_rows = ivf_pq_topk(emb, qdf, id_col="vec_id", k=10, nprobe=4,
                           n_centroids=16, m=8, n_codes=16, rerank=100).collect()
    got = {(r["query_id"], r["vec_id"]) for r in got_rows}
    assert len(got) == len(exact)
    assert {(q, q) for q in (0, 1, 2)} <= got          # self-hit per query
    assert len(exact & got) / len(exact) >= 0.4


def test_ivf_pq_full_probe_matches_pq_quality(spark, sf_small):
    """With nprobe = n_centroids every list is probed, so IVF-PQ
    degenerates to plain residual-PQ ADC over the whole corpus — the
    routing can no longer LOSE a neighbor, and recall must meet the
    pq_topk floor (residual codes quantize finer, not coarser)."""
    from comix_etl_spark.operators.similarity import brute_force_topk, ivf_pq_topk
    from comix_etl_spark.session import load_tables

    emb = load_tables(spark, sf_small, ("embeddings",))["embeddings"]
    qdf = (emb.filter(F.col("vec_id").isin(0, 1, 2))
           .select(F.col("vec_id").alias("query_id"), "embedding"))
    exact = {(r["query_id"], r["vec_id"])
             for r in brute_force_topk(emb, emb.filter(F.col("vec_id").isin(0, 1, 2)),
                                       id_col="vec_id", k=10,
                                       query_id_col="vec_id").collect()}
    got = {(r["query_id"], r["vec_id"])
           for r in ivf_pq_topk(emb, qdf, id_col="vec_id", k=10, nprobe=16,
                                n_centroids=16, m=8, n_codes=16,
                                rerank=100).collect()}
    assert len(got) == len(exact)
    assert len(exact & got) / len(exact) >= 0.6


def test_ivf_pq_encode_layout(spark, sf_small):
    """The at-rest IVF-PQ layout: every row carries a list id in
    [0, C) and an m-length code with entries in [0, k)."""
    from comix_etl_spark.operators.similarity import (
        ivf_pq_encode,
        train_ivf_centroids,
        train_residual_codebooks,
    )
    from comix_etl_spark.session import load_tables

    emb = load_tables(spark, sf_small, ("embeddings",))["embeddings"]
    centers = train_ivf_centroids(emb, n_centroids=4, normalize=True)
    books = train_residual_codebooks(emb, centers, m=8, k=16)
    assert books.shape == (8, 16, 8)
    rows = ivf_pq_encode(emb.limit(25), centers, books).collect()
    assert len(rows) == 25
    for r in rows:
        assert 0 <= r["centroid_id"] < 4
        assert len(r["pq_code"]) == 8
        assert all(0 <= c < 16 for c in r["pq_code"])


def test_ivf_pq_store_partition_pruned_probe(spark, sf_small):
    """The persisted inverted-list layout: probing the store returns
    EXACTLY the direct ivf_pq_topk results, and the store scan carries
    a centroid_id partition filter — the probe reads only the probed
    list directories, never the whole index."""
    from comix_etl_spark.operators.similarity import (
        ivf_pq_topk,
        ivf_pq_topk_from_store,
        persist_ivf_pq_store,
        train_ivf_centroids,
        train_residual_codebooks,
    )
    from comix_etl_spark.session import load_tables

    emb = load_tables(spark, sf_small, ("embeddings",))["embeddings"]
    centers = train_ivf_centroids(emb, n_centroids=8, normalize=True)
    books = train_residual_codebooks(emb, centers, m=8, k=16)
    qdf = (emb.filter(F.col("vec_id").isin(0, 1, 2))
           .select(F.col("vec_id").alias("query_id"), "embedding"))
    try:
        persist_ivf_pq_store(emb, centers, books, "ivfpq_store_t")
        direct = ivf_pq_topk(emb, qdf, centers=centers, codebooks=books,
                             k=10, nprobe=3, rerank=100)
        stored = ivf_pq_topk_from_store(emb, qdf, "ivfpq_store_t",
                                        centers=centers, codebooks=books,
                                        k=10, nprobe=3, rerank=100)
        d = sorted(map(tuple, direct.collect()))
        s = sorted(map(tuple, stored.collect()))
        assert d == s and len(s) == 30
        plan = stored._jdf.queryExecution().executedPlan().toString()
        i = plan.index("PartitionFilters: [")
        assert "centroid_id" in plan[i:i + 200], plan[i:i + 200]
    finally:
        spark.sql("DROP TABLE IF EXISTS ivfpq_store_t")


def _ivf_pq_store_setup(spark, sf_small, table):
    from comix_etl_spark.operators.similarity import (
        persist_ivf_pq_store, train_ivf_centroids, train_residual_codebooks)
    from comix_etl_spark.session import load_tables

    emb = (load_tables(spark, sf_small, ("embeddings",))["embeddings"]
           .filter(F.col("vec_id") < 40))
    centers = train_ivf_centroids(emb, n_centroids=8, normalize=True)
    books = train_residual_codebooks(emb, centers, m=8, k=16)
    persist_ivf_pq_store(emb, centers, books, table)
    qdf = (emb.filter(F.col("vec_id").isin(0, 1, 2))
           .select(F.col("vec_id").alias("query_id"), "embedding"))
    return emb, qdf, dict(centers=centers, codebooks=books, k=5, nprobe=3)


def test_ivf_pq_empty_query_frame(spark, sf_small):
    """An empty query frame returns no rows, with the schema of a
    non-empty call, on the direct and the store path (an empty probe
    set once raised numpy's AxisError in the routing)."""
    from comix_etl_spark.operators.similarity import (
        ivf_pq_topk, ivf_pq_topk_from_store)

    try:
        emb, qdf, kw = _ivf_pq_store_setup(spark, sf_small, "ivfpq_empty_t")
        for search in (lambda q: ivf_pq_topk(emb, q, **kw),
                       lambda q: ivf_pq_topk_from_store(
                           emb, q, "ivfpq_empty_t", **kw)):
            full, empty = search(qdf), search(qdf.limit(0))
            assert empty.collect() == []
            assert empty.schema == full.schema
            assert full.count() == 15
    finally:
        spark.sql("DROP TABLE IF EXISTS ivfpq_empty_t")


def test_ivf_pq_store_probe_collects_queries_once(spark, sf_small,
                                                  count_jobs):
    """Building a store probe's plan collects and routes the query frame
    once, inside ivf_pq_topk: it runs as many jobs as the direct call
    (2 against 1 here when the store path routed the queries itself)."""
    from comix_etl_spark.operators.similarity import (
        ivf_pq_topk, ivf_pq_topk_from_store)

    try:
        emb, qdf, kw = _ivf_pq_store_setup(spark, sf_small, "ivfpq_jobs_t")
        _, direct = count_jobs(lambda: ivf_pq_topk(emb, qdf, **kw))
        _, stored = count_jobs(lambda: ivf_pq_topk_from_store(
            emb, qdf, "ivfpq_jobs_t", **kw))
        assert stored == direct, (stored, direct)
    finally:
        spark.sql("DROP TABLE IF EXISTS ivfpq_jobs_t")


def test_ivf_pq_topk_distributed_over_persisted_store(spark, sf_small):
    """The bulk-scoring serving composition (r14): the distributed
    query path reading the PERSISTED inverted-list table as its
    encoded side must equal the driver path on the raw corpus — build
    the index once, bulk-score eval suites against the landed codes
    with no re-encode and no driver funnel."""
    from comix_etl_spark.operators.similarity import (
        ivf_pq_topk, ivf_pq_topk_distributed, persist_ivf_pq_store,
        train_ivf_centroids, train_residual_codebooks)
    from comix_etl_spark.session import load_tables

    emb = load_tables(spark, sf_small, ("embeddings",))["embeddings"]
    centers = train_ivf_centroids(emb, n_centroids=8, normalize=True)
    books = train_residual_codebooks(emb, centers, m=8, k=16)
    qdf = (emb.filter(F.col("vec_id") < 20)
           .select(F.col("vec_id").alias("query_id"), "embedding"))
    try:
        persist_ivf_pq_store(emb, centers, books, "ivfpq_dist_store_t")
        direct = sorted(map(tuple, ivf_pq_topk(
            emb, qdf, centers=centers, codebooks=books, k=5, nprobe=3,
            rerank=50).collect()))
        stored = spark.table("ivfpq_dist_store_t")
        dist = sorted(map(tuple, ivf_pq_topk_distributed(
            emb, qdf, centers=centers, codebooks=books, k=5, nprobe=3,
            rerank=50, encoded=stored).collect()))
        assert dist == direct and len(direct) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS ivfpq_dist_store_t")


def test_ivf_pq_store_stats_counts_and_shares(spark):
    """Index-health report (r13): per-list counts must equal the actual
    assignment tallies, shares are integer millionths of the total, and
    an APPEND moves the report — the skew check sees index growth."""
    from comix_etl_spark.operators.similarity import (
        ivf_pq_store_stats, persist_ivf_pq_store, train_residual_codebooks)

    # two well-separated directions: e1-ish and e2-ish vectors
    rows = ([(i, [1.0, 0.01 * i, 0.0, 0.0]) for i in range(6)]
            + [(10 + i, [0.0, 1.0, 0.01 * i, 0.0]) for i in range(3)])
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centers = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    books = train_residual_codebooks(corpus, centers, m=2, k=4)
    try:
        persist_ivf_pq_store(corpus, centers, books, "ivfpq_stats_t")
        got = {r.centroid_id: (r.n_codes, r.share_e6) for r in
               ivf_pq_store_stats(spark, "ivfpq_stats_t").collect()}
        assert got == {0: (6, 666666), 1: (3, 333333)}
        extra = spark.createDataFrame([(100, [0.0, 1.0, 0.0, 0.0])],
                                      "vec_id long, embedding array<double>")
        persist_ivf_pq_store(extra, centers, books, "ivfpq_stats_t",
                             mode="append")
        got = {r.centroid_id: r.n_codes for r in
               ivf_pq_store_stats(spark, "ivfpq_stats_t").collect()}
        assert got == {0: 6, 1: 4}
    finally:
        spark.sql("DROP TABLE IF EXISTS ivfpq_stats_t")


def test_ivf_pq_store_incremental_append(spark, sf_small):
    """Incremental index growth: encoding batch A then APPENDING batch B
    must answer probes identically to a one-shot build over A∪B — the
    no-rebuild ingest contract the store docstring promises."""
    from comix_etl_spark.operators.similarity import (
        ivf_pq_topk,
        ivf_pq_topk_from_store,
        persist_ivf_pq_store,
        train_ivf_centroids,
        train_residual_codebooks,
    )
    from comix_etl_spark.session import load_tables

    emb = load_tables(spark, sf_small, ("embeddings",))["embeddings"]
    centers = train_ivf_centroids(emb, n_centroids=8, normalize=True)
    books = train_residual_codebooks(emb, centers, m=8, k=16)
    qdf = (emb.filter(F.col("vec_id").isin(0, 1))
           .select(F.col("vec_id").alias("query_id"), "embedding"))
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    try:
        persist_ivf_pq_store(a, centers, books, "ivfpq_incr_t")
        persist_ivf_pq_store(b, centers, books, "ivfpq_incr_t",
                             mode="append")
        stored = sorted(map(tuple, ivf_pq_topk_from_store(
            emb, qdf, "ivfpq_incr_t", centers=centers, codebooks=books,
            k=10, nprobe=3, rerank=100).collect()))
        direct = sorted(map(tuple, ivf_pq_topk(
            emb, qdf, centers=centers, codebooks=books,
            k=10, nprobe=3, rerank=100).collect()))
        assert stored == direct and len(stored) == 20
    finally:
        spark.sql("DROP TABLE IF EXISTS ivfpq_incr_t")


def test_pq_encode_shape_and_range(spark, sf_small):
    from comix_etl_spark.operators.similarity import pq_encode, train_pq_codebooks
    from comix_etl_spark.session import load_tables

    emb = load_tables(spark, sf_small, ("embeddings",))["embeddings"]
    books = train_pq_codebooks(emb, m=8, k=16)
    assert books.shape[0] == 8 and books.shape[1] == 16
    codes = pq_encode(emb.limit(20), books).select("pq_code").collect()
    for r in codes:
        assert len(r["pq_code"]) == 8
        assert all(0 <= c < 16 for c in r["pq_code"])


def test_group_centroid_cosine_tight_and_spread_groups(spark):
    """A group of identical vectors is perfectly cohesive (avg = min =
    1); a group of orthogonal vectors scores strictly lower; zero
    vectors drop out of the cosine aggregates but still count as
    members."""
    from comix_etl_spark.operators.similarity import group_centroid_cosine

    rows = [("tight", 1, [1.0, 0.0, 0.0]),
            ("tight", 2, [1.0, 0.0, 0.0]),
            ("spread", 3, [1.0, 0.0, 0.0]),
            ("spread", 4, [0.0, 1.0, 0.0]),
            ("spread", 5, [0.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "g string, id long, v array<double>")
    got = {r.g: r for r in group_centroid_cosine(df, "g", "id", "v").collect()}
    assert got["tight"].n_vecs == 2
    assert got["tight"].avg_cos == 1.0 and got["tight"].min_cos == 1.0
    assert got["spread"].n_vecs == 3
    assert got["spread"].avg_cos < 1.0


def test_project_matrix_jl_preserves_relative_distance(spark):
    """The JL projection is linear (exactly) and roughly
    distance-preserving: after a 64->16 Rademacher projection the
    near pair must stay nearer than the far pair."""
    import hashlib

    import numpy as np

    from comix_etl_spark.functions.vector import project_matrix

    rng = np.random.default_rng(7)
    a = rng.normal(size=64)
    near = a + rng.normal(scale=0.05, size=64)
    far = rng.normal(size=64) * 3
    df = spark.createDataFrame(
        [(1, a.tolist()), (2, near.tolist()), (3, far.tolist())],
        "id long, v array<double>")
    planes = [[(1.0 if ord(hashlib.md5(f"jl{t}_{d}".encode())
                          .hexdigest()[0]) % 2 == 0 else -1.0) / 4.0
               for d in range(64)] for t in range(16)]
    got = {r.id: np.array(r.p)
           for r in df.select("id", project_matrix("v", planes).alias("p"))
                      .collect()}
    assert all(len(v) == 16 for v in got.values())
    d_near = np.linalg.norm(got[1] - got[2])
    d_far = np.linalg.norm(got[1] - got[3])
    assert d_near < d_far


def test_knn_join_recall_vs_brute_force(spark, sf_small):
    """The all-rows kNN self-join must (a) never emit self-pairs or
    scores outside [-1, 1], (b) recall a solid share of the TRUE top-3
    neighbor edges (brute-force cross-scored) in a recall-oriented
    configuration (12 tables x 4 bits). This corpus is the HARD LSH
    regime — true neighbors sit near cosine 0.3, so per-bit agreement
    is ~0.6 and per-table collision ~0.6^bits: 6x6 (the registry
    query's perf-oriented det config) predicts ~25% recall, 12x4
    predicts ~80% — the test pins the tables/bits knob to theory."""
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet") \
        .filter(F.col("vec_id") < 200)
    planes = S.rademacher_hyperplanes(dim=64, bits=4, tables=12)
    got = S.knn_join_lsh(emb, dim=64, id_col="vec_id", k=3,
                         planes=planes).collect()
    assert all(r.id_a != r.id_b for r in got)
    assert all(-1.0 <= r.cosine_sim <= 1.0 for r in got)
    got_edges = {(r.id_a, r.id_b) for r in got}

    # brute-force true top-3 per vector (every row is a query)
    qs = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    exact = (S.brute_force_topk(emb, qs, k=4, query_id_col="query_id")
             .filter(F.col("query_id") != F.col("vec_id")).collect())
    from collections import defaultdict
    per_q = defaultdict(list)
    for r in sorted(exact, key=lambda r: (-r.cosine_sim, r.vec_id)):
        if len(per_q[r.query_id]) < 3:
            per_q[r.query_id].append(r.vec_id)
    true_edges = {(q, v) for q, vs in per_q.items() for v in vs}
    recall = len(true_edges & got_edges) / len(true_edges)
    assert recall >= 0.5, f"kNN-join recall {recall:.2f}"


def test_kcenter_sample_picks_diverse_exemplars(spark):
    """Three tight clusters + k=3 must pick one exemplar per cluster
    (farthest-point coverage), seeded at the min id; k > n truncates."""
    from comix_etl_spark.operators.similarity import kcenter_sample

    def around(base, eps):
        return [base[0] + eps, base[1] + eps]

    a, b, c = [1.0, 0.0], [0.0, 1.0], [-1.0, -1.0]
    rows = [(0, around(a, 0.00)), (1, around(a, 0.01)),
            (2, around(b, 0.00)), (3, around(b, 0.01)),
            (4, around(c, 0.00)), (5, around(c, 0.01))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kcenter_sample(df, id_col="vec_id", vec_col="embedding", k=3).collect()
    assert [r.sel_order for r in out] == [0, 1, 2]
    picked = [r.id for r in out]
    assert picked[0] == 0  # min-id seed
    clusters = {0: "a", 1: "a", 2: "b", 3: "b", 4: "c", 5: "c"}
    assert len({clusters[i] for i in picked}) == 3  # one per cluster
    assert out[0].mindist_e6 is None and out[1].mindist_e6 > 0

    # k exceeding the corpus truncates instead of looping
    small = spark.createDataFrame(rows[:2], "vec_id long, embedding array<double>")
    assert kcenter_sample(small, id_col="vec_id", vec_col="embedding",
                          k=5).count() == 2


def test_kcenter_sample_drops_null_ids(spark):
    """Review r8: a NULL (or uncastable) id must be dropped, not become
    the seed — a NULL seed used to poison every round's ~isin filter and
    return a single NULL row instead of k exemplars."""
    from comix_etl_spark.operators.similarity import kcenter_sample

    rows = [(None, [1.0, 0.0]), (1, [1.0, 0.01]),
            (2, [0.0, 1.0]), (3, [-1.0, -1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kcenter_sample(df, id_col="vec_id", vec_col="embedding", k=3).collect()
    assert [r.sel_order for r in out] == [0, 1, 2]
    assert None not in {r.id for r in out}
    assert out[0].id == 1  # min NON-NULL id seeds


def test_kcenter_sample_matches_oracle(spark, sf_small):
    """Every batch width selects exactly the rows of the unrolled
    round-by-round DuckDB oracle (plans/queries.py::_kcenter_oracle_sql)
    over the same embeddings: k=8 runs the literal forms and k=40 the
    broadcast-bundle forms (k > 32), each at batch 1 and 4."""
    from comix_etl_spark.operators.similarity import kcenter_sample
    from comix_etl_spark.plans.queries import _kcenter_oracle_sql
    from tests.oracle_diff import duck_connection

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    duck = duck_connection(sf_small)
    for k in (8, 40):
        want = [tuple(r) for r in duck.execute(_kcenter_oracle_sql(k)).fetchall()]
        assert len(want) == k
        for batch in (1, 4):
            got = kcenter_sample(emb, k=k, batch=batch).collect()
            assert [tuple(r) for r in got] == want, (k, batch)


def test_kcenter_sample_validates_before_any_job(spark):
    """k < 1 and batch < 1 raise ValueError before a Spark job runs (an
    invalid batch used to surface only after the seed collect). The
    input frame fails if any job evaluates it."""
    import pytest as _pt
    from pyspark.sql import functions as F

    from comix_etl_spark.operators.similarity import kcenter_sample

    @F.udf("array<double>")
    def _job_ran(_):
        raise RuntimeError("a Spark job evaluated the input")

    df = spark.range(3).select(F.col("id").alias("vec_id"),
                               _job_ran("id").alias("embedding"))
    with _pt.raises(ValueError, match="k must be"):
        kcenter_sample(df, k=0)
    with _pt.raises(ValueError, match="batch must be"):
        kcenter_sample(df, k=2, batch=0)


def test_kcenter_batched_matches_cached_form(spark, sf_small):
    """batch=m (Gonzalez over-selection + strict-bound acceptance +
    same-expression re-verification) must select the IDENTICAL ordered
    exemplar set with identical micro-unit distances as batch=1 at
    k=64 — the r9 verdict's 'batched over-selection at identical
    output' contract — including when k exceeds the corpus
    (exhausted-batch path) and with a zero-norm (NULL-distance) row."""
    from comix_etl_spark.operators.similarity import kcenter_sample

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    zero = spark.createDataFrame(
        [(999_999, [0.0] * dim)], "vec_id long, embedding array<double>")
    src = emb.select("vec_id", "embedding").unionByName(zero)
    base = kcenter_sample(src, k=64).collect()
    batched = kcenter_sample(src, k=64, batch=8).collect()
    assert [tuple(r) for r in base] == [tuple(r) for r in batched]
    # batch=64: one wide fetch per round — the broadcast-bundle
    # aggregate() _md update folds every accepted center in one
    # expression; output must stay bit-identical
    wide = kcenter_sample(src, k=64, batch=64).collect()
    assert [tuple(r) for r in base] == [tuple(r) for r in wide]
    # k > corpus: both return every point, same order
    tiny = src.limit(5)
    a = kcenter_sample(tiny, k=64).collect()
    b = kcenter_sample(tiny, k=64, batch=4).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b] and len(a) == 5


def test_kcenter_batched_pathological_ties(spark):
    """Adversarial ties: many exact-duplicate vectors make every
    distance in a batch identical, so the strict acceptance bound
    flushes after one accept per round — the batched form must degrade
    to per-round behavior, never mis-order. Identical output to
    batch=1, including the id tie-breaks."""
    from comix_etl_spark.operators.similarity import kcenter_sample

    rows = ([(i, [1.0, 0.0, 0.0]) for i in range(6)]      # 6 copies of A
            + [(10 + i, [0.0, 1.0, 0.0]) for i in range(6)]  # 6 of B
            + [(20 + i, [0.0, 0.0, 1.0]) for i in range(6)]  # 6 of C
            + [(99, [0.5, 0.5, 0.0])])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = kcenter_sample(df, k=10).collect()
    batched = kcenter_sample(df, k=10, batch=5).collect()
    assert [tuple(r) for r in base] == [tuple(r) for r in batched]


def test_topk_query_side_guard(spark):
    """r12 guard (VERDICT r11 #3): every *_topk that collects its query
    side driver-side must raise a clear ValueError when the query frame
    exceeds ``max_query_rows`` — before the guard a fat query frame (or
    streaming micro-batch) became a silent driver OOM. At the boundary
    (rows == max) the probe still runs."""
    import numpy as np
    import pytest as _pt

    from comix_etl_spark.operators.similarity import (
        ivf_pq_topk, ivf_topk, pq_topk, train_ivf_centroids,
        train_residual_codebooks)

    rng = np.random.default_rng(5)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=6)]) for i in range(20)],
        "vec_id long, embedding array<double>")
    query = spark.createDataFrame(
        [(100 + i, [float(x) for x in rng.normal(size=6)]) for i in range(5)],
        "query_id long, embedding array<double>")
    centers = train_ivf_centroids(corpus, n_centroids=2, normalize=True)
    books = train_residual_codebooks(corpus, centers, m=2, k=4)
    for call in (
        lambda mx: ivf_topk(corpus, query, k=2, n_centroids=2,
                            max_query_rows=mx),
        lambda mx: pq_topk(corpus, query, k=2, m=2, n_codes=4,
                           max_query_rows=mx),
        lambda mx: ivf_pq_topk(corpus, query, centers=centers,
                               codebooks=books, k=2, nprobe=2,
                               max_query_rows=mx),
    ):
        with _pt.raises(ValueError, match="max_query_rows"):
            call(4)
        assert call(5).count() > 0  # boundary: 5 rows at max 5 passes


def test_ivf_pq_topk_distributed_matches_driver_path(spark):
    """r14 (VERDICT r13 #2): the executor-side query path — queries
    routed/LUT-built in an Arrow pass, candidates gathered by a
    centroid_id cogroup, ADC scored per inverted list — must be
    OUTPUT-IDENTICAL to the driver-collect ``ivf_pq_topk`` on the same
    (centers, codebooks), including on zero-norm queries and trained
    (non-det) codebooks."""
    import numpy as np

    from comix_etl_spark.operators.similarity import (
        ivf_pq_topk, ivf_pq_topk_distributed, train_ivf_centroids,
        train_residual_codebooks)

    rng = np.random.default_rng(17)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(80)],
        "vec_id long, embedding array<double>")
    qrows = [(100 + i, [float(x) for x in rng.normal(size=8)])
             for i in range(15)] + [(200, [0.0] * 8)]
    query = spark.createDataFrame(
        qrows, "query_id long, embedding array<double>")
    centers = train_ivf_centroids(corpus, n_centroids=4, normalize=True)
    books = train_residual_codebooks(corpus, centers, m=2, k=4)
    common = dict(centers=centers, codebooks=books, k=5, nprobe=2,
                  rerank=15)
    want = sorted(map(tuple, ivf_pq_topk(
        corpus, query, max_query_rows=100, **common).collect()))
    assert len(want) > 0
    got = sorted(map(tuple, ivf_pq_topk_distributed(
        corpus, query, **common).collect()))
    assert got == want
    # salted hot-list fan-out: sub-grouping each list is exact under
    # the tie-keep superset contract — identical at any salt count
    salted = sorted(map(tuple, ivf_pq_topk_distributed(
        corpus, query, n_salts=3, **common).collect()))
    assert salted == want


def test_ivf_pq_topk_distributed_plan_is_cogroup_not_collect(spark):
    """The scale contracts of the distributed path: the candidate
    gather is a centroid_id COGROUP (each list's codes meet its probing
    queries exactly once — no join-row LUT duplication), the routing is
    an Arrow MapInPandas stage, and nothing on the query side is a
    driver collect."""
    import numpy as np

    from comix_etl_spark.operators.similarity import (
        ivf_pq_encode, ivf_pq_topk_distributed, train_ivf_centroids,
        train_residual_codebooks)

    rng = np.random.default_rng(23)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)],
        "vec_id long, embedding array<double>")
    query = spark.createDataFrame(
        [(100 + i, [float(x) for x in rng.normal(size=8)])
         for i in range(6)],
        "query_id long, embedding array<double>")
    centers = train_ivf_centroids(corpus, n_centroids=4, normalize=True)
    books = train_residual_codebooks(corpus, centers, m=2, k=4)
    enc = ivf_pq_encode(corpus, centers, books)
    out = ivf_pq_topk_distributed(corpus, query, centers=centers,
                                  codebooks=books, k=3, nprobe=2,
                                  rerank=10, encoded=enc)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # the candidate gather is a cogroup on centroid_id: codes and
    # routed queries each shuffle ONCE and meet per-list, with no
    # join-row explosion duplicating LUTs onto candidate rows
    assert "FlatMapCoGroupsInPandas" in plan
    assert "MapInPandas" in plan  # the Arrow routing stage
    # the ADC output is bounded (rerank per query per list) before the
    # global window — no full-corpus rows reach it
    assert "CollectLimit" not in plan


def test_ivf_pq_topk_release_search_resources(spark):
    """r14 (ADVICE r13): with a ``cleanup`` list, ``ivf_pq_topk``
    collects the one (probe-set, LUT, constants) broadcast it creates;
    ``release_search_resources`` destroys it and empties the list — the
    deterministic-cleanup contract the long-running ingest loop relies
    on."""
    import numpy as np
    import pytest as _pt
    from pyspark import Broadcast

    from comix_etl_spark.operators.similarity import (
        ivf_pq_topk, release_search_resources, train_ivf_centroids,
        train_residual_codebooks)

    rng = np.random.default_rng(3)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(40)],
        "vec_id long, embedding array<double>")
    query = spark.createDataFrame(
        [(100 + i, [float(x) for x in rng.normal(size=8)])
         for i in range(12)],
        "query_id long, embedding array<double>")
    centers = train_ivf_centroids(corpus, n_centroids=4, normalize=True)
    books = train_residual_codebooks(corpus, centers, m=2, k=4)
    resources: list = []
    out = ivf_pq_topk(corpus, query, centers=centers, codebooks=books,
                      k=3, nprobe=2, rerank=10, cleanup=resources)
    rows = out.collect()            # materialize BEFORE releasing
    assert len(rows) > 0
    assert len(resources) == 1
    bc = resources[0]
    # not read before release: a driver-side read caches the value
    assert isinstance(bc, Broadcast)
    release_search_resources(resources)
    assert resources == []          # emptied: reuse never double-frees
    with _pt.raises(Exception):     # destroyed broadcast is unusable
        bc.value
