"""Similarity search over embedding columns (SURVEY.md §7 extensions).

Generalizes the reference's best-match scoring (token overlap → argmax,
etl/seed/seed_from_marvel.py:126-141) to dense vectors:

- brute-force cosine top-k: the exact baseline. A full scan + per-row
  codegen'd dot product + TakeOrderedAndProject heap — no shuffle of the
  corpus, so it scales linearly and is often the right answer even big.
- LSH-bucketed (random hyperplane / SimHash-for-vectors): the scale
  path. L independent hash tables of b sign-bits each; candidates are
  bucket collisions in any table; exact cosine re-ranks candidates.

Embeddings stay `array<float>`; all math runs in Catalyst higher-order
functions (functions/vector.py) — no Python, no UDF, no MLlib dependency.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from comix_etl_spark.functions.vector import (
    cosine,
    hyperplane_buckets_pandas,
    random_hyperplane_bits,
)
from comix_etl_spark.operators.partitioning import spread_small_scan


def brute_force_topk(corpus: DataFrame, query: DataFrame, *, id_col: str = "vec_id",
                     vec_col: str = "embedding", k: int = 10,
                     query_id_col: str | None = None) -> DataFrame:
    """Exact cosine top-k of ``corpus`` rows for each query row.

    ``query`` is expected to be tiny (it is broadcast); the corpus is
    scanned once per plan regardless of query count. Deterministic
    tie-break on (similarity desc, id) with similarity rounded to 6dp so
    the selected set is stable across engines and retries.

    Without ``query_id_col`` the result is ONE top-k — valid only for a
    single query row; a multi-row query would silently mix all queries'
    scores into one ranking, so that case is rejected (cheap probe on
    the tiny-by-contract query side).
    """
    if query_id_col is None and query.limit(2).count() > 1:
        raise ValueError(
            "brute_force_topk: query has multiple rows but no "
            "query_id_col — the single top-k would mix queries; pass "
            "query_id_col to get per-query results")
    q = query.select(
        *([F.col(query_id_col).alias("_qid")] if query_id_col else []),
        F.col(vec_col).alias("_qvec"),
    )
    # the per-row cosine folds are the CPU cost; spread a one-split scan
    # so the score stage uses every core (no-op on a real multi-split table)
    joined = spread_small_scan(corpus.select(id_col, vec_col)).crossJoin(F.broadcast(q))
    sim = F.round(cosine(vec_col, "_qvec"), 6).alias("cosine_sim")
    cols = ([F.col("_qid").alias("query_id")] if query_id_col else []) + [F.col(id_col), sim]
    scored = joined.select(*cols)
    if query_id_col:
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.col(id_col))
        return (scored.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= k).drop("_rn"))
    return scored.orderBy(F.desc("cosine_sim"), F.col(id_col)).limit(k)


def quantized_brute_topk(corpus: DataFrame, query: DataFrame, *,
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         k: int = 10, query_id_col: str = "query_id") -> DataFrame:
    """Brute-force cosine top-k over int8-QUANTIZED vectors.

    The memory/bandwidth scale path for exact-shaped search: both sides
    quantize scan-side (functions/vector.py:quantize_int8 — 4× smaller
    scan, SIMD-able int dot products), and because the symmetric scale
    factors cancel in cosine, the score is simply the cosine of the two
    integer code vectors — exact integer dot products, so the ranking is
    fully deterministic and engine-reproducible (unlike float-sum
    ordering). Recall vs the float baseline is asserted in
    tests/test_similarity.py; production re-ranks the top candidates
    against float vectors when the last percent matters.
    """
    from comix_etl_spark.functions.vector import quantize_int8

    _, qv = quantize_int8(vec_col)
    qc = corpus.select(F.col(id_col), qv.alias(vec_col))
    qq = query.select(F.col(query_id_col), qv.alias(vec_col))
    return brute_force_topk(qc, qq, id_col=id_col, vec_col=vec_col, k=k,
                            query_id_col=query_id_col)


def train_ivf_centroids(corpus: DataFrame, *, vec_col: str = "embedding",
                        n_centroids: int = 16, sample_rows: int = 4096,
                        iters: int = 10, seed: int = 42,
                        normalize: bool = False):
    """Coarse quantizer for IVF: Lloyd k-means on a bounded sample.

    The sample is driver-small BY CONTRACT (``sample_rows`` rows of one
    column — a few MB); training is seconds of numpy. At 100 TB the
    sample still bounds at ``sample_rows`` — centroid quality depends on
    sampling, not corpus size. Deterministic: seeded choice of initial
    centers, fixed iteration count. Returns (n_centroids × dim) float64.

    ``normalize`` trains on L2-normalized samples — REQUIRED whenever
    the assignment side normalizes (ivf_pq_topk does; plain ivf_topk
    assigns raw). Training raw but assigning normalized puts every unit
    vector far from every raw-scale centroid and the ‖c‖²/2 penalty
    collapses the assignment onto the few smallest centroids — the r10c
    1M run measured 99.4% of rows landing in 24 of 256 lists that way.
    """
    rows = (corpus.select(vec_col).limit(sample_rows)).collect()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    if normalize:
        norms = np.linalg.norm(x, axis=1)
        x = x[norms > 0] / norms[norms > 0][:, None]
    rng = np.random.default_rng(seed)
    centers = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        d = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(centers)):
            m = assign == c
            if m.any():
                centers[c] = x[m].mean(axis=0)
    return centers


def assign_ivf_centroid(df: DataFrame, centers, *, vec_col: str = "embedding",
                        out_col: str = "centroid_id") -> DataFrame:
    """Nearest-centroid assignment: one (batch × dim) @ (dim × C) matmul
    per Arrow batch (‖x−c‖² argmin ≡ argmax(x·c − ‖c‖²/2) — no per-row
    Python). Scan-local; the 100 TB hot path for IVF list building."""
    ct = np.asarray(centers, dtype=np.float64).T          # dim × C
    half_norms = (ct * ct).sum(axis=0) / 2.0              # C

    @pandas_udf("int")
    def _assign(v: pd.Series) -> pd.Series:
        x = np.vstack(v.to_numpy()).astype(np.float64)
        return pd.Series((x @ ct - half_norms).argmax(axis=1).astype(np.int32))

    return df.withColumn(out_col, _assign(F.col(vec_col)))


def _collect_query_rows(q: DataFrame, query_id_col: str, vec_col: str,
                        max_query_rows: int):
    """Bounded pull of a top-k probe's query side. Every *_topk operator
    routes / LUT-builds queries driver-side ("tiny by contract"), and the
    streaming ANN ingest loop inherits that per micro-batch — so an
    unexpectedly fat query frame used to become a silent driver OOM.
    Same guard shape as ``dedup.embedding_dup_pairs``: collect at most
    ``max_query_rows + 1`` rows of (id, vector) and raise a clear error
    instead of letting the driver heap absorb the overflow. The default
    (10k queries) bounds the broadcast state at a few MB of LUTs."""
    rows = q.select(query_id_col, vec_col).limit(max_query_rows + 1).collect()
    if len(rows) > max_query_rows:
        raise ValueError(
            f"query side exceeds max_query_rows={max_query_rows}: top-k "
            f"probes collect the query frame driver-side to route lists "
            f"and build ADC LUTs, so a fat query frame becomes a driver "
            f"OOM rather than a distributed job. Score bulk query sets "
            f"with ivf_pq_topk_distributed (queries stay executor-side); "
            f"for a stream, cap the source's per-trigger size "
            f"(maxFilesPerTrigger / maxOffsetsPerTrigger) under "
            f"max_query_rows; or raise max_query_rows deliberately.")
    return rows


def ivf_topk(corpus: DataFrame, query: DataFrame, *, centers=None,
             id_col: str = "vec_id", vec_col: str = "embedding", k: int = 10,
             nprobe: int = 4, n_centroids: int = 16, seed: int = 42,
             query_id_col: str = "query_id",
             max_query_rows: int = 10_000) -> DataFrame:
    """IVF approximate cosine top-k: the other standard ANN scale path.

    Corpus vectors are bucketed by nearest coarse centroid (inverted
    lists); each query probes only its ``nprobe`` nearest lists, and
    candidates re-rank by exact cosine. Plan shape: one scan to assign
    centroids (no shuffle), a BROADCAST join of the tiny
    (query, probed centroid) table against the assigned corpus — the
    corpus never shuffles — then the per-query top-k window over
    candidates only. recall@k rises with nprobe (nprobe = n_centroids
    degenerates to exact brute force over all lists).
    """
    if centers is None:
        centers = train_ivf_centroids(corpus, vec_col=vec_col,
                                      n_centroids=n_centroids, seed=seed)
    corpus = spread_small_scan(corpus.select(id_col, vec_col))
    assigned = assign_ivf_centroid(corpus, centers, vec_col=vec_col)

    q = (query.withColumnRenamed(id_col, query_id_col)
         if query_id_col not in query.columns else query)
    qrows = _collect_query_rows(q, query_id_col, vec_col, max_query_rows)
    ct = np.asarray(centers, dtype=np.float64)
    probes = []
    for r in qrows:
        x = np.asarray(r[1], dtype=np.float64)
        d = ((ct - x[None, :]) ** 2).sum(axis=1)
        for c in np.argsort(d)[:nprobe]:
            probes.append((r[0], int(c), list(map(float, r[1]))))
    spark = corpus.sparkSession
    # derive the id type from the query column — hardcoding `long`
    # crashed on string doc ids, which every other operator supports
    qid_type = q.schema[query_id_col].dataType.simpleString()
    probe_df = spark.createDataFrame(
        probes,
        f"{query_id_col} {qid_type}, centroid_id int, _qvec array<double>")

    candidates = assigned.join(F.broadcast(probe_df), "centroid_id")
    scored = candidates.select(
        query_id_col, id_col,
        F.round(cosine(vec_col, "_qvec"), 6).alias("cosine_sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.col(id_col))
    return scored.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k).drop("_rn")


def make_hyperplanes(dim: int, bits: int, tables: int, seed: int = 42) -> list[list[list[float]]]:
    """Deterministic seeded hyperplanes: tables × bits × dim floats."""
    rng = random.Random(seed)
    return [[[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]
            for _ in range(tables)]


def rademacher_hyperplanes(dim: int, bits: int, tables: int) -> list[list[list[float]]]:
    """±1 (Rademacher) hyperplanes derived from md5 parity — the
    sign-random-projection LSH family with sparse ±1 entries instead of
    Gaussians (Achlioptas 2001 shows ±1 projections satisfy the same JL
    guarantees; for sign-LSH only the direction distribution matters).

    The point of the md5 derivation is CROSS-ENGINE reproducibility:
    ``sign(t, b, d) = +1 iff ascii(md5("p{t}_{b}_{d}")[0]) is even`` is
    computable in ANSI-ish SQL (DuckDB: ``ascii(substring(md5(...),1,1))
    % 2``), so the exact bucket assignment — not just the re-ranked
    output — can be verified by an independent engine. Used by the
    ``ann_lsh_det`` registry query's DuckDB oracle.
    """
    import hashlib

    def sign(t: int, b: int, d: int) -> float:
        h = hashlib.md5(f"p{t}_{b}_{d}".encode()).hexdigest()
        return 1.0 if ord(h[0]) % 2 == 0 else -1.0

    return [[[sign(t, b, d) for d in range(dim)] for b in range(bits)]
            for t in range(tables)]


def lsh_bucketed_topk(corpus: DataFrame, query: DataFrame, *, dim: int,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      k: int = 10, bits: int = 8, tables: int = 4, seed: int = 42,
                      query_id_col: str = "query_id", planes=None) -> DataFrame:
    """Approximate cosine top-k: random-hyperplane LSH candidates, exact
    re-rank. Corpus is hashed once for ALL tables (scan-local, no
    shuffle); the candidate join touches only colliding buckets.

    Bucketing strategy: for bits×tables beyond a handful, per-plane
    Column ``aggregate`` folds don't codegen and dominate runtime (they
    made ann_lsh the slowest bench query in round 1 at 7.5s), so the
    default path is ``hyperplane_buckets_pandas`` — one BLAS matmul per
    Arrow batch producing every table's bucket at once. The pure-Column
    path is kept for tiny plane counts where a UDF round-trip costs more
    than it saves.
    """
    if planes is None:
        planes = make_hyperplanes(dim, bits, tables, seed)
    else:
        tables, bits = len(planes), len(planes[0])
    use_pandas = bits * tables > 8

    def with_buckets(df: DataFrame, idc: str) -> DataFrame:
        if use_pandas:
            return df.select(
                F.col(idc),
                F.col(vec_col).alias(f"_v_{idc}"),
                F.posexplode(hyperplane_buckets_pandas(vec_col, planes)).alias("table", "bucket"),
            )
        b = df.select(
            F.col(idc),
            F.col(vec_col).alias(f"_v_{idc}"),
            F.explode(F.array(*[
                F.struct(F.lit(t).alias("table"),
                         random_hyperplane_bits(vec_col, planes[t]).alias("bucket"))
                for t in range(tables)
            ])).alias("tb"),
        )
        return b.select(idc, f"_v_{idc}", F.col("tb.table").alias("table"),
                        F.col("tb.bucket").alias("bucket"))

    qb = with_buckets(query.withColumnRenamed(id_col, query_id_col)
                      if query_id_col not in query.columns else query, query_id_col)
    cb = with_buckets(spread_small_scan(corpus.select(id_col, vec_col)), id_col)
    candidates = (
        cb.join(F.broadcast(qb), ["table", "bucket"])
        .select(query_id_col, id_col, f"_v_{id_col}", f"_v_{query_id_col}")
        .dropDuplicates([query_id_col, id_col])
    )
    scored = candidates.select(
        query_id_col, id_col,
        F.round(cosine(f"_v_{id_col}", f"_v_{query_id_col}"), 6).alias("cosine_sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.col(id_col))
    return scored.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k).drop("_rn")


def kmeans_fit(corpus: DataFrame, *, vec_col: str = "embedding", k: int = 8,
               iters: int = 5, seed: int = 42, init_sample: int = 4096):
    """Distributed Lloyd k-means over the FULL corpus (vs
    train_ivf_centroids' bounded-sample variant): the iterative-algorithm
    counterpart to operators/graph.py:pagerank, and the standard corpus
    pre-clustering step (topic balancing, IVF list building) a training
    pipeline runs before sampling.

    Per iteration: (1) nearest-centroid assignment — one (batch × dim) @
    (dim × k) matmul per Arrow batch, scan-local, no shuffle
    (assign_ivf_centroid); (2) mean update — posexplode to (cluster,
    dim_pos) and avg: ONE shuffle keyed on k·dim groups (well spread even
    for small k, map-side partial aggregation does most of the work);
    k·dim doubles come back to the driver per round — bounded by
    contract, independent of corpus size. Deterministic: seeded
    hash-ordered init, fixed iteration count.

    Returns (centers ndarray k × dim, assigned DataFrame with
    ``cluster_id``).
    """
    # spread ONCE before the loop (all columns — callers consume the
    # returned assignment); every iteration's assign + posexplode stage
    # inherits the width, no per-round repartition
    corpus = spread_small_scan(corpus).localCheckpoint(eager=False)
    # deterministic init: k centroids from a hash-ordered bounded sample
    # (same driver-small contract as train_ivf_centroids). The sample
    # collect doubles as the emptiness probe (r15 — the former separate
    # first() was one whole extra job per fit) and materializes the
    # lazy checkpoint for the iteration loop.
    rows = (corpus.select(vec_col)
            .orderBy(F.xxhash64(F.col(vec_col).cast("array<double>")))
            .limit(init_sample).collect())
    if not rows:
        raise ValueError("kmeans_fit: empty corpus")
    x = np.array([r[0] for r in rows], dtype=np.float64)
    rng = np.random.default_rng(seed)
    centers = x[rng.choice(len(x), size=min(k, len(x)), replace=False)]

    for _ in range(iters):
        assigned = assign_ivf_centroid(corpus, centers, vec_col=vec_col,
                                       out_col="cluster_id")
        means = (assigned
                 .select("cluster_id", F.posexplode(F.col(vec_col)).alias("_p", "_v"))
                 .groupBy("cluster_id", "_p")
                 .agg(F.avg("_v").alias("_m"))
                 .collect())
        for r in means:
            centers[r["cluster_id"]][r["_p"]] = r["_m"]

    assigned = assign_ivf_centroid(corpus, centers, vec_col=vec_col,
                                   out_col="cluster_id")
    return centers, assigned


def train_pq_codebooks(corpus: DataFrame, *, vec_col: str = "embedding",
                       m: int = 8, k: int = 16, sample_rows: int = 4096,
                       iters: int = 10, seed: int = 42):
    """Product-quantization codebooks (Jégou et al. 2011, public): the
    vector splits into ``m`` subspaces and each subspace gets its own
    ``k``-centroid quantizer, so a D-float vector compresses to m small
    codes (m bytes at k ≤ 256) — 32× beyond int8, the standard
    billion-vector memory layout.

    Training is per-subspace Lloyd on the SAME bounded driver sample
    contract as train_ivf_centroids (sample_rows × D floats, a few MB at
    any corpus size). Vectors are L2-normalized first so PQ inner
    product approximates cosine. Returns (m, k, D/m) float64."""
    rows = (corpus.select(vec_col).limit(sample_rows)).collect()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(x, axis=1)
    x = x[norms > 0] / norms[norms > 0][:, None]
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    rng = np.random.default_rng(seed)
    # zeros, not empty: a degenerate sample (< k distinct vectors) leaves
    # codebook slots unfilled, and uninitialized memory would make
    # pq_encode's argmax nondeterministically select garbage centroids
    books = np.zeros((m, k, sub), dtype=np.float64)
    for j in range(m):
        xj = x[:, j * sub:(j + 1) * sub]
        centers = xj[rng.choice(len(xj), size=min(k, len(xj)), replace=False)]
        for _ in range(iters):
            d = ((xj[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(len(centers)):
                msk = assign == c
                if msk.any():
                    centers[c] = xj[msk].mean(axis=0)
        books[j, :len(centers)] = centers
    return books


def pq_encode(df: DataFrame, codebooks, *, vec_col: str = "embedding",
              out_col: str = "pq_code") -> DataFrame:
    """Scan-local PQ encoding: per Arrow batch, one argmin against each
    subspace codebook (vectorized ‖x−c‖² via the dot-product identity —
    no per-row Python). Output is array<int> of length m; at rest this
    is the m-byte-per-vector layout PQ exists for."""
    books = np.asarray(codebooks, dtype=np.float64)
    m, k, sub = books.shape

    @pandas_udf("array<int>")
    def _enc(v: pd.Series) -> pd.Series:
        x = np.vstack(v.to_numpy()).astype(np.float64)
        n = np.linalg.norm(x, axis=1)
        n[n == 0] = 1.0
        x = x / n[:, None]
        codes = np.empty((len(x), m), dtype=np.int32)
        for j in range(m):
            xj = x[:, j * sub:(j + 1) * sub]
            ct = books[j].T                       # sub × k
            half = (ct * ct).sum(axis=0) / 2.0
            codes[:, j] = (xj @ ct - half).argmax(axis=1)
        return pd.Series(list(codes))

    return df.withColumn(out_col, _enc(F.col(vec_col)))


def pq_topk(corpus: DataFrame, query: DataFrame, *, codebooks=None,
            id_col: str = "vec_id", vec_col: str = "embedding", k: int = 10,
            m: int = 8, n_codes: int = 16, rerank: int = 50, seed: int = 42,
            query_id_col: str = "query_id",
            max_query_rows: int = 10_000) -> DataFrame:
    """PQ approximate cosine top-k with asymmetric distance (ADC) and
    exact re-rank — the memory-bandwidth ANN scale path: the scan reads
    m-byte codes instead of D floats, scores are m table lookups.

    Plan shape: codebooks + per-query lookup tables (m × k inner
    products per query, built driver-side from the tiny query set)
    broadcast to every task; a single mapInPandas pass over the encoded
    corpus emits only each Arrow batch's local top-``rerank`` per query
    (bounded output — the (corpus × queries) score matrix never
    materializes); a per-query window takes the global top-``rerank``;
    exact cosine re-ranks those candidates to the final k. The corpus
    never shuffles — only candidate rows move."""
    from pyspark.sql import Window

    from comix_etl_spark.functions.vector import cosine

    if codebooks is None:
        codebooks = train_pq_codebooks(corpus, vec_col=vec_col, m=m,
                                       k=n_codes, seed=seed)
    books = np.asarray(codebooks, dtype=np.float64)
    mm, kk, sub = books.shape

    q = (query.withColumnRenamed(id_col, query_id_col)
         if query_id_col not in query.columns else query)
    qrows = _collect_query_rows(q, query_id_col, vec_col, max_query_rows)
    # plain Python list, not np.int64: string doc ids must survive the
    # broadcast round-trip (they only ever index a dict/zip below)
    qids = [r[0] for r in qrows]
    qx = np.array([r[1] for r in qrows], dtype=np.float64)
    qn = np.linalg.norm(qx, axis=1)
    qn[qn == 0] = 1.0
    qx = qx / qn[:, None]
    # ADC LUTs: lut[q, j, c] = <query_sub_j, centroid_jc>
    luts = np.einsum("qjs,jcs->qjc", qx.reshape(len(qx), mm, sub), books)
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast((qids, luts))

    encoded = pq_encode(spread_small_scan(corpus.select(id_col, vec_col)),
                        books, vec_col=vec_col)

    def score_batches(batches):
        ids_b, luts_b = bc.value
        nq = len(ids_b)
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.vstack(pdf["pq_code"].to_numpy()).astype(np.int64)  # n × m
            cids = pdf["_cid"].to_numpy()
            # scores[n, q] = Σ_j lut[q, j, codes[n, j]]
            scores = np.zeros((len(codes), nq), dtype=np.float64)
            for qi in range(nq):
                scores[:, qi] = np.take_along_axis(
                    luts_b[qi], codes.T, axis=1).sum(axis=0)
            out = []
            top = min(rerank, len(codes))
            for qi in range(nq):
                # keep ALL rows tied with the top-th score: PQ code
                # collisions make exact ADC ties common, and dropping a
                # boundary tie here would make the global top-R depend
                # on batch order instead of the deterministic
                # (score desc, id) window tie-break downstream
                kth = np.partition(scores[:, qi], len(codes) - top)[len(codes) - top]
                idx = np.nonzero(scores[:, qi] >= kth)[0]
                out.append(pd.DataFrame({
                    "query_id": ids_b[qi],
                    "_cid": cids[idx],
                    "adc_score": scores[idx, qi],
                }))
            yield pd.concat(out, ignore_index=True)

    # id types derive from the actual columns — hardcoded `long` broke
    # string doc ids, which the dedup family explicitly supports
    qid_type = q.schema[query_id_col].dataType.simpleString()
    cid_type = corpus.schema[id_col].dataType.simpleString()
    batch_top = (encoded.select(F.col(id_col).alias("_cid"), "pq_code")
                 .mapInPandas(score_batches,
                              schema=f"query_id {qid_type}, _cid {cid_type}, "
                                     "adc_score double"))
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_score"), F.asc("_cid"))
    cand = (batch_top.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= rerank).drop("_rn", "adc_score"))
    # exact re-rank of candidates only
    cv = corpus.select(F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cv"))
    qv = spark.createDataFrame(
        [(r[0], list(map(float, r[1]))) for r in qrows],
        f"query_id {qid_type}, _qv array<double>")
    scored = (cand.join(cv, "_cid").join(F.broadcast(qv), "query_id")
              .select("query_id", F.col("_cid").alias(id_col),
                      F.round(cosine("_cv", "_qv"), 6).alias("cosine_sim")))
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return (scored.withColumn("_rn", F.row_number().over(w2))
            .filter(F.col("_rn") <= k).drop("_rn"))


def train_residual_codebooks(corpus: DataFrame, centers, *,
                             vec_col: str = "embedding", m: int = 8,
                             k: int = 16, sample_rows: int = 4096,
                             iters: int = 10, seed: int = 42):
    """PQ codebooks trained on IVF RESIDUALS (x − nearest-centroid) —
    the IVF-PQ layout (Jégou et al. 2011 §IV, public): residuals have
    far smaller spread than raw vectors, so the same m×k code budget
    quantizes them much more finely.

    Same bounded driver-sample contract as train_ivf_centroids /
    train_pq_codebooks: ``sample_rows`` vectors (a few MB at any corpus
    size), seconds of numpy, deterministic under the seed.

    Refuses centers whose scale is grossly off the unit sphere the
    assignment side normalizes onto (median ‖c‖ > 4): that is the
    raw-train/normalized-assign mismatch the r10c 1M run measured
    (99.4% of rows collapsing into 24/256 lists) — pass
    ``train_ivf_centroids(..., normalize=True)`` centers instead.
    One-sided on purpose: means of unit vectors legitimately have
    norm ≤ 1, so small norms are not evidence of a mismatch."""
    ct = np.asarray(centers, dtype=np.float64)
    med = float(np.median(np.linalg.norm(ct, axis=1)))
    if med > 4.0:
        raise ValueError(
            f"train_residual_codebooks: median center norm {med:.2f} is "
            f"far off the unit sphere this trainer assigns on — centers "
            f"look raw-scale; train with "
            f"train_ivf_centroids(normalize=True)")
    rows = (corpus.select(vec_col).limit(sample_rows)).collect()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(x, axis=1)
    x = x[norms > 0] / norms[norms > 0][:, None]
    assign = (x @ ct.T - (ct * ct).sum(axis=1) / 2.0).argmax(axis=1)
    r = x - ct[assign]
    dim = r.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    rng = np.random.default_rng(seed)
    books = np.zeros((m, k, sub), dtype=np.float64)
    for j in range(m):
        rj = r[:, j * sub:(j + 1) * sub]
        cent = rj[rng.choice(len(rj), size=min(k, len(rj)), replace=False)]
        for _ in range(iters):
            d = ((rj[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            for c in range(len(cent)):
                msk = a == c
                if msk.any():
                    cent[c] = rj[msk].mean(axis=0)
        books[j, :len(cent)] = cent
    return books


def ivf_pq_encode(df: DataFrame, centers, codebooks, *,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Scan-local IVF-PQ encoding: ONE Arrow pass per batch does
    normalize → nearest-centroid assignment → residual → per-subspace
    PQ argmax. Output is the at-rest IVF-PQ layout — (id, centroid_id,
    array<int> code): ~m bytes + one int per vector, the 100 TB index
    build with zero shuffle (the vectors never leave their scan tasks).
    """
    ct = np.asarray(centers, dtype=np.float64)
    books = np.asarray(codebooks, dtype=np.float64)
    m, _, sub = books.shape
    chalf = (ct * ct).sum(axis=1) / 2.0

    def encode_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
            n = np.linalg.norm(x, axis=1)
            n[n == 0] = 1.0
            x = x / n[:, None]
            cid = (x @ ct.T - chalf).argmax(axis=1)
            r = x - ct[cid]
            codes = np.empty((len(x), m), dtype=np.int32)
            for j in range(m):
                rj = r[:, j * sub:(j + 1) * sub]
                bt = books[j].T                      # sub × k
                half = (bt * bt).sum(axis=0) / 2.0
                codes[:, j] = (rj @ bt - half).argmax(axis=1)
            yield pd.DataFrame({"_id": pdf["_id"],
                                "centroid_id": cid.astype(np.int32),
                                "pq_code": list(codes)})

    idt = df.schema[id_col].dataType.simpleString()
    return (df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
            .mapInPandas(encode_batches,
                         schema=f"_id {idt}, centroid_id int, pq_code array<int>")
            .withColumnRenamed("_id", id_col))


def _route(qx, ct):
    """Query routing math shared by the driver and executor paths:
    L2-normalize the query rows (a zero row stays zero) and rank coarse
    centroids by the x·c − ‖c‖²/2 L2 identity — stable argsort, so ties
    break to the lowest list index (the rule every oracle reproduces).
    Returns (normalized queries, nq × C list order, best first)."""
    qn = np.linalg.norm(qx, axis=1)
    qn[qn == 0] = 1.0
    qx = qx / qn[:, None]
    cscore = qx @ ct.T - (ct * ct).sum(axis=1) / 2.0        # nq × C
    return qx, np.argsort(-cscore, axis=1, kind="stable")


def _probe_lists(qrows, ct, nprobe: int):
    """Driver-side routing of collected (tiny-by-contract) query rows
    through ``_route``. Returns (normalized queries, per-query probe
    lists)."""
    qx, order = _route(np.array([r[1] for r in qrows], dtype=np.float64), ct)
    return qx, [order[i, :nprobe].astype(np.int64) for i in range(len(qx))]


def _ivf_pq_prelude(corpus: DataFrame, query: DataFrame, centers,
                    codebooks, encoded: DataFrame | None, *, id_col: str,
                    vec_col: str, n_centroids: int, m: int, n_codes: int,
                    seed: int, query_id_col: str):
    """Shared setup of both IVF-PQ query paths: train the coarse
    centroids and residual codebooks when not given, rename the query
    id column, and encode the corpus unless a pre-built ``encoded``
    frame is injected. Returns (centers, codebooks, query frame, query
    id type, encoded frame)."""
    if centers is None:
        # normalized training to match the normalized assignment —
        # see train_ivf_centroids(normalize=) for the measured failure
        centers = train_ivf_centroids(corpus, vec_col=vec_col,
                                      n_centroids=n_centroids, seed=seed,
                                      normalize=True)
    ct = np.asarray(centers, dtype=np.float64)
    if codebooks is None:
        codebooks = train_residual_codebooks(corpus, ct, vec_col=vec_col,
                                             m=m, k=n_codes, seed=seed)
    books = np.asarray(codebooks, dtype=np.float64)
    q = (query.withColumnRenamed(id_col, query_id_col)
         if query_id_col not in query.columns else query)
    if encoded is None:
        encoded = ivf_pq_encode(
            spread_small_scan(corpus.select(id_col, vec_col)),
            ct, books, id_col=id_col, vec_col=vec_col)
    return (ct, books, q, q.schema[query_id_col].dataType.simpleString(),
            encoded)


def _rerank_tail(batch_top: DataFrame, corpus: DataFrame, qv: DataFrame,
                 *, id_col: str, vec_col: str, k: int,
                 rerank: int) -> DataFrame:
    """Shared tail of both IVF-PQ query paths. ``batch_top`` holds each
    scoring unit's local top-``rerank`` ADC rows (query_id, _cid,
    adc_score) with boundary ties kept; a per-query window takes the
    global top-``rerank`` by (score desc, id), then exact cosine against
    ``qv`` (query_id, _qv) re-ranks the survivors to the final k."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("adc_score"),
                                               F.asc("_cid"))
    cand = (batch_top.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= rerank).drop("_rn", "adc_score"))
    cv = corpus.select(F.col(id_col).alias("_cid"),
                       F.col(vec_col).alias("_cv"))
    scored = (cand.join(cv, "_cid").join(qv, "query_id")
              .select("query_id", F.col("_cid").alias(id_col),
                      F.round(cosine("_cv", "_qv"), 6).alias("cosine_sim")))
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"),
                                                F.asc(id_col))
    return (scored.withColumn("_rn", F.row_number().over(w2))
            .filter(F.col("_rn") <= k).drop("_rn"))


def ivf_pq_topk(corpus: DataFrame, query: DataFrame, *, centers=None,
                codebooks=None, id_col: str = "vec_id",
                vec_col: str = "embedding", k: int = 10, nprobe: int = 4,
                n_centroids: int = 16, m: int = 8, n_codes: int = 16,
                rerank: int = 50, seed: int = 42,
                query_id_col: str = "query_id",
                encoded: DataFrame | None = None,
                max_query_rows: int = 10_000,
                cleanup: list | None = None) -> DataFrame:
    """IVF-PQ approximate cosine top-k — the composed billion-scale ANN
    architecture (FAISS ``IVFx,PQm``-shaped, from the public Jégou et
    al. 2011 paper): coarse centroids route each query to ``nprobe``
    inverted lists, PQ codes of the RESIDUALS give m-byte vectors and
    m-lookup ADC scores, exact cosine re-ranks the survivors.

    ADC decomposes over the routing: for x in list c with residual code
    (c₁..c_m),  ⟨q, x⟩ ≈ ⟨q, center_c⟩ + Σⱼ lut[q, j, cⱼ] — the constant
    term is per-(query, probed list), the LUT is shared across lists
    because residual codebooks are shared (the standard IVFADC layout).

    Plan shape: one Arrow scan encodes (no shuffle — ivf_pq_encode);
    the tiny (query → probe set, LUT, constants) bundle broadcasts to
    every task; one mapInPandas pass scores ONLY rows whose list is
    probed and emits each batch's local top-``rerank`` per query with
    boundary ties kept (same determinism contract as pq_topk); a
    per-query window takes the global top-``rerank``; exact cosine
    re-ranks to the final k. The corpus never shuffles — only bounded
    candidate rows move, and unprobed lists are never scored.

    The query side is collected driver-side, at most
    ``max_query_rows`` rows (``_collect_query_rows`` raises beyond it).
    Bulk query sets belong on ``ivf_pq_topk_distributed``, which routes
    and scores queries executor-side with the same arithmetic.

    ``encoded`` injects a pre-built (id, centroid_id, pq_code) frame —
    the persisted-store path (ivf_pq_topk_from_store): the encode scan
    is skipped and scoring runs over whatever the caller pruned to.

    ``cleanup`` (r14, ADVICE r13): pass a list and the one pinned
    resource the call creates — its (probe-set, LUT, constants)
    broadcast — is appended to it; after the RESULT IS MATERIALIZED the
    caller releases it deterministically via
    ``release_search_resources``. Without it cleanup is GC/
    ContextCleaner-driven, which is fine for one-shot queries but lets
    block-manager and driver-temp state accumulate in long-running
    foreachBatch ingest loops for as long as Python references
    survive. Never release before an action has consumed the returned
    DataFrame — the plan reads the broadcast at execution time.
    """
    ct, books, q, qid_type, encoded = _ivf_pq_prelude(
        corpus, query, centers, codebooks, encoded, id_col=id_col,
        vec_col=vec_col, n_centroids=n_centroids, m=m, n_codes=n_codes,
        seed=seed, query_id_col=query_id_col)
    qrows = _collect_query_rows(q, query_id_col, vec_col, max_query_rows)
    mm, _, sub = books.shape
    qids = [r[0] for r in qrows]
    qx, probe_sets = _probe_lists(qrows, ct, nprobe)
    # shared residual LUT + per-list constant term
    luts = np.einsum("qjs,jcs->qjc", qx.reshape(len(qx), mm, sub), books)
    consts = qx @ ct.T                                       # nq × C: ⟨q, center⟩
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast((qids, probe_sets, luts, consts))
    if cleanup is not None:
        cleanup.append(bc)

    def score_batches(batches):
        ids_b, probes_b, luts_b, consts_b = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.vstack(pdf["pq_code"].to_numpy()).astype(np.int64)
            cids = pdf["centroid_id"].to_numpy().astype(np.int64)
            rowids = pdf["_cid"].to_numpy()
            # MANY queries: sort the Arrow batch by centroid ONCE, then
            # each query gathers its probed lists' rows via binary
            # search — the per-query np.isin mask scanned EVERY batch
            # row per query (O(nq·corpus) regardless of pruning):
            # measured r12 at nq=5000/95k landed vectors as the reason
            # the streaming ingest probe grew 7 → 30 s/batch instead of
            # staying near the ~6% probed fraction. FEW queries: the
            # mask is cheaper than the sort — keep it. Gather order
            # differs between paths but the emitted (row, score) SET is
            # identical — the ≥kth tie-keep is order-free and the
            # global (score desc, id) window does the ranking.
            if len(ids_b) > 8:
                order = np.argsort(cids, kind="stable")
                sorted_cids = cids[order]

                def _sel(qi):
                    lo = np.searchsorted(sorted_cids, probes_b[qi],
                                         side="left")
                    hi = np.searchsorted(sorted_cids, probes_b[qi],
                                         side="right")
                    parts = [order[a:b] for a, b in zip(lo, hi) if b > a]
                    return (np.concatenate(parts) if parts
                            else np.empty(0, dtype=np.int64))
            else:
                def _sel(qi):
                    return np.nonzero(np.isin(cids, probes_b[qi]))[0]
            out = []
            for qi in range(len(ids_b)):
                sel = _sel(qi)
                if not sel.size:
                    continue
                scores = consts_b[qi][cids[sel]] + np.take_along_axis(
                    luts_b[qi], codes[sel].T, axis=1).sum(axis=0)
                top = min(rerank, len(sel))
                # keep ALL boundary ties (pq_topk's determinism rule):
                # the global (score desc, id) window breaks them, not
                # batch order
                kth = np.partition(scores, len(sel) - top)[len(sel) - top]
                idx = np.nonzero(scores >= kth)[0]
                out.append(pd.DataFrame({
                    "query_id": ids_b[qi],
                    "_cid": rowids[sel[idx]],
                    "adc_score": scores[idx],
                }))
            if out:
                yield pd.concat(out, ignore_index=True)

    cid_type = corpus.schema[id_col].dataType.simpleString()
    batch_top = (encoded.select(F.col(id_col).alias("_cid"),
                                "centroid_id", "pq_code")
                 .mapInPandas(score_batches,
                              schema=f"query_id {qid_type}, _cid {cid_type}, "
                                     "adc_score double"))
    qv = spark.createDataFrame(
        [(r[0], list(map(float, r[1]))) for r in qrows],
        f"query_id {qid_type}, _qv array<double>")
    return _rerank_tail(batch_top, corpus, F.broadcast(qv), id_col=id_col,
                        vec_col=vec_col, k=k, rerank=rerank)


def release_search_resources(resources: list) -> None:
    """Deterministically release the pinned state ``ivf_pq_topk`` calls
    collected into their ``cleanup`` list: each (probe-set, LUT,
    constants) broadcast is destroyed, non-blocking. Call ONLY after an
    action has fully consumed the returned DataFrame (the plan reads
    the broadcast at execution time). The long-running caller is
    ``foreach_batch_ann_ingest`` (ADVICE r13): without this, cleanup
    is GC/ContextCleaner-driven and block-manager + driver-temp state
    accumulates across micro-batches for as long as Python references
    survive. The list is emptied so a reused list never double-frees."""
    while resources:
        resources.pop().destroy(blocking=False)


def ivf_pq_topk_distributed(corpus: DataFrame, query: DataFrame, *,
                            centers=None, codebooks=None,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding", k: int = 10,
                            nprobe: int = 4, n_centroids: int = 16,
                            m: int = 8, n_codes: int = 16,
                            rerank: int = 50, seed: int = 42,
                            query_id_col: str = "query_id",
                            encoded: DataFrame | None = None,
                            n_salts: int = 1) -> DataFrame:
    """IVF-PQ top-k with an EXECUTOR-SIDE query path — the bulk-scoring
    completion of ``ivf_pq_topk`` (VERDICT r13 #2): the query frame
    never funnels through the driver, so nq scales with the cluster
    instead of serially through one process. Output-identical to
    ``ivf_pq_topk`` on the same (centers, codebooks) — pytest-locked,
    and the ``ann_ivf_pq_dist`` registry query puts it under the same
    analytic DuckDB oracle as ``ann_ivf_pq_det``.

    Stage shape (all executor-side):
    1. ROUTE — one Arrow pass over the query frame (coarse centroids in
       the task closure): the shared ``_route`` math (normalize, rank
       lists by x·c − ‖c‖²/2, stable tie-break), emitting ``nprobe``
       rows per query carrying the per-list constant ⟨q, center⟩ and
       the query's flattened ADC LUT (m·n_codes doubles, computed ONCE
       per query with the exact ``einsum`` the driver path uses).
    2. GATHER + ADC — COGROUP the encoded corpus with the routed
       queries on ``centroid_id`` (``groupBy(...).cogroup(...)
       .applyInPandas``): each inverted list's codes meet the queries
       probing that list EXACTLY ONCE — no join-row explosion
       duplicating a 512-byte LUT onto every candidate row (a
       broadcast-join gather was measured pushing ~|list|·nq·LUT bytes
       through Arrow; the cogroup moves each side once). Per group the
       score is one vectorized take_along_axis+sum per query (the
       identical arithmetic order as ``ivf_pq_topk``'s scoring pass),
       emitting the group-local top-``rerank`` per query with boundary
       ties kept — the same superset contract, so the global window
       resolves identically. Scoring streams one query at a time
       (never a Q×N score matrix), so a hot list probed by millions
       of queries stays memory-bounded at |list| + its own top rows.
       ``n_salts`` > 1 additionally SUB-GROUPS every list: codes salt
       by xxhash64(id) % n_salts, routed rows replicate per salt, and
       the cogroup key becomes (centroid_id, salt) — a hot list found
       by ``ivf_pq_store_stats`` fans out across n_salts tasks instead
       of serializing in one. EXACT at any salt count: the tie-keep
       emit makes each sub-group's top-rerank a superset of its
       contribution to the global top, so the union the window ranks
       is unchanged (pytest-locked; the cost is n_salts× the routed
       LUT-row shuffle — tiny — and n_salts× the per-query kth
       partitions).
    3. The shared ``_rerank_tail``: global per-query top-``rerank``
       window, then exact cosine re-rank to k — with the query side
       JOINED as a DataFrame, not re-collected.

    Shuffle economics vs the driver path: the driver path moves zero
    corpus bytes but serializes every query through one process; this
    path shuffles the CODES once (m bytes + an int per vector — the
    compressed index, ~1–2% of raw corpus) plus nq·nprobe LUT rows,
    and in exchange the whole query side is cluster-parallel. At
    100 TB that is the right trade exactly when nq is large — bulk
    offline scoring, eval-suite decontamination — which is this
    function's contract; single queries and micro-batches should keep
    using ``ivf_pq_topk``.
    """
    ct, books, q, qid_type, encoded = _ivf_pq_prelude(
        corpus, query, centers, codebooks, encoded, id_col=id_col,
        vec_col=vec_col, n_centroids=n_centroids, m=m, n_codes=n_codes,
        seed=seed, query_id_col=query_id_col)
    mm, kk, sub = books.shape

    def route_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            qx, order = _route(
                np.vstack(pdf["_qv"].to_numpy()).astype(np.float64), ct)
            order = order[:, :nprobe]
            consts = qx @ ct.T
            luts = np.einsum("qjs,jcs->qjc",
                             qx.reshape(len(qx), mm, sub), books)
            flat = luts.reshape(len(qx), mm * kk)
            rep = np.repeat(np.arange(len(qx)), order.shape[1])
            yield pd.DataFrame({
                "_qid": pdf["_qid"].to_numpy()[rep],
                "centroid_id": order.ravel().astype(np.int32),
                "_cterm": np.take_along_axis(consts, order, axis=1).ravel(),
                "_lut": list(flat[rep])})

    routed = (q.select(F.col(query_id_col).alias("_qid"),
                       F.col(vec_col).alias("_qv"))
              .mapInPandas(route_batches,
                           schema=f"_qid {qid_type}, centroid_id int, "
                                  "_cterm double, _lut array<double>"))

    def score_group(codes_pdf, routed_pdf):
        if not len(codes_pdf) or not len(routed_pdf):
            return pd.DataFrame({"query_id": [], "_cid": [],
                                 "adc_score": []})
        codes = np.vstack(codes_pdf["pq_code"].to_numpy()).astype(np.int64)
        rowids = codes_pdf["_cid"].to_numpy()
        n = len(codes)
        top = min(rerank, n)
        qids_out, cids_out, sc_out = [], [], []
        for qid, cterm, lut in zip(routed_pdf["_qid"].to_numpy(),
                                   routed_pdf["_cterm"].to_numpy(),
                                   routed_pdf["_lut"].to_numpy()):
            lut2 = np.asarray(lut, dtype=np.float64).reshape(mm, kk)
            # the exact arithmetic order of ivf_pq_topk's scoring pass:
            # cterm + take_along_axis(lut, codes.T, 1).sum(axis=0)
            scores = cterm + np.take_along_axis(
                lut2, codes.T, axis=1).sum(axis=0)
            kth = np.partition(scores, n - top)[n - top]
            idx = np.nonzero(scores >= kth)[0]
            qids_out.append(np.full(len(idx), qid))
            cids_out.append(rowids[idx])
            sc_out.append(scores[idx])
        return pd.DataFrame({"query_id": np.concatenate(qids_out),
                             "_cid": np.concatenate(cids_out),
                             "adc_score": np.concatenate(sc_out)})

    cid_type = corpus.schema[id_col].dataType.simpleString()
    enc = encoded.select(F.col(id_col).alias("_cid"), "centroid_id",
                         "pq_code")
    if n_salts > 1:
        # hot-list fan-out: deterministic code-side salt, replicated
        # query-side rows — each sub-group's tie-keep top is a superset
        # of its slice of the global top, so the union is exact
        enc = enc.withColumn(
            "_salt", F.pmod(F.xxhash64("_cid"), F.lit(n_salts)).cast("int"))
        routed = routed.withColumn(
            "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)])))
        gkeys = ["centroid_id", "_salt"]
    else:
        gkeys = ["centroid_id"]
    batch_top = (enc.groupBy(*gkeys)
                 .cogroup(routed.groupBy(*gkeys))
                 .applyInPandas(
                     lambda left, right: score_group(left, right),
                     schema=f"query_id {qid_type}, _cid {cid_type}, "
                            "adc_score double"))
    qv = q.select(F.col(query_id_col).alias("query_id"),
                  F.col(vec_col).cast("array<double>").alias("_qv"))
    return _rerank_tail(batch_top, corpus, qv, id_col=id_col,
                        vec_col=vec_col, k=k, rerank=rerank)


def ivf_pq_store_stats(spark, table: str) -> DataFrame:
    """Index-health introspection for a persisted IVF-PQ store
    (``persist_ivf_pq_store``): one row per inverted list with its code
    count and its share of the index (integer millionths — engine-
    reproducible, no float division).

    Why it matters at 100 TB: the probe-cost model (`nprobe/C` of the
    index per query) assumes BALANCED lists — a skewed coarse
    quantizer silently concentrates the corpus into a few lists, and
    every query routed there pays a near-full scan while the plan
    still *looks* pruned. This report is the cheap periodic check that
    catches it: one aggregate over the store's partition column
    (partition-count metadata scale, no payload read beyond the id
    column), no shuffle of codes. Empty lists simply don't appear
    (their directories don't exist) — the list-count deficit vs C is
    itself the signal that centroids collapsed at train time."""
    enc = spark.table(table)
    per_list = enc.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_codes"))
    total = per_list.agg(F.sum("n_codes").alias("_t"))
    return (per_list.crossJoin(F.broadcast(total))
            .select("centroid_id", "n_codes",
                    F.expr("n_codes * 1000000L div _t").alias("share_e6")))


def persist_ivf_pq_store(corpus: DataFrame, centers, codebooks,
                         table: str, *, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         mode: str = "overwrite") -> None:
    """Persist the IVF-PQ index PARTITIONED BY LIST — one directory per
    coarse centroid, rows are (id, pq_code): the on-disk inverted-list
    layout. Build pays the encode scan ONCE; every later probe
    (``ivf_pq_topk_from_store``) filters on ``centroid_id`` and Spark's
    partition pruning reads ONLY the nprobe/C probed directories — at
    100 TB a nprobe=16/C=1024 search touches ~1.6% of the index files
    and never sees a raw vector until the bounded exact re-rank.

    Incremental ingest appends new batches' encoded rows with the same
    ``partitionBy`` (``mode="append"`` — pytest-locked to be probe-
    equivalent to a full rebuild), so the index grows without rebuilds.
    CONTRACT: the store bakes in its (centers, codebooks) — probes must
    pass the SAME ones or ADC scores are garbage; persist them
    alongside the table in production."""
    from comix_etl_spark.sinks.writers import (clear_orphan_table_dir,
                                               save_as_table)

    spark = corpus.sparkSession
    # overwrite clears a stale prior-session directory; append onto a
    # catalog-less directory REFUSES instead of silently replacing the
    # index with one batch (writers.clear_orphan_table_dir)
    clear_orphan_table_dir(spark, table, mode)
    enc = ivf_pq_encode(spread_small_scan(corpus.select(id_col, vec_col)),
                        centers, codebooks, id_col=id_col, vec_col=vec_col)
    # cluster the write by inverted list: without this every encode
    # task emits one file per centroid directory it touches (up to
    # tasks × C small files per batch — measured r14: 128 files for a
    # 2000-row index); repartitioned, each list lands as one file per
    # write batch, and every pruned probe opens nprobe files instead
    # of nprobe × tasks. Rows are (id, m-byte code) — a hot list's
    # single write task is bounded by the batch, not the corpus.
    save_as_table(enc.repartition(F.col("centroid_id")), table,
                  partition_by=["centroid_id"], mode=mode)


def ivf_pq_topk_from_store(corpus: DataFrame, query: DataFrame,
                           table: str, *, centers, codebooks,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding", k: int = 10,
                           nprobe: int = 4, rerank: int = 50,
                           query_id_col: str = "query_id",
                           max_query_rows: int = 10_000) -> DataFrame:
    """IVF-PQ search over a persisted store: routes the queries
    driver-side, scans ONLY the probed ``centroid_id=`` partitions
    (partition pruning, plan-asserted in tests/test_similarity.py),
    and reuses ivf_pq_topk's scoring tail. ``corpus`` supplies the raw
    vectors for the bounded exact re-rank only — the store itself
    holds m-byte codes."""
    spark = corpus.sparkSession
    ct = np.asarray(centers, dtype=np.float64)
    q = (query.withColumnRenamed(id_col, query_id_col)
         if query_id_col not in query.columns else query)
    qrows = _collect_query_rows(q, query_id_col, vec_col, max_query_rows)
    _, probe_sets = _probe_lists(qrows, ct, nprobe)
    probed = sorted({int(c) for s in probe_sets for c in s})
    encoded = (spark.table(table)
               .filter(F.col("centroid_id").isin(probed)))
    if id_col not in encoded.columns:
        raise ValueError(
            f"ivf_pq_topk_from_store: store {table!r} lacks id column "
            f"{id_col!r} — was it written by persist_ivf_pq_store with "
            f"a different id_col?")
    return ivf_pq_topk(corpus, query, centers=ct, codebooks=codebooks,
                       id_col=id_col, vec_col=vec_col, k=k, nprobe=nprobe,
                       rerank=rerank, query_id_col=query_id_col,
                       encoded=encoded, max_query_rows=max_query_rows)


def group_centroid_cosine(df: DataFrame, group_col: str, id_col: str,
                          vec_col: str = "embedding",
                          broadcast_centroid: bool = True) -> DataFrame:
    """Per-group embedding-cluster cohesion: the mean vector (centroid)
    of each group and every member's cosine to it, reduced to a
    per-group profile (n_vecs, avg/min cosine, 6dp) — the cluster-
    quality probe run after any grouping (language, source, k-means
    assignment) to decide whether the group is semantically tight.

    Plan: posexplode keys the centroid aggregate on (group, dim) —
    bounded cardinality (groups × width), partials collapse map-side so
    the shuffle moves O(width × partitions) rows. The centroid frame
    (groups × width rows) BROADCASTS back to the exploded members —
    joining co-partitioned would avoid the exchange but still sort the
    big exploded side (a sort-merge join the r6 fleet audit flagged);
    the broadcast removes that sort. Pass ``broadcast_centroid=False``
    for unbounded group cardinality. The per-member dot/norm reduce
    keys on the member id, and the final rollup is bounded by group
    count. The raw vectors never shuffle — only their exploded
    (group, dim) partials. Zero-norm members emit NULL cosine
    (excluded from avg/min, matching the `cosine` Column contract).
    """
    ex = df.select(F.col(group_col).alias("_g"), F.col(id_col).alias("_id"),
                   F.posexplode(vec_col).alias("_d", "_x"))
    ex = ex.withColumn("_x", F.col("_x").cast("double"))
    cent = ex.groupBy("_g", "_d").agg(F.avg("_x").alias("_c"))
    if broadcast_centroid:
        cent = F.broadcast(cent)
    joined = ex.join(cent, ["_g", "_d"])
    per_member = (joined.groupBy("_g", "_id")
                  .agg(F.sum(F.col("_x") * F.col("_c")).alias("_dot"),
                       F.sum(F.col("_x") * F.col("_x")).alias("_n2"),
                       F.sum(F.col("_c") * F.col("_c")).alias("_c2")))
    cos = F.when((F.col("_n2") > 0) & (F.col("_c2") > 0),
                 F.col("_dot") / (F.sqrt("_n2") * F.sqrt("_c2")))
    return (per_member.select("_g", cos.alias("_cos"))
            .groupBy(F.col("_g").alias(group_col))
            .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"),
                 F.round(F.avg("_cos"), 6).alias("avg_cos"),
                 F.round(F.min("_cos"), 6).alias("min_cos")))


def knn_join_lsh(corpus: DataFrame, *, dim: int, id_col: str = "vec_id",
                 vec_col: str = "embedding", k: int = 3, bits: int = 8,
                 tables: int = 4, seed: int = 42, planes=None,
                 auto_bits: bool = False,
                 target_bucket_rows: int = 32) -> DataFrame:
    """All-rows approximate kNN SELF-join: every corpus vector gets its
    top-k cosine neighbors (self excluded) from its LSH bucket
    collisions — the graph-construction primitive behind kNN graphs,
    embedding-dedup clustering, and label propagation. This is the
    shape fixed-query ANN cannot serve: the query set IS the corpus,
    so neither side broadcasts.

    Scale shape: the corpus is hashed once for all tables (scan-local
    Arrow matmul, hyperplane_buckets_pandas); the self-join keys on
    (table, bucket) so pair work is bounded per bucket (never
    corpus×corpus); duplicate pairs from multi-table collisions
    collapse once before scoring; the per-vector top-k is a window
    over candidates only. Returns (id_a, id_b, cosine_sim).

    Formulation note (measured, sf0.1): the candidates CARRY both
    embedding arrays through the dedup shuffle. The "slim" alternative
    — dedup bare id pairs, join vectors back after — shuffles ~60×
    fewer bytes per candidate row but measured 2× SLOWER here
    (4.8 s vs 2.3 s): with a corpus this size the two extra join
    stages cost more than the fatter shuffle. At a corpus too large to
    make those rejoins broadcastable AND pair volumes in the billions,
    revisit the slim form — the crossover is real, just far above
    bench scale.

    ``auto_bits`` (measured r7, scripts/scale_evidence.py): at FIXED
    bits, bucket occupancy grows linearly with the corpus, so
    within-bucket pair work grows QUADRATICALLY — a 10× corpus grew the
    candidate shuffle 134× (33 MB → 4.4 GB). Pass ``auto_bits=True`` to
    widen the code to ``ceil(log2(n / target_bucket_rows))`` bits (one
    count() scan), which pins EXPECTED bucket size — and therefore
    per-bucket pair work — constant as the corpus grows: the same 10×
    run at the auto-chosen 10 bits shuffled 3× less (1.5 GB) and ran
    3× faster (23.4 s → 7.6 s); the residual super-linearity is the
    test corpus's planted near-dup cliques (every vector ships 9 close
    copies), i.e. true candidates, not bucketing waste. This is the
    knob a 1000-executor deployment MUST set; it is off by default only
    so fixed-plane oracle queries stay deterministic."""
    if planes is None:
        if auto_bits:
            import math

            n = corpus.count()
            bits = max(bits, math.ceil(
                math.log2(max(n / target_bucket_rows, 2.0))))
        planes = make_hyperplanes(dim, bits, tables, seed)
    else:
        tables, bits = len(planes), len(planes[0])
    base = spread_small_scan(corpus.select(id_col, vec_col))
    hashed = base.select(
        F.col(id_col), F.col(vec_col),
        F.posexplode(hyperplane_buckets_pandas(vec_col, planes))
        .alias("_t", "_b"))
    a = hashed.select(F.col(id_col).alias("id_a"),
                      F.col(vec_col).alias("_va"), "_t", "_b")
    b = hashed.select(F.col(id_col).alias("id_b"),
                      F.col(vec_col).alias("_vb"), "_t", "_b")
    cand = (a.join(b, ["_t", "_b"])
            .filter(F.col("id_a") != F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    scored = cand.select(
        "id_a", "id_b",
        F.round(cosine("_va", "_vb"), 6).alias("cosine_sim"))
    from pyspark.sql import Window

    w = Window.partitionBy("id_a").orderBy(F.desc("cosine_sim"), F.col("id_b"))
    return (scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k).drop("_rn"))


def kcenter_sample(df: DataFrame, *, id_col: str = "vec_id",
                   vec_col: str = "embedding", k: int = 8,
                   batch: int = 1) -> DataFrame:
    """Greedy k-center / farthest-point diversity sampling (Gonzalez
    1985) over an embedding column — the coverage-maximizing SELECTION
    step of data curation (pick k maximally-diverse exemplars; the
    2-approximation to the optimal k-center cover). Distance = cosine
    distance quantized to integer micro-units, so every argmax compares
    int64s and the sample is engine- and rerun-deterministic (the same
    6dp-rounded-cosine idiom the ANN oracles already prove).

    One loop (after the min-id seed): a running ``_md`` column holds
    each row's min distance to the chosen set. Each round lazily
    ``localCheckpoint``s it (pinning the value and truncating lineage;
    the round's TakeOrdered collect materializes the blocks, so no
    separate count job — r15), excludes the chosen ids, fetches the
    top-``batch`` rows by ``_md``, accepts them under the strict bound
    below, and updates ``_md`` against ONLY the accepted centers — O(k)
    center-distance evaluations per row in total, the k-means-loop
    shape. The k-scans form it replaced re-evaluated every chosen
    center on every row each round, O(k²): measured r9 at k=64 on sf0.1
    embeddings, 189.3 s against 18.3 s for the running-min loop, with
    identical output. int64 micro-unit distances make
    ``least(least(a,b),c) == least(a,b,c)`` exact, including the
    NULL-skip for zero-norm vectors, so the selection equals the
    round-by-round oracle (``plans/queries.py::_kcenter_oracle_sql``,
    pytest-locked). Cost of the trade: one checkpoint materialization
    of (id, vec, norm, mind) per round — size the executor storage pool
    for one corpus copy; superseded checkpoint blocks are released by
    Spark's ContextCleaner as the previous frame goes unreferenced.

    ``batch=m`` (m > 1) is Gonzalez OVER-SELECTION, for curation-scale
    k (hundreds-thousands) where the job-per-round driver round-trip is
    the ceiling: each round fetches the top-m farthest candidates in
    ONE TakeOrdered(m), then accepts them greedily driver-side —
    candidate distances to centers accepted EARLIER IN THE SAME BATCH
    are re-verified with one tiny m-row Spark job built from the SAME
    quantized-distance expression (so acceptance math is bit-identical
    to the per-round update), and acceptance stops the moment the best
    updated candidate no longer STRICTLY beats the stale distance of
    the last fetched candidate (an upper bound on every non-fetched
    point, whose distances only shrink as centers are added). Output is
    therefore IDENTICAL for every ``batch`` (pytest-locked at k=64);
    only the round count changes: k/⟨accepted per batch⟩ checkpoints +
    2 jobs per round instead of k of each. Worst case (adversarial
    ties) accepts 1 per round — never worse than ``batch=1``. Measured
    r10 at k=512: ``batch=16`` 96.8 s against 148.9 s at ``batch=1``;
    larger batches stopped helping (b32 103.2 s, b64 121.6 s) because
    the strict bound flushes early once the distance field gets dense.

    Centers enter the per-round expressions in one of two forms, chosen
    from ``k`` (r12): at k ≤ 32 as literal arrays (the update is one
    ``least(_md, dist(c₁), …)``, the exclusion an ``isin``); above it as
    broadcast DATA bundles (a ``collect_list`` of (vector, norm) structs
    folded by ``aggregate``, the exclusion a broadcast anti-join), so
    the generated code is round-invariant and janino compiles once.
    Profiled r12 at k=1024/b64: ~5.6 s/round of fresh-compile cost with
    literals → 2.1 s/round with bundles, 112.5 → 54.6 s end to end; but
    each bundle costs a couple of extra tiny jobs per round, which
    dominated at serving k (the k=8 registry queries measured 1.8–3×
    slower under always-bundle in the r12 run-A bench).

    Returns (sel_order, id, mindist_e6): selection order (0 = seed),
    point id, and its min cosine distance ×1e6 to the previously
    chosen set at selection time (NULL for the seed).
    """
    import math

    from comix_etl_spark.functions.vector import dot, norm

    if k < 1:
        raise ValueError("k must be >= 1")
    if batch < 1:
        raise ValueError("batch must be >= 1")
    spark = df.sparkSession
    # NULL ids (or ids that fail the long cast) are dropped: a NULL
    # seed would poison every round's ~isin filter (NULL comparisons
    # filter the whole corpus — every round came back empty), and the
    # oracle's min(vec_id) skips NULLs anyway
    src = (df.select(F.col(id_col).cast("long").alias("_id"),
                     F.transform(F.col(vec_col),
                                 lambda x: x.cast("double")).alias("_v"))
           .filter(F.col("_id").isNotNull()))
    # fold each row's norm ONCE per scan (the naive per-center cosine
    # recomputes it i times per row per round — measured ~40% of round
    # cost); the CENTER's norm is a driver-side float over the same
    # left-to-right fold order, so the quotient is bit-identical to
    # the cosine() form the oracle mirrors
    src = src.withColumn("_n", norm(F.col("_v")))
    seed = src.orderBy("_id").limit(1).collect()
    if not seed:
        return spark.createDataFrame(
            [], "sel_order int, id long, mindist_e6 long")
    chosen: list[tuple[int, list, int | None]] = [
        (seed[0]._id, list(seed[0]._v), None)]

    def _cnorm(vec: list) -> float:
        # plain left-to-right sum from 0.0 — the same IEEE fold order as
        # functions.vector.norm's aggregate and the oracle's
        # list_dot_product(v, v), so all three agree bit-for-bit
        return math.sqrt(sum((x * x for x in vec), 0.0))

    def _qdist(cv, cn):
        # quantized cosine distance of every row to one center (cv =
        # its vector, cn = its driver-computed norm), in micro-units;
        # NULL when either norm is zero. Every update and re-verify
        # goes through this one expression, so all forms agree
        # bit-for-bit, and int64 least() is associative+commutative
        # with NULL-skip, so neither the fold order nor collect_list's
        # array order matters.
        cos = F.when((F.col("_n") > 0) & (cn > 0),
                     dot(F.col("_v"), cv) / (F.col("_n") * cn))
        return F.round((F.lit(1.0) - F.round(cos, 6)) * 1e6).cast("long")

    def _dist(vec: list):
        # F.lit(list) builds ONE ArrayType literal in a single py4j
        # round-trip; an F.array(*[F.lit(x) ...]) form makes dim+1 JVM
        # calls per center — measured r14 as multiple seconds of pure
        # driver time at k=8/dim=64
        return _qdist(F.lit([float(x) for x in vec]), F.lit(_cnorm(vec)))

    def _key(md, cid):
        # TakeOrdered order: _md DESC NULLS LAST, _id ASC
        return (md is None, -(md if md is not None else 0), cid)

    use_bundles = k > 32
    cur = src.withColumn("_md", _dist(list(seed[0]._v)))
    while len(chosen) < k:
        cur = cur.localCheckpoint(eager=False)
        if use_bundles:
            # exclusion by broadcast ANTI-join, not isin: at curation k
            # (1024+) the per-round isin rebuilt a k-literal In
            # expression — the r11b anti-pattern
            chosen_ids = spark.createDataFrame(
                [(c[0],) for c in chosen], "_id long")
            base_cand = cur.join(F.broadcast(chosen_ids), "_id", "anti")
        else:
            base_cand = cur.filter(
                ~F.col("_id").isin([c[0] for c in chosen]))
        cand = (base_cand
                .orderBy(F.col("_md").desc(), F.col("_id").asc())
                .limit(batch)
                .select("_id", "_v", "_n", "_md").collect())
        if not cand:  # k exceeds the corpus — return what exists
            break
        # fewer than `batch` rows ⇒ the whole remaining corpus is in
        # hand and no outside point can outrank anything here
        exhausted = len(cand) < batch
        bound = None if exhausted else cand[-1]._md
        # pairwise quantized distances among candidates (_qdist). At
        # curation k the candidate set rides as DATA (a broadcast
        # collect_list bundle) so the generated code is round-invariant
        # (r12); the norms are the driver-collected _n of the same rows
        # (norm() fold — the exact value _cnorm recomputes), so
        # quantized distances are unchanged.
        mat: dict[tuple[int, int], int | None] = {}
        if len(cand) > 1:
            cdf = spark.createDataFrame(
                [(c._id, list(c._v), float(c._n)) for c in cand],
                "_id long, _v array<double>, _n double")

            def _dstruct(c):
                return F.struct(c["ci"].alias("ci"),
                                _qdist(c["cv"], c["cn"]).alias("d"))

            if use_bundles:
                cents = cdf.agg(F.collect_list(F.struct(
                    F.col("_id").alias("ci"), F.col("_v").alias("cv"),
                    F.col("_n").alias("cn"))).alias("_cs"))
                scored_rows = (cdf.crossJoin(F.broadcast(cents))
                               .select("_id",
                                       F.transform(F.col("_cs"), _dstruct)
                                       .alias("_ds")))
            else:
                lits = F.array(*[
                    F.struct(
                        F.lit(c._id).alias("ci"),
                        F.lit([float(x) for x in c._v]).alias("cv"),
                        F.lit(float(c._n)).alias("cn"))
                    for c in cand])
                scored_rows = cdf.select(
                    "_id", F.transform(lits, _dstruct).alias("_ds"))
            for r in scored_rows.collect():
                for e in r["_ds"]:
                    mat[(r._id, e["ci"])] = e["d"]
        upd = {c._id: c._md for c in cand}
        vecs = {c._id: list(c._v) for c in cand}
        pending = [c._id for c in cand]
        accepted_vecs: list[list] = []
        while pending and len(chosen) < k:
            best = min(pending, key=lambda i: _key(upd[i], i))
            # first pick of the round is the exact greedy argmax; later
            # picks must STRICTLY beat the stale bound on every
            # non-fetched point (ties could hide a smaller-id point
            # outside the batch)
            if accepted_vecs and not exhausted and not (
                    upd[best] is not None and bound is not None
                    and upd[best] > bound):
                break
            chosen.append((best, vecs[best], upd[best]))
            accepted_vecs.append(vecs[best])
            pending.remove(best)
            for i in pending:
                vals = [v for v in (upd[i], mat.get((i, best)))
                        if v is not None]
                upd[i] = min(vals) if vals else None
        if use_bundles:
            nbundle = (spark.createDataFrame(
                [(v, _cnorm(v)) for v in accepted_vecs],
                "cv array<double>, cn double")
                .agg(F.collect_list(F.struct("cv", "cn")).alias("_cs")))
            cur = (cur.crossJoin(F.broadcast(nbundle))
                   .withColumn("_md", F.aggregate(
                       F.col("_cs"), F.col("_md"),
                       lambda acc, c: F.least(acc, _qdist(c["cv"], c["cn"]))))
                   .drop("_cs"))
        else:
            # the r9 form: a flat least() codegens better than an
            # aggregate() fold over a literal array at serving k
            cur = cur.withColumn(
                "_md", F.least(F.col("_md"),
                               *[_dist(v) for v in accepted_vecs]))
    return spark.createDataFrame(
        [(i, cid, md) for i, (cid, _vec, md) in enumerate(chosen)],
        "sel_order int, id long, mindist_e6 long")
