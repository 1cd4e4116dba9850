"""Deduplication operators for training-data pipelines (SURVEY.md §7).

Generalizes the reference's identity machinery — the crawl-dedup set
(etl/sources/marvel_extract.py:95-119), anti-join-before-insert
(etl/seed/seed_from_marvel.py:248-254), and md5 digests (etl/utils.py:13-29)
— into the four standard large-corpus dedup strategies:

1. exact        — content fingerprint (md5 of canonical text) + groupBy.
2. n-gram Jaccard — exact pairwise similarity via a shingle inverted
                  index; the *verification* primitive.
3. MinHash+LSH  — the scale path: constant-size signatures, banded
                  bucketing, candidates only within buckets.
4. SimHash      — 64-bit sketch; near-dups have small Hamming distance.

Scale notes (100 TB):
- everything is built from explode/groupBy/join — no Python in the loop;
  MinHash signatures are k min-aggregates over one exploded shuffle.
- the pairwise shingle join is O(sum of postings²) in the worst case —
  ONLY run it within LSH buckets (minhash_lsh_pairs) or on small slices;
  exposed standalone because it is the correctness oracle for the others.
- hot shingles (boilerplate) explode posting lists: drop shingles with
  document frequency > df_cap before pairing (standard trick).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from comix_etl_spark.functions.text import fingerprint, shingles, tokens


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by content hash: one row per distinct content with the
    keeper id (min id) and the copy count. One shuffle on the hash."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


from comix_etl_spark.operators.partitioning import spread_small_scan as _spread_small_scan


def shingle_postings(df: DataFrame, id_col: str, text_col: str, n: int = 3,
                     df_cap: int | None = None) -> DataFrame:
    """(id, shingle) inverted-index postings — deliberately SLIM: the
    pair join shuffles |postings|² worth of rows in the worst case, so
    every extra byte on a posting multiplies (measured 15× slowdown
    carrying one extra long through the sf0.1 pair shuffle). Optionally
    drop shingles with document frequency > df_cap (boilerplate
    suppression)."""
    base = _spread_small_scan(df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt")))
    posts = base.select("_id", F.explode(shingles("_txt", n)).alias("shingle"))
    if df_cap is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("shingle")
        posts = posts.withColumn("_df", F.count(F.lit(1)).over(w)) \
                     .filter(F.col("_df") <= df_cap).drop("_df")
    return posts


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str, n: int = 3,
                        threshold: float = 0.5, df_cap: int | None = None,
                        metric: str = "jaccard") -> DataFrame:
    """Exact n-gram set similarity for every co-shingled pair.

    ``metric``: "jaccard" = |∩| / |A∪B| (symmetric near-dup);
    "containment" = |∩| / min(|A|,|B|) — catches a short document
    embedded inside a longer one, which Jaccard scores near zero (the
    subset-duplication case RefinedWeb-style cleaning screens for).
    Same plan either way; only the final scalar differs.

    Plan: postings grouped per shingle → sorted id list → the (i<j)
    pairs expanded INLINE with a codegen transform/slice expression →
    per-pair intersection count → join the two set sizes → score.
    Returns (id_a, id_b, <metric>) >= threshold.

    The per-shingle group-and-expand replaces the r2 postings self-join:
    one shuffle on shingle instead of two join sides, and ``df_cap``
    becomes a plain posting-list size filter (no window pass). The
    emitted pair volume is identical — O(sum of postings²) by design;
    cap it (df_cap) or run within LSH buckets at scale.
    """
    base = _spread_small_scan(df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt")))
    sh = base.select("_id", shingles("_txt", n).alias("_sh"))
    # shuffle 8-byte xxhash64 keys, not ~20-byte shingle strings: the
    # posting shuffle and the per-shingle sort both shrink ~3×; Jaccard
    # only needs shingle IDENTITY, and a 64-bit collision among the
    # distinct-shingle population (n²/2⁶⁵, ~1e-11 at 100M shingles) is
    # below any float tolerance this operator reports at
    posts = sh.select("_id", F.explode(F.transform(
        "_sh", lambda s: F.xxhash64(s))).alias("shingle"))
    # sizes computed scan-side (no explode); joined AFTER the pair
    # aggregate, when rows have collapsed from |pair postings| (~40M at
    # sf0.1) to |pairs| — AQE broadcasts the small sizes side
    sizes = sh.select("_id", F.size("_sh").alias("n_sh"))
    lists = (posts.groupBy("shingle")
             .agg(F.sort_array(F.collect_list("_id")).alias("ids"))
             .filter(F.size("ids") >= 2))
    if df_cap is not None:
        # boilerplate suppression: a shingle shared by > df_cap docs
        # contributes df² pair rows and ~0 signal — drop the whole
        # group, AND remove those shingles from the per-doc sizes so
        # the score is the true Jaccard of the CAPPED shingle sets.
        # (Subtracting from the numerator only would under-score: two
        # identical docs sharing one capped boilerplate shingle must
        # still score 1.0, not 9/11.)
        over = (lists.filter(F.size("ids") > df_cap)
                .select(F.explode("ids").alias("_id"))
                .groupBy("_id").agg(F.count(F.lit(1)).alias("_over")))
        sizes = (sizes.join(over, "_id", "left")
                 .select("_id", (F.col("n_sh")
                                 - F.coalesce(F.col("_over"), F.lit(0)))
                         .alias("n_sh")))
        lists = lists.filter(F.size("ids") <= df_cap)
    # (x, i) -> pairs of x with every LATER id: transform's index i is
    # 0-based, slice() is 1-based, so the tail after position i is
    # slice(ids, i + 2, ...). Stays inside codegen — no UDF, no join.
    pair_expr = F.explode(F.flatten(F.expr(
        "transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)), "
        "y -> struct(x AS id_a, y AS id_b)))")))
    inter = (
        lists.select(pair_expr.alias("p")).select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    if metric == "jaccard":
        denom = (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
    elif metric == "containment":
        denom = F.least(F.col("n_a"), F.col("n_b")).cast("double")
    else:
        raise ValueError(f"metric must be jaccard|containment, not {metric!r}")
    out = (
        inter.join(sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn(metric,
                    F.round(F.col("n_common").cast("double") / denom, 6))
    )
    return out.filter(F.col(metric) >= threshold).select("id_a", "id_b", metric)


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_hashes: int = 32, n: int = 3,
                       hash_fn: str = "xxhash64") -> DataFrame:
    """MinHash signatures: k independent min-aggregates of seeded hashes
    over the shingle postings — one shuffle, constant output per doc.
    Docs with no shingles (shorter than n words) are dropped.

    ``hash_fn``: "xxhash64" (default — 8-byte keys, the fast path) or
    "md5" (hex-string mins of ``md5("{i}_" + shingle)``) — ~4× more
    bytes per signature slot, but byte-identical to what any engine's
    md5 produces, so the FULL banding machinery becomes verifiable by
    the DuckDB oracle (registry query ``minhash_lsh_det``)."""
    posts = shingle_postings(df, id_col, text_col, n)
    if hash_fn == "xxhash64":
        aggs = [F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"mh_{i}")
                for i in range(num_hashes)]
    elif hash_fn == "md5":
        aggs = [F.min(F.md5(F.concat(F.lit(f"{i}_"), F.col("shingle")))).alias(f"mh_{i}")
                for i in range(num_hashes)]
    else:
        raise ValueError(f"hash_fn must be xxhash64|md5, not {hash_fn!r}")
    sigs = posts.groupBy("_id").agg(*aggs)
    return sigs.select("_id", F.array(*[f"mh_{i}" for i in range(num_hashes)]).alias("signature"))


def minhash_band_rows(df: DataFrame, id_col: str, text_col: str, *,
                      num_hashes: int = 32, bands: int = 8, n: int = 3,
                      hash_fn: str = "xxhash64") -> DataFrame:
    """(``_id``, band, bucket) rows — the LSH index side of banded
    MinHash, factored out so self-join dedup (``minhash_lsh_pairs``) and
    batch-vs-corpus probing (``dedup_against_corpus``) share one
    banding implementation. In production the corpus side of this is
    computed once and PERSISTED bucketed-by-(band, bucket); the daily
    probe then joins against it without reshuffling the corpus."""
    if bands <= 0 or num_hashes % bands != 0:
        # silent truncation would quietly alter the documented collision
        # probability 1-(1-s^r)^b (and bands > num_hashes would make
        # every bucket key CONSTANT, degenerating LSH to a cross join)
        raise ValueError(f"bands must evenly divide num_hashes; got "
                         f"num_hashes={num_hashes}, bands={bands}")
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, n, hash_fn)

    def band_key(bi: int):
        slots = [F.col("signature")[bi * rows_per_band + j]
                 for j in range(rows_per_band)]
        if hash_fn == "md5":
            # engine-reproducible bucket: md5 of the '|'-joined band mins
            return F.md5(F.concat_ws("|", *slots))
        return F.xxhash64(*slots)

    return sigs.select(
        "_id",
        F.explode(F.array(*[
            F.struct(F.lit(bi).alias("band"), band_key(bi).alias("bucket"))
            for bi in range(bands)
        ])).alias("bb"),
    ).select("_id", "bb.band", "bb.bucket")


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str, *,
                      num_hashes: int = 32, bands: int = 8, n: int = 3,
                      threshold: float = 0.5, hash_fn: str = "xxhash64") -> DataFrame:
    """Near-dup pairs via banded MinHash LSH, verified with exact Jaccard.

    Signature is split into ``bands`` bands of ``num_hashes/bands`` rows;
    docs colliding on any band become candidates (the only pairwise work),
    then candidates are verified against exact shingle Jaccard. Bucket
    collision probability ≈ 1-(1-s^r)^b — tune bands to the threshold.
    """
    band_rows = minhash_band_rows(df, id_col, text_col,
                                  num_hashes=num_hashes, bands=bands, n=n,
                                  hash_fn=hash_fn)
    a = band_rows.alias("a")
    b = band_rows.alias("b")
    candidates = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    # verify ONLY the candidates: join each side's (distinct) shingle set
    # and compute exact Jaccard per pair — work is O(candidates), never
    # O(all co-shingled pairs); this is the whole point of LSH at scale.
    sh = df.select(F.col(id_col).alias("_id"), shingles(text_col, n).alias("sh"))
    verified = (
        candidates
        .join(sh.select(F.col("_id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("_id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(F.col("n_common").cast("double")
                    / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")).cast("double"), 6),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def dedup_against_corpus(batch: DataFrame, corpus: DataFrame, id_col: str,
                         text_col: str, *, num_hashes: int = 32,
                         bands: int = 8, n: int = 3, threshold: float = 0.5,
                         hash_fn: str = "xxhash64") -> DataFrame:
    """INCREMENTAL near-dup screen: which documents of a NEW batch are
    already present (exact Jaccard ≥ threshold) in a LANDED corpus —
    the daily-crawl dedup every growing training set runs, where
    re-running the all-pairs self-join over corpus+batch would redo
    yesterday's work to answer a question about today's sliver.

    Returns one row per duplicated batch doc: ``(doc_id, match_id,
    jaccard)`` with its BEST corpus match (max Jaccard, ties to the
    smallest corpus id). Batch docs with no match ≥ threshold are
    absent (anti-join the output against the batch to get survivors).

    Scale shape: both sides band with the SAME ``minhash_band_rows``
    machinery, but the join is strictly CROSS-SIDE — candidates are
    batch×corpus band collisions only, never corpus×corpus. The corpus
    side's band rows are exactly what production persists bucketed by
    (band, bucket): then the probe join is shuffle-free on the corpus
    (the 100 TB side never moves; only the batch's band keys and the
    candidates' shingle sets do). Verification joins shingle SETS per
    candidate — O(candidates), the LSH contract."""
    nb = minhash_band_rows(batch, id_col, text_col, num_hashes=num_hashes,
                           bands=bands, n=n, hash_fn=hash_fn)
    ob = minhash_band_rows(corpus, id_col, text_col, num_hashes=num_hashes,
                           bands=bands, n=n, hash_fn=hash_fn)
    candidates = (nb.alias("a")
                  .join(ob.alias("b"),
                        (F.col("a.band") == F.col("b.band"))
                        & (F.col("a.bucket") == F.col("b.bucket")))
                  .select(F.col("a._id").alias("id_new"),
                          F.col("b._id").alias("id_old"))
                  .distinct())
    return _best_match_verify(candidates, batch, corpus, id_col, text_col,
                              n=n, threshold=threshold)


def _best_match_verify(candidates: DataFrame, batch: DataFrame,
                       corpus: DataFrame, id_col: str, text_col: str, *,
                       n: int, threshold: float) -> DataFrame:
    """Shared exact-Jaccard verification + best-match election tail of
    the incremental screens (``dedup_against_corpus`` and the
    store-backed probe): join each (id_new, id_old) candidate's shingle
    SETS, keep Jaccard ≥ threshold, report each batch doc's best corpus
    match (max Jaccard, ties to the smallest corpus id). Work is
    O(candidates) — the LSH contract."""
    sh_new = batch.select(F.col(id_col).alias("id_new"),
                          shingles(text_col, n).alias("sh_n"))
    sh_old = corpus.select(F.col(id_col).alias("id_old"),
                           shingles(text_col, n).alias("sh_o"))
    verified = (candidates
                .join(sh_new, "id_new").join(sh_old, "id_old")
                .withColumn("n_common",
                            F.size(F.array_intersect("sh_n", "sh_o")))
                .withColumn("jaccard", F.round(
                    F.col("n_common").cast("double")
                    / (F.size("sh_n") + F.size("sh_o")
                       - F.col("n_common")).cast("double"), 6))
                .filter(F.col("jaccard") >= threshold))
    w = Window.partitionBy("id_new").orderBy(F.col("jaccard").desc(),
                                             F.col("id_old"))
    return (verified.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(F.col("id_new").alias(id_col),
                    F.col("id_old").alias("match_id"), "jaccard"))


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star contraction: every node connects its strictly
    LARGER neighbors to the minimum of its closed neighborhood. Output
    edges always point large→small (u > v)."""
    und = (e.select("u", "v")
           .unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))))
    mins = (und.groupBy("u").agg(F.min("v").alias("_mv"))
            .select("u", F.least(F.col("_mv"), F.col("u")).alias("m")))
    # no distinct here: duplicate (u, v) rows are harmless to the
    # small-star groupBy-min that always follows, and skipping it saves
    # a full edge shuffle per round (small-star's final distinct is the
    # canonical dedup point)
    return (und.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v")))


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star contraction: every node connects its smaller-or-
    equal neighborhood (itself included) to that neighborhood's minimum.
    Input/output edges point large→small (u > v)."""
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    return (e.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct())


def dup_clusters(pairs: DataFrame, *, id_a: str = "id_a", id_b: str = "id_b",
                 max_iters: int = 25,
                 local_edge_cutoff: int = 5_000_000) -> DataFrame:
    """Connected components over a near-dup pair graph → (doc_id,
    keeper_id): every document labeled with the minimum id reachable
    through dup edges. The step after pair generation in a real dedup
    pipeline — groups {A~B, B~C} must collapse to ONE keeper even though
    A and C were never directly compared.

    Two-tier plan, both tiers exact and both emitting min-label roots:

    * **small graphs** (≤ ``local_edge_cutoff`` canonical edges — the
      overwhelmingly common case: near-dup pair sets are a sliver of
      the corpus) finish in ONE executor task: the checkpointed edge
      set coalesces to a single partition and a union-find with path
      compression resolves every component in-memory. One stage
      instead of ~6 shuffles × O(log d) rounds of scheduler latency —
      the standard "stop iterating once the frontier fits in a task"
      hybrid. NOT a driver collect: the work runs executor-side on
      Arrow batches, bounded by the cutoff (index-compressed numpy
      union-find: ~32 B/edge peak for the edge arrays + ~16 B/node ⇒
      ~250 MB at the 5M default — NOT a Python dict of boxed ints,
      which would cost ~10× that). Taken only for integral id columns (the tier packs
      ids into int64 arrays); any other orderable id type — string doc
      ids, decimals — routes to the star-contraction tier, whose
      greatest/least/min/hash Column ops are type-agnostic.
    * **large graphs** run alternating large-star / small-star
      contraction (the public Connected Components in MapReduce
      formulation, Kiveris et al. 2014): each round rewires every node
      toward its neighborhood minimum, so a component of diameter d
      converges in O(log d) ROUNDS — not the O(d) a plain min-label
      propagation needs. Each half-round is one groupBy-min plus one
      join keyed on node id; edges stay (large, small)-canonical and
      the round output is localCheckpoint'd so lineage stays O(1).
      Round change-detection is a single-stage (count, Σu, Σv, Σhash)
      aggregate; the exact set-difference confirmation runs only at
      the fixed point. Still raises if ``max_iters`` rounds pass
      without convergence (with O(log d) convergence that indicates a
      degenerate graph, not just a long chain).
    """
    # ONE materialization of the (often expensive) pair-generation
    # lineage; edges AND nodes both derive from this checkpoint — the
    # earlier formulation walked the raw pairs plan twice (once for
    # edges, once for nodes), re-running the whole shingle/band/verify
    # pipeline for the final label join.
    p = (pairs.select(F.greatest(id_a, id_b).alias("u"),
                      F.least(id_a, id_b).alias("v"))
         .localCheckpoint(eager=True))
    e = (p.filter(F.col("u") != F.col("v"))
         .distinct().localCheckpoint(eager=True))
    # nodes keep self-pairs (u == v): a doc paired only with itself has
    # no edge but is still its own keeper in the output
    nodes = (p.select(F.col("u").alias("node"))
             .unionByName(p.select(F.col("v").alias("node")))
             .distinct().localCheckpoint(eager=False))

    # the single-task tier materializes ids as int64 numpy arrays; for
    # non-integral id types (string doc ids, decimals) only the
    # star-contraction tier — pure greatest/least/min Column ops, type
    # agnostic — is safe
    from pyspark.sql.types import IntegralType
    ids_integral = isinstance(e.schema["u"].dataType, IntegralType)

    if ids_integral and e.count() <= local_edge_cutoff:
        def _union_find(batches):
            import numpy as np
            import pandas as pd

            us, vs = [], []
            for pdf in batches:
                us.append(pdf["u"].to_numpy().astype(np.int64))
                vs.append(pdf["v"].to_numpy().astype(np.int64))
            empty = pd.DataFrame({"node": np.array([], dtype=np.int64),
                                  "_root": np.array([], dtype=np.int64)})
            if not us:
                yield empty
                return
            u, v = np.concatenate(us), np.concatenate(vs)
            if not len(u):
                yield empty
                return
            # index-compress ids: parent is a flat int64 ARRAY, not a
            # dict of boxed ints (~16 B/node + ~32 B/edge peak vs ~100+
            # B per dict entry — the footprint the cutoff is sized to)
            nodes_arr, inv = np.unique(np.concatenate([u, v]),
                                       return_inverse=True)
            ui, vi = inv[:len(u)], inv[len(u):]
            parent = np.arange(len(nodes_arr), dtype=np.int64)

            def find(x):
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:  # path compression
                    parent[x], x = r, parent[x]
                return r

            for a, b in zip(ui.tolist(), vi.tolist()):
                ra, rb = find(a), find(b)
                if ra != rb:
                    # np.unique sorts ascending, so smaller index ==
                    # smaller id: union by MIN index ⇒ min-id labels
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
            roots = np.fromiter((find(i) for i in range(len(nodes_arr))),
                                dtype=np.int64, count=len(nodes_arr))
            yield pd.DataFrame({"node": nodes_arr,
                                "_root": nodes_arr[roots]})

        labels = e.coalesce(1).mapInPandas(_union_find,
                                           schema="node long, _root long")
        return (nodes.join(labels, "node", "left")
                .select(F.col("node").alias("doc_id"),
                        F.coalesce(F.col("_root"), F.col("node"))
                        .alias("keeper_id")))

    def _stats(edges: DataFrame):
        # one cheap single-stage aggregate over the checkpointed edge
        # set: (count, Σu, Σv, Σhash) — unequal stats prove the round
        # changed something WITHOUT the full symmetric-difference
        # shuffle; equal stats still get the exact diff below
        # decimal(38,0) sums: long sums overflow under ANSI mode once
        # Σhash exceeds 2^63. Hash each side rather than summing raw ids
        # so the stats work for ANY id type (string doc ids included),
        # not just numerics
        return edges.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64("u").cast("decimal(38,0)")),
            F.sum(F.xxhash64("v").cast("decimal(38,0)")),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)"))).collect()[0]

    prev_stats = _stats(e)
    for _ in range(max_iters):
        e_new = _small_star(_large_star(e)).localCheckpoint(eager=True)
        new_stats = _stats(e_new)
        if new_stats == prev_stats:
            # stats agree → confirm with the exact set difference (paid
            # once, at the fixed point — not every round)
            changed = (e_new.unionByName(e)
                       .groupBy("u", "v").agg(F.count(F.lit(1)).alias("_n"))
                       .filter(F.col("_n") == 1).limit(1).count())
        else:
            changed = 1
        e, prev_stats = e_new, new_stats
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"dup_clusters did not converge in max_iters={max_iters} "
            "star-contraction rounds — with O(log diameter) convergence this "
            "indicates a degenerate graph; raise max_iters")
    # fixed point = disjoint stars: (u, root) edges; roots label themselves
    return (nodes.join(e.select(F.col("u").alias("node"),
                                F.col("v").alias("_root")), "node", "left")
            .select(F.col("node").alias("doc_id"),
                    F.coalesce(F.col("_root"), F.col("node")).alias("keeper_id")))


def embedding_dup_pairs(df: DataFrame, *, id_col: str = "vec_id",
                        vec_col: str = "embedding", threshold: float = 0.9,
                        max_broadcast_rows: int = 2_000_000) -> DataFrame:
    """Exact embedding-cosine near-dup pairs: (id_a < id_b, cosine >=
    threshold), cosine rounded to 6dp.

    Plan shape: the L2-normalized corpus matrix is broadcast ONCE
    (``sc.broadcast`` — ids + float64 matrix, ~0.5 GB per million
    64-dim vectors), then every Arrow batch of the same corpus does one
    (batch × dim) @ (dim × N) BLAS matmul and emits only the pairs above
    threshold — O(N²) similarity *computations* with zero pairwise
    shuffle and O(pairs) output. Zero-norm vectors are excluded (cosine
    undefined, reference `cosine` returns NULL).

    Like ``ngram_jaccard_pairs`` this is the exact *verification*
    primitive: it requires the corpus matrix to fit in a broadcast
    (``max_broadcast_rows`` guard). Beyond that, bucket first
    (similarity.lsh_bucketed_topk's hyperplane buckets) and run this
    per-bucket — same operator, bounded N.
    """
    import numpy as np

    spark = df.sparkSession
    src = df.select(F.col(id_col).cast("long").alias("_id"),
                    F.col(vec_col).alias("_v"))
    # ONE bounded materialization: collect the LIMITED frame and guard
    # on the collected length driver-side. An oversized corpus pulls at
    # most max_broadcast_rows + 1 rows before the ValueError fires (the
    # same memory the guard already budgets for the pass case), and
    # probe + data are by construction the same rows — no checkpoint
    # needed to pin them, so nothing persists past this call. (The
    # previous limit().localCheckpoint() formulation planned a single-
    # partition GlobalLimit, which both serialized the materialization
    # AND left the checkpoint blocks resident for the app lifetime;
    # collect on a limited frame instead runs Spark's incremental
    # take-style job.)
    rows = src.limit(max_broadcast_rows + 1).collect()
    if len(rows) > max_broadcast_rows:
        raise ValueError(
            f"more than max_broadcast_rows={max_broadcast_rows} vectors; "
            "bucket with LSH first and verify per bucket")
    ids = np.array([r._id for r in rows], dtype=np.int64)
    mat = np.array([r._v for r in rows], dtype=np.float64)
    del rows
    norms = np.linalg.norm(mat, axis=1)
    keep = norms > 0
    ids, mat, norms = ids[keep], mat[keep], norms[keep]
    # raw matrix + norms (dot-then-divide, float64): the same evaluation
    # shape as the Column `cosine` and the SQL oracle, so 6dp rounds agree
    bc = spark.sparkContext.broadcast((ids, mat, norms))  # N × dim
    n_kept = int(ids.shape[0])
    # the batch side reads row-index slices of the SAME broadcast — the
    # corpus ships to each executor exactly once, and the scan is a
    # spark.range over indices spread across defaultParallelism tasks,
    # so the O(N²/P) BLAS matmuls genuinely run multi-core (the old
    # re-scan of the checkpointed frame inherited GlobalLimit's single
    # partition and ran as ONE task).
    n_parts = max(1, spark.sparkContext.defaultParallelism)

    def pairs(batches):
        import pandas as pd
        all_ids, full_mat, all_norms = bc.value
        mat_t = full_mat.T  # view, no copy
        for pdf in batches:
            if not len(pdf):
                continue
            idx = pdf["id"].to_numpy(dtype=np.int64)
            bids = all_ids[idx]
            x = full_mat[idx]
            xn = all_norms[idx]
            sims = (x @ mat_t) / xn[:, None] / all_norms[None, :]  # batch × N
            bi, cj = np.nonzero((np.round(sims, 6) >= threshold)
                                & (bids[:, None] < all_ids[None, :]))
            yield pd.DataFrame({
                "id_a": bids[bi], "id_b": all_ids[cj],
                "cosine_sim": np.round(sims[bi, cj], 6),
            })

    return (spark.range(0, n_kept, 1, numPartitions=n_parts)
            .mapInPandas(pairs,
                         schema="id_a long, id_b long, cosine_sim double"))


def simhash(df: DataFrame, id_col: str, text_col: str,
            hash_fn: str = "xxhash64") -> DataFrame:
    """63-bit SimHash per document (bit 63 skipped — it's the sign bit).

    Per token: xxhash64 → each of its bits votes ±1 into a counter; the
    sketch's bit i is 1 iff counter i > 0. Near-dups:
    ``bit_count(xor(a, b))`` small.

    ``hash_fn="md5"`` swaps the token hash for the low 60 bits of
    md5 (``conv(substring(md5(t),1,15),16,10)``) — slower, but byte-
    reproducible on any engine, so the registry's ``simhash_det`` query
    can verify sketches/blocking/Hamming against a DuckDB oracle (bits
    60–62 are then always 0: votes degenerate to −n_tokens, bit = 0 on
    both engines).

    Plan: token hashes are computed JVM-side (``transform`` + xxhash64 —
    identical values to the scalar form), kept as one ``array<long>`` per
    doc (NO explode — the row count never multiplies by token count),
    and the 63-way vote tally runs as a vectorized Arrow batch (a
    tokens×63 bit matrix per doc). The explode + 63-conditional-sums
    formulation shuffled |tokens| rows and evaluated 63 expressions per
    token row — measured 4× slower at sf0.1 with identical output.
    """
    if hash_fn == "xxhash64":
        def tok_hash(t):
            return F.xxhash64(t)
    elif hash_fn == "md5":
        def tok_hash(t):
            return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    else:
        raise ValueError(f"hash_fn must be xxhash64|md5, not {hash_fn!r}")
    # spread BEFORE hashing: the token-hash transform and the Arrow vote
    # tally are the CPU cost; a one-split scan would run both on 1 core
    arrs = _spread_small_scan(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt"))
    ).select(
        "_id",
        F.transform(tokens("_txt"), tok_hash).alias("_hs"),
    ).filter(F.size("_hs") > 0)  # docs with no tokens have no sketch

    shifts = np.arange(63, dtype=np.uint64)

    @pandas_udf("long")
    def _sketch(hs: pd.Series) -> pd.Series:
        out = np.zeros(len(hs), dtype=np.int64)
        chunk = 1024  # bound the bit-matrix: ~chunk·tokens×63 int8 per step
        for s in range(0, len(hs), chunk):
            sub = hs.iloc[s:s + chunk]
            lens = np.fromiter((len(h) for h in sub), dtype=np.int64, count=len(sub))
            flat = np.concatenate([np.asarray(h, dtype=np.int64) for h in sub]).view(np.uint64)
            bits = ((flat[:, None] >> shifts) & np.uint64(1)).astype(np.int8)
            starts = np.zeros(len(sub), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            ones = np.add.reduceat(bits, starts, axis=0, dtype=np.int64)  # docs × 63
            votes = 2 * ones - lens[:, None]                              # ±1 tally
            out[s:s + chunk] = ((votes > 0).astype(np.uint64) << shifts).sum(axis=1).astype(np.int64)
        return pd.Series(out)

    return arrs.select("_id", _sketch("_hs").alias("simhash"))


def simhash_near_pairs(df: DataFrame, id_col: str, text_col: str,
                       max_hamming: int = 8, prefix_bits: int = 16,
                       hash_fn: str = "xxhash64") -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    Blocking: pairs are only compared when they share one of 4 16-bit
    sketch segments (pigeonhole: ≤3 differing segments ⇒ found, so for
    max_hamming ≤ 3 recall is exact; higher thresholds are heuristic).
    """
    # the sketch is tiny (two longs per doc) but expensive to compute;
    # without a lineage cut the self-join below computes it TWICE (AQE
    # broadcasts one side — no exchange to reuse). localCheckpoint
    # materializes it once (measured ~2× on the whole operator at sf0.1).
    sk = simhash(df, id_col, text_col, hash_fn).localCheckpoint(eager=False)
    segments = F.array(*[
        F.struct(F.lit(s).alias("seg"),
                 F.shiftrightunsigned(F.col("simhash"), s * prefix_bits)
                 .bitwiseAND(F.lit((1 << prefix_bits) - 1)).alias("key"))
        for s in range(64 // prefix_bits)
    ])
    blocked = sk.select("_id", "simhash", F.explode(segments).alias("s")) \
                .select("_id", "simhash", "s.seg", "s.key")
    a, b = blocked.alias("a"), blocked.alias("b")
    pairs = (
        a.join(b, (F.col("a.seg") == F.col("b.seg")) & (F.col("a.key") == F.col("b.key"))
               & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"),
                F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"))
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def set_similarity_join_prefix(docs: DataFrame, *, id_col: str = "doc_id",
                               tokens_col: str = "tokens",
                               threshold: float = 0.6) -> DataFrame:
    """EXACT set-similarity self-join (Jaccard ≥ threshold) with
    PREFIX FILTERING (PPJoin family — Xiao et al. 2008, public): the
    deterministic alternative to MinHash when recall must be 1.0.

    The pruning theorem: order every doc's tokens by one GLOBAL order
    (document frequency ascending, token ascending — rarest first) and
    index only each doc's first ``|s| − ⌈τ·|s|⌉ + 1`` tokens; any pair
    with J ≥ τ must share an indexed prefix token. Candidates therefore
    come from an equi-join on PREFIX tokens only — the hot/stopword
    tokens that make a naive token join quadratic sit at the END of the
    global order and almost never enter a prefix. Exact Jaccard then
    verifies candidates from the full sorted token arrays.

    Scale shape: one shuffle to rank the vocabulary (vocabulary-sized,
    not corpus-sized), one scan-local sort/slice per doc, one equi-join
    on prefix tokens (bounded per rare token), pair-dedup, then the
    verify — never an all-pairs comparison. Returns
    (id_a < id_b, jaccard) rounded 4dp."""
    tok = (docs.select(F.col(id_col).alias("_id"),
                       F.explode(F.array_distinct(F.col(tokens_col)))
                       .alias("_tok")))
    freq = tok.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    ranked = (tok.join(freq, "_tok")
              .groupBy("_id")
              .agg(F.expr(
                  "transform(sort_array(collect_list(struct(_df, _tok))),"
                  " x -> x._tok)").alias("_sorted")))
    pre = ranked.select(
        "_id", "_sorted", F.size("_sorted").alias("_n"),
        F.expr(f"slice(_sorted, 1, size(_sorted)"
               f" - cast(ceil({threshold} * size(_sorted)) as int) + 1)")
        .alias("_prefix"))
    a = pre.select(F.col("_id").alias("id_a"),
                   F.col("_sorted").alias("_sa"),
                   F.col("_n").alias("_na"),
                   F.explode("_prefix").alias("_ptok"))
    b = pre.select(F.col("_id").alias("id_b"),
                   F.col("_sorted").alias("_sb"),
                   F.col("_n").alias("_nb"),
                   F.explode("_prefix").alias("_ptok"))
    cand = (a.join(b, "_ptok")
            .filter(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    inter = F.size(F.array_intersect("_sa", "_sb"))
    jac = inter / (F.col("_na") + F.col("_nb") - inter)
    # threshold on the UNROUNDED score (rounding is presentation only —
    # filtering on the rounded value would admit pairs rounded up to τ)
    return (cand.filter(jac >= threshold)
            .select("id_a", "id_b", F.round(jac, 4).alias("jaccard")))


def url_dedup(df: DataFrame, *, url_col: str, id_col: str,
              quality_col: str | None = None,
              per_host_cap: int | None = None,
              tracking_key_re: str | None = None) -> DataFrame:
    """C4/RefinedWeb-style URL-level dedup — the cheapest dedup stage of
    a web-corpus pipeline, run BEFORE any content hashing: collapse
    recrawls/tracking-variant URLs of the same logical page, then
    optionally cap documents per host (RefinedWeb caps hosts so a
    single boilerplate-heavy site cannot dominate the training mix).

    Stages:
      1. canonicalize (``functions.url.canonicalize_url`` — scan-local
         Column expressions, zero shuffle);
      2. one keeper per canonical URL: argmax on ``quality_col`` when
         given (ties and quality-less mode fall to min ``id_col`` — the
         deterministic tie-break every replayable pipeline needs);
      3. when ``per_host_cap`` is set, rank keepers within each host
         (quality desc, id asc) and keep the top N.

    NULL URLs are dropped (no canonical identity to dedup on).

    ``tracking_key_re`` overrides which query-param keys are stripped
    as tracking noise (default: ``functions.url.TRACKING_KEY_RE``, the
    conservative set WITHOUT bare ``ref`` — stripping ``ref`` collapses
    content-bearing ``?ref=<branch>`` pages on GitLab/Bitbucket-style
    hosts and this operator would then DELETE the collapsed pages; opt
    into ``TRACKING_KEY_RE_AGGRESSIVE`` only for crawls where ``ref``
    is known to be referral tracking).

    Output: one row per kept document — (id, host, canon_url,
    n_variants) where n_variants counts the URL's collapsed crawl
    variants.

    100 TB shape: exactly two shuffles — a groupBy keyed on the
    canonical URL (near-unique key ⇒ well spread; map-side combine
    shrinks recrawl groups early) and, only when capping, the host-cap
    window. Host keys are Zipf-skewed at web scale, but the
    ``row_number() ≤ cap`` filter pattern lets Catalyst insert
    **WindowGroupLimit** on BOTH sides of the exchange (map-side
    partial top-cap per task + reduce-side final — verified in the
    formatted plan and locked by tests/test_dedup.py), so a hot
    host's reduce input is ≤ cap·#map-tasks rows, never its full page
    list. An explicit salted two-phase top-N was measured r8 and
    REMOVED: it duplicated exactly this optimization one exchange
    slower (PLANS.md "url_dedup host cap"). The window never carries
    text (id + host + score only). Contrast exact_substring_dedup's
    ownership filter (``_rn > 1`` keeps the COMPLEMENT of a top-k, so
    WindowGroupLimit cannot prune it — that operator's agg_join route
    remains necessary). Extends the reference's single-site F13 path
    normalization (app/templates/search.html:90-131) to the open web.
    """
    from pyspark.sql import Window

    from comix_etl_spark.functions.url import (
        TRACKING_KEY_RE, canonicalize_url, url_host)

    tkre = TRACKING_KEY_RE if tracking_key_re is None else tracking_key_re
    q = (F.col(quality_col).cast("double") if quality_col
         else F.lit(0.0))
    base = (df.filter(F.col(url_col).isNotNull())
            .select(F.col(id_col).alias("_id"),
                    canonicalize_url(url_col, tracking_key_re=tkre)
                    .alias("canon_url"),
                    url_host(url_col).alias("host"),
                    q.alias("_q")))
    # keeper per canonical URL: max (quality, -id) — a single struct
    # max_by avoids a window over the near-unique URL key
    keepers = (base.groupBy("canon_url")
               .agg(F.max(F.struct(F.col("_q"),
                                   (-F.col("_id")).alias("_negid"),
                                   F.col("_id"), F.col("host"))).alias("_w"),
                    F.count(F.lit(1)).alias("n_variants"))
               .select(F.col("_w._id").alias("id"),
                       F.col("_w.host").alias("host"),
                       "canon_url", "n_variants", F.col("_w._q").alias("_q")))
    if per_host_cap is not None:
        w = Window.partitionBy("host").orderBy(F.desc("_q"), F.asc("id"))
        keepers = (keepers.withColumn("_rn", F.row_number().over(w))
                   .filter(F.col("_rn") <= per_host_cap).drop("_rn"))
    return keepers.drop("_q")


def _limb_band_val(fp_cols: list[str], lo: int, hi: int,
                   col_of=F.col) -> Column:
    """Band value for concatenated bit range [lo, hi) over 63-bit
    limbs: OR together the piece each limb contributes, shifted into
    band-local position. Pure shiftrightunsigned/AND/shiftleft —
    whole-stage codegen, no Python."""
    pieces = []
    for k, c in enumerate(fp_cols):
        a, b = max(lo, 63 * k), min(hi, 63 * (k + 1))
        if b <= a:
            continue
        piece = (F.shiftrightunsigned(col_of(c), a - 63 * k)
                 .bitwiseAND((1 << (b - a)) - 1))
        pieces.append(F.shiftleft(piece, a - lo) if a > lo else piece)
    v = pieces[0]
    for p in pieces[1:]:
        v = v.bitwiseOR(p)
    return v


def _band_edges(total_bits: int, n_bands: int) -> list[tuple[int, int]]:
    width = total_bits // n_bands
    return [(bi * width,
             total_bits if bi == n_bands - 1 else (bi + 1) * width)
            for bi in range(n_bands)]


def hamming_band_pairs(fp: DataFrame, *, id_col: str = "media_id",
                       fp_cols: list[str], max_hamming: int = 2,
                       n_bands: int | None = None) -> DataFrame:
    """Near-duplicate pairs by banded Hamming LSH over a fingerprint of
    one OR MORE 63-bit BIGINT limbs (``multimodal.media.image_dhash``:
    one limb, or ``(dhash_h, dhash_v)`` at ``n_limbs=2``), banded over
    the CONCATENATED bit space — the LAION-style image-dedup pairing
    stage. Output: (id_a < id_b, hamming) — verified pairs only.

    The bits split into ``n_bands`` contiguous bands (floor(bits/n)
    each, the final band taking the remainder); two items become a
    CANDIDATE iff at least one band is bit-identical, and a candidate
    is emitted iff ``sum_k bit_count(xor(limb_k)) <= max_hamming``.
    Pigeonhole recall guarantee: d flipped bits touch at most d bands,
    so every pair within Hamming ``n_bands - 1`` shares an intact band
    — banding loses NOTHING vs all-pairs for the verified threshold,
    it only prunes the candidate set. ``max_hamming >= n_bands``
    raises.

    BAND-COUNT SIZING (measured r9, PLANS.md): the default is the
    MINIMUM ``max_hamming + 1`` bands, which is also the scale-optimal
    choice. Extra bands only add recall BEYOND the verified threshold
    (wasted — verification drops those pairs anyway) while shrinking
    each band's value space exponentially: at 7 bands a 63-bit band is
    9 bits = 512 values, so a 1M-image corpus stuffs ~2000 fingerprints
    into EVERY bucket and the candidate join goes quadratic (~7e9
    pairs — measured as a killed >18 min run); at the default 3 bands
    a band is 21 bits = 2M values and buckets hold only true near-dup
    clusters plus ~corpus/2^21 stragglers. General rule: need
    ``2^(bits/n_bands) >> corpus_size / n_bands``.

    WHY WIDE LIMBS SCALE (the r9 ceiling and its remedy, PLANS.md):
    the accidental-candidate term is ~``n_bands * n² / 2^band_width``;
    each added limb adds 63 bits, so band_width grows ~63/n_bands per
    limb and divides accidental candidates by ~2^(63/n). A band never
    exceeds 63 bits (its value must fit a non-negative BIGINT join
    key), which bounds ``n_limbs ≤ n_bands`` in practice; the minimal
    banding satisfies it for any ``max_hamming ≥ n_limbs - 1``.

    100 TB shape: ``n_bands`` slim (id, limbs, band, bv) rows per item
    (``fingerprint_band_rows``), one shuffle keyed by (band, bv) —
    near-dup clusters collide, everything else spreads — and a JVM
    xor+popcount verify on the joined rows, never a payload touch. A
    viral band value (e.g. flat-white thumbnails sharing low-gradient
    bands) degrades to that bucket's pair count; quarantine degenerate
    fingerprints upstream, as NULL (undecodable) ones are dropped here.
    """
    if n_bands is None:
        n_bands = max_hamming + 1
    rows = fingerprint_band_rows(fp, id_col=id_col, fp_cols=fp_cols,
                                 n_bands=n_bands)
    return _band_self_pairs(rows, id_col=id_col, fp_cols=fp_cols,
                            n_bands=n_bands, max_hamming=max_hamming)


def _band_side(rows: DataFrame, id_col: str, fp_cols: list[str],
               out_id: str, pref: str) -> DataFrame:
    """One join side over band rows: the id and limbs renamed apart so
    both sides can share the (band, bv) key."""
    return rows.select(F.col(id_col).alias(out_id),
                       *[F.col(c).alias(f"{pref}{k}")
                         for k, c in enumerate(fp_cols)], "band", "bv")


def _verified(cand: DataFrame, ids: tuple[str, str], prefs: tuple[str, str],
              n_limbs: int, n_bands: int, max_hamming: int) -> DataFrame:
    """The Hamming verify both band joins share: summed per-limb
    xor-popcount <= ``max_hamming``, under the pigeonhole precondition
    that makes the banded candidates complete."""
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} >= n_bands={n_bands} voids the "
            "pigeonhole recall guarantee; raise n_bands (for a store: "
            "rebuild it with more bands) or lower max_hamming")
    a, b = prefs
    ham = F.bit_count(F.col(f"{a}0").bitwiseXOR(F.col(f"{b}0")))
    for k in range(1, n_limbs):
        ham = ham + F.bit_count(F.col(f"{a}{k}").bitwiseXOR(F.col(f"{b}{k}")))
    return (cand.withColumn("hamming", ham.cast("long"))
            .filter(F.col("hamming") <= max_hamming)
            .select(*ids, "hamming"))


def _band_self_pairs(rows: DataFrame, *, id_col: str, fp_cols: list[str],
                     n_bands: int, max_hamming: int) -> DataFrame:
    """Verified (id_a < id_b, hamming) pairs from ONE frame of band
    rows joined to itself on (band, bv). Over a bucketed store both
    sides read the same bucketed, bucket-sorted layout, so the join
    runs with zero Exchange."""
    a = _band_side(rows, id_col, fp_cols, "id_a", "_fa")
    b = _band_side(rows, id_col, fp_cols, "id_b", "_fb")
    cand = (a.join(b, ["band", "bv"])
            .filter(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    return _verified(cand, ("id_a", "id_b"), ("_fa", "_fb"), len(fp_cols),
                     n_bands, max_hamming)


def _band_cross_probe(corpus_rows: DataFrame, probe_rows: DataFrame, *,
                      id_col: str, fp_cols: list[str], n_bands: int,
                      max_hamming: int) -> DataFrame:
    """Verified (corpus_id, probe_id, hamming) matches between two
    frames of band rows: the probe side broadcasts, so the corpus side
    is one scan with zero shuffle and never self-joins."""
    c = _band_side(corpus_rows, id_col, fp_cols, "corpus_id", "_fc")
    p = _band_side(probe_rows, id_col, fp_cols, "probe_id", "_fp")
    cand = (c.join(F.broadcast(p), ["band", "bv"])
            .dropDuplicates(["corpus_id", "probe_id"]))
    return _verified(cand, ("corpus_id", "probe_id"), ("_fc", "_fp"),
                     len(fp_cols), n_bands, max_hamming)


def image_dedup(df: DataFrame, *, id_col: str = "media_id",
                payload_col: str = "payload", max_hamming: int = 2,
                n_bands: int | None = None) -> DataFrame:
    """End-to-end perceptual image dedup: fingerprint (dHash) →
    banded-Hamming pairing → greedy min-id keeper election. An image
    is REMOVED iff it has a verified near-dup with a smaller id — the
    same lexicographic first-occurrence ownership rule as
    ``textstats.exact_substring_dedup`` (deterministic, replayable; a
    removed image's keeper chain always ends at a kept image ≤ its
    id, though ownership is pairwise, not transitive-closure — the
    connected-components escalation is ``near_dup_clusters`` over
    these pairs when cluster-level curation is needed).

    Output: one row per KEPT image — (media_id, dhash, n_near) where
    ``n_near`` counts its verified near-dup pairs (degree in the pair
    graph; 0 for unique images). Undecodable payloads are dropped at
    the fingerprint stage (NULL dhash).

    100 TB shape: image bytes are touched once, scan-local, by the
    Arrow dHash stage; everything after moves only (id, int64) rows —
    the band shuffle and one left_anti + one aggregated-degree join,
    all broadcast-able once pairs ≪ corpus. Reference seed: the
    cover-image pipeline (cv_fetch_covers.py:116-126, S9), which
    refetches every cover; this is the stage that would skip
    perceptual re-downloads.
    """
    from comix_etl_spark.multimodal.media import image_dhash

    fps = image_dhash(df, id_col=id_col, payload_col=payload_col)
    return hamming_fp_dedup(fps, fp_cols=["dhash"], max_hamming=max_hamming,
                            n_bands=n_bands)


def hamming_fp_dedup(fps: DataFrame, *, fp_cols: list[str],
                     max_hamming: int = 2,
                     n_bands: int | None = None) -> DataFrame:
    """Generic Hamming-fingerprint dedup core shared by every
    perceptual modality (image dHash, audio energy contour, the wide
    126-bit two-limb image fingerprint, any future sketch):
    banded-Hamming pairing + greedy min-id keeper election over a
    ``(media_id, <limbs...>)`` frame. ``fp_cols`` lists the 63-bit limb
    columns — one for a 63-bit fingerprint — banded over the
    concatenated bit space (``hamming_band_pairs``). NULL fingerprints
    (undecodable payloads) are dropped — an item is dropped when ANY
    limb is NULL (limbs come from one decode, so partial NULLs only
    arise from caller bugs; half-fingerprints must not elect keepers).
    Output: one row per KEPT item — (media_id, <limb cols...>, n_near).

    Plan contract (audited r9, PLANS.md): the fingerprint frame is
    eagerly checkpointed ONCE — the plan consumes it four times (both
    band-join sides, the keeper anti-join, the degree join) and would
    otherwise re-run the upstream decode per consumer (the 1M-image
    run OOMed exactly this way); the frame is (id, int64) ≈ 16 B/row,
    far smaller than one re-decode. The verified pairs are likewise
    pinned — read three times (keeper anti-join + both degree-union
    sides), bounded by the corpus's true near-dup volume.
    """
    fps = fps.filter(_all_limbs_present(fp_cols)).localCheckpoint(eager=True)
    pairs = hamming_band_pairs(fps, fp_cols=fp_cols,
                               max_hamming=max_hamming,
                               n_bands=n_bands).localCheckpoint(eager=True)
    # degree per item (both pair sides), removed = appears as id_b
    deg = (pairs.select(F.col("id_a").alias("media_id"))
           .unionAll(pairs.select(F.col("id_b").alias("media_id")))
           .groupBy("media_id")
           .agg(F.count(F.lit(1)).cast("long").alias("n_near")))
    kept = fps.join(pairs.select(F.col("id_b").alias("media_id")).distinct(),
                    "media_id", "left_anti")
    return (kept.join(deg, "media_id", "left")
            .select("media_id", *fp_cols,
                    F.coalesce(F.col("n_near"), F.lit(0).cast("long"))
                    .alias("n_near")))


def fingerprint_band_rows(fps: DataFrame, *, id_col: str = "media_id",
                          fp_cols: list[str], n_bands: int) -> DataFrame:
    """The banded form of a fingerprint frame: one (id, limbs..., band,
    bv) row per (item, band), with USER-FACING column names so they can
    be written to a table (``persist_fingerprint_store``) and reused
    across jobs. The ONE place a band layout is built: every pairing
    and probe, in memory or against a store, joins these rows. Rows
    with ANY NULL limb drop (undecodable payloads; limbs come from one
    decode, so partial NULLs only arise from caller bugs)."""
    total = 63 * len(fp_cols)
    if not 1 <= n_bands <= total:
        raise ValueError(f"n_bands must be in [1, {total}], got {n_bands}")
    edges = _band_edges(total, n_bands)
    if max(hi - lo for lo, hi in edges) > 63:
        raise ValueError(
            f"{n_bands} bands over {total} bits makes a band wider than "
            "63 bits (band values must fit a BIGINT); raise n_bands")
    return (fps.filter(_all_limbs_present(fp_cols)).select(id_col, *fp_cols)
            .select(
                id_col, *fp_cols,
                F.explode(F.array(*[
                    F.struct(F.lit(bi).alias("band"),
                             _limb_band_val(fp_cols, lo, hi).alias("bv"))
                    for bi, (lo, hi) in enumerate(edges)])).alias("bb"))
            .select(id_col, *fp_cols, "bb.band", "bb.bv"))


def _all_limbs_present(fp_cols: list[str]) -> Column:
    notnull = F.col(fp_cols[0]).isNotNull()
    for c in fp_cols[1:]:
        notnull = notnull & F.col(c).isNotNull()
    return notnull


def persist_fingerprint_store(fps: DataFrame, table: str, *,
                              id_col: str = "media_id",
                              fp_cols: list[str], max_hamming: int = 2,
                              n_bands: int | None = None,
                              n_buckets: int = 64,
                              mode: str = "overwrite") -> None:
    """Persist a corpus's banded fingerprint rows as a table BUCKETED
    by (band, bv) — the production serving pattern the probe/pairing
    docstrings name: fingerprint the corpus ONCE, pay the band shuffle
    ONCE at write, then every later self-pairing
    (``near_dup_pairs_from_store``) sort-merge-joins the bucketed
    layout with ZERO Exchange (plan-asserted in
    tests/test_dedup.py::test_fingerprint_store_no_exchange_pairing)
    and every new benchmark probes it without touching payloads again.

    At 100 TB this converts perceptual dedup from a per-run
    decode+shuffle job into a one-time build + cheap incremental
    reads; incremental ingest appends its batch's band rows with the
    same bucketing (``mode="append"`` — pytest-locked to pair
    identically to a one-shot rebuild over old∪new, still with zero
    Exchange in the pairing join). The table is stamped with its band
    layout (``comix.fp.n_bands`` / ``n_limbs``): an append validates
    the caller's layout against the stamp first — rows banded
    differently would silently break the pigeonhole recall guarantee
    for every later read — and the readers take ``n_bands`` from it,
    so read-side ``max_hamming`` must stay < the ``n_bands`` used
    here. A table without the stamp is refused."""
    from comix_etl_spark.sinks.writers import (clear_orphan_table_dir,
                                               save_bucketed_table,
                                               set_store_props,
                                               validate_store_props)

    if n_bands is None:
        n_bands = max_hamming + 1
    spark = fps.sparkSession
    # overwrite clears a stale prior-session directory; append onto a
    # catalog-less directory refuses (writers.clear_orphan_table_dir)
    clear_orphan_table_dir(spark, table, mode)
    layout = {"n_bands": n_bands, "n_limbs": len(fp_cols)}
    appending = mode == "append" and spark.catalog.tableExists(table)
    if appending:
        # n_limbs matters too: a different limb count silently changes
        # every band value
        validate_store_props(spark, table, "comix.fp", layout,
                             "persist_fingerprint_store(append)")
    rows = fingerprint_band_rows(fps, id_col=id_col, fp_cols=fp_cols,
                                 n_bands=n_bands)
    if appending:
        # crash-window protocol (r14, symmetric with persist_bm25_store):
        # pending before the band-row write, committed only with the
        # final layout re-stamp — a crash between leaves an observable
        # pending store that probes/appends refuse
        set_store_props(spark, table, "comix.fp", {"state": "pending"})
    save_bucketed_table(rows, table, ["band", "bv"], n_buckets,
                        sort_cols=["band", "bv"], mode=mode)
    set_store_props(spark, table, "comix.fp",
                    {**layout, "state": "committed"})


def persist_minhash_store(corpus: DataFrame, table: str, *, id_col: str,
                          text_col: str, num_hashes: int = 32,
                          bands: int = 8, n: int = 3,
                          hash_fn: str = "xxhash64", n_buckets: int = 64,
                          mode: str = "overwrite") -> None:
    """Persist a corpus's MinHash band rows (``minhash_band_rows``) as
    a table BUCKETED by (band, bucket) — the TEXT-side sibling of
    ``persist_fingerprint_store`` and exactly the production shape the
    ``dedup_against_corpus`` docstring names: shingle + sign the corpus
    ONCE, pay the band shuffle ONCE at write, and every later
    daily-batch probe (``dedup_against_store``) joins the landed layout
    without re-signing or reshuffling the corpus.

    Incremental ingest appends a new batch's band rows with the same
    bucketing (``mode="append"`` — pytest-locked to probe identically
    to a one-shot build over old∪new). The store bakes in
    (num_hashes, bands, n, hash_fn) — rows signed differently would
    silently change the collision probability 1−(1−s^r)^b every later
    probe relies on, and a bands-only check cannot catch a mismatched
    num_hashes / n / hash_fn — so the FULL layout is stamped as table
    properties (``comix.minhash.*``) at build time and all four
    parameters are validated on every append and probe. A table
    without the stamp is refused."""
    from comix_etl_spark.sinks.writers import (clear_orphan_table_dir,
                                               save_bucketed_table,
                                               set_store_props,
                                               validate_store_props)

    spark = corpus.sparkSession
    clear_orphan_table_dir(spark, table, mode)
    layout = {"num_hashes": num_hashes, "bands": bands, "n": n,
              "hash_fn": hash_fn}
    appending = mode == "append" and spark.catalog.tableExists(table)
    if appending:
        # validate the FULL signature layout the store baked in, not
        # just the band count: a mismatched num_hashes / n / hash_fn
        # passes a bands-only check yet makes buckets never collide
        validate_store_props(spark, table, "comix.minhash", layout,
                             "persist_minhash_store(append)")
    rows = minhash_band_rows(corpus, id_col, text_col,
                             num_hashes=num_hashes, bands=bands, n=n,
                             hash_fn=hash_fn)
    if appending:
        # crash-window protocol (r14, symmetric with persist_bm25_store):
        # pending before the band-row write, committed only with the
        # final layout re-stamp — a crash between leaves an observable
        # pending store that probes/appends refuse
        set_store_props(spark, table, "comix.minhash",
                        {"state": "pending"})
    save_bucketed_table(rows, table, ["band", "bucket"], n_buckets,
                        sort_cols=["band", "bucket"], mode=mode)
    set_store_props(spark, table, "comix.minhash",
                    {**layout, "state": "committed"})


def fingerprint_store_stats(spark, table: str, *,
                            top_n: int = 20) -> DataFrame:
    """Hot-bucket report for a persisted fingerprint band store
    (``persist_fingerprint_store``) — the perceptual-media sibling of
    ``minhash_store_stats``: the ``top_n`` heaviest (band, bv)
    collision groups by member count with the n·(n−1)/2 candidate
    pairs each implies. The failure mode it catches: low-entropy media
    (solid-color frames, letterbox bars, silence) collapse whole
    corpora onto a handful of band values, and the next zero-Exchange
    pairing join — whose plan still looks perfectly bucketed —
    materializes quadratic candidates from those buckets. Cost: one
    aggregate over the landed band rows on the store's own bucketing
    key; zero payload decode, zero re-fingerprinting."""
    from comix_etl_spark.sinks.writers import require_store_committed

    require_store_committed(spark, table, "comix.fp",
                            "fingerprint_store_stats")
    rows = spark.table(table)
    per_bucket = rows.groupBy("band", "bv").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"))
    top = per_bucket.orderBy(F.col("n_members").desc(), "band",
                             "bv").limit(top_n)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("n_members").desc(), "band", "bv")
    return (top.withColumn("rank", F.row_number().over(w).cast("long"))
            .select("rank", "band", "bv", "n_members",
                    F.expr("n_members * (n_members - 1) div 2")
                    .cast("long").alias("n_pairs")))


def minhash_store_stats(spark, table: str, *, top_n: int = 20) -> DataFrame:
    """Hot-bucket report for a persisted MinHash band store
    (``persist_minhash_store``): the ``top_n`` heaviest (band, bucket)
    collision groups by member count, each with the
    ``n·(n−1)/2`` candidate pairs it implies — the quadratic term
    every LSH self-pairing and probe pays per bucket.

    Why it matters at 100 TB: banded LSH's cost model assumes buckets
    stay small (collision probability 1−(1−s^r)^b applied to a
    *diverse* corpus). Boilerplate-heavy corpora break that silently —
    a template shared by a million documents puts all of them in ONE
    bucket per band, and the next pairing job materializes ~10¹²
    candidate pairs from that bucket alone while every plan still
    looks like a well-bucketed sort-merge join. This report is the
    periodic check that finds those buckets first (feed the head into
    a boilerplate filter or a bucket-size cap). Cost: one aggregate
    over the landed band rows keyed on the store's own bucketing
    columns (map-side partials collapse; zero re-signing, zero text)."""
    from comix_etl_spark.sinks.writers import require_store_committed

    require_store_committed(spark, table, "comix.minhash",
                            "minhash_store_stats")
    rows = spark.table(table)
    per_bucket = rows.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"))
    # TakeOrdered bounds the head BEFORE the rank window — the window
    # sees top_n rows, never the bucket population
    top = per_bucket.orderBy(F.col("n_members").desc(), "band",
                             "bucket").limit(top_n)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("n_members").desc(), "band", "bucket")
    return (top.withColumn("rank", F.row_number().over(w).cast("long"))
            .select("rank", "band", "bucket", "n_members",
                    F.expr("n_members * (n_members - 1) div 2")
                    .cast("long").alias("n_pairs")))


def dedup_against_store(batch: DataFrame, corpus: DataFrame, table: str, *,
                        id_col: str, text_col: str, num_hashes: int = 32,
                        bands: int = 8, n: int = 3, threshold: float = 0.5,
                        hash_fn: str = "xxhash64") -> DataFrame:
    """INCREMENTAL near-dup screen against a PERSISTED MinHash store
    (``persist_minhash_store``) — output-identical to
    ``dedup_against_corpus`` on the same corpus (pytest-locked), but
    the corpus is never re-shingled, re-signed or re-banded: only the
    BATCH computes signatures, and its band rows BROADCAST onto the
    landed (band, bucket) layout (batch ≪ corpus by the incremental
    contract), so the 100 TB side contributes one bucketed scan and
    zero shuffle to candidate generation. ``corpus`` supplies document
    text ONLY for the exact-Jaccard verification of the bounded
    candidate set (the candidate ids broadcast back, so that join is
    scan-local too). Validates the FULL signature layout
    (num_hashes, bands, n, hash_fn) against the store's stamped table
    properties instead of trusting the caller."""
    from comix_etl_spark.sinks.writers import validate_store_props

    spark = batch.sparkSession
    # full-layout validation against the store's stamped properties —
    # bands alone can match while num_hashes / n / hash_fn diverge, in
    # which case buckets never collide and the probe would silently
    # return empty matches
    validate_store_props(
        spark, table, "comix.minhash",
        {"num_hashes": num_hashes, "bands": bands, "n": n,
         "hash_fn": hash_fn}, "dedup_against_store")
    ob = spark.table(table)
    nb = minhash_band_rows(batch, id_col, text_col, num_hashes=num_hashes,
                           bands=bands, n=n, hash_fn=hash_fn)
    return _probe_landed_bands(nb, ob, batch, corpus, id_col, text_col,
                               n=n, threshold=threshold)


def _probe_landed_bands(nb: DataFrame, ob: DataFrame, batch: DataFrame,
                        corpus: DataFrame, id_col: str, text_col: str, *,
                        n: int, threshold: float) -> DataFrame:
    """Shared probe core of ``dedup_against_store`` and the streaming
    ingest loop (``streaming.windowed.foreach_batch_dedup_ingest``):
    broadcast the batch's band rows (``nb``) onto LANDED band rows
    (``ob`` — a bucketed store table or a batch_id-partitioned
    directory), then verify the bounded candidate set against corpus
    text."""
    candidates = (F.broadcast(nb).alias("a")
                  .join(ob.alias("b"),
                        (F.col("a.band") == F.col("b.band"))
                        & (F.col("a.bucket") == F.col("b.bucket")))
                  .select(F.col("a._id").alias("id_new"),
                          F.col("b._id").alias("id_old"))
                  .distinct()
                  # candidates are bounded (batch-sized × collision
                  # factor) BY THE LSH CONTRACT — pin them so the probe
                  # join runs exactly once, then push the candidate ids
                  # INTO the corpus scan below
                  .localCheckpoint(eager=True))
    # the whole point of the store is that the corpus is never
    # re-processed — so the verify stage must not re-shingle it either.
    # A bare candidates⋈corpus join would compute shingles for EVERY
    # corpus row before the hash probe drops them (a full-corpus text
    # pass at 100 TB); a broadcast SEMI-join on the bounded candidate
    # ids restricts the shingle projection to candidate rows, and
    # Spark's runtime bloom-filter injection can push it into the scan.
    # (NOT a driver-side isin(): a 45k-literal In expression measured
    # ~50 s of pure plan-construction overhead — PLANS.md "r11
    # MinHash-store probe economics". dedup_against_corpus can't skip
    # the corpus pass at all — it has to shingle the corpus to sign it;
    # here signing was paid once at build.)
    old = candidates.select(F.col("id_old").alias(id_col)).distinct()
    corpus_cand = corpus.join(F.broadcast(old), id_col, "semi")
    return _best_match_verify(candidates, batch, corpus_cand, id_col,
                              text_col, n=n, threshold=threshold)


def _fp_store_bands(spark, table: str, fp_cols: list[str],
                    op: str) -> int:
    """The band count a committed fingerprint store is stamped with,
    after checking the caller's limb count against the stamp (a store
    read with a different limb list would verify against the wrong
    columns)."""
    from comix_etl_spark.sinks.writers import require_store_committed

    props = require_store_committed(spark, table, "comix.fp", op)
    if props.get("n_limbs") != str(len(fp_cols)):
        raise ValueError(
            f"{op}: store {table!r} is stamped n_limbs="
            f"{props.get('n_limbs')} but the caller passed "
            f"{len(fp_cols)} fp_cols {fp_cols}; read it with the limb "
            f"columns it was built with")
    return int(props["n_bands"])


def near_dup_pairs_from_store(spark, table: str, *,
                              id_col: str = "media_id",
                              fp_cols: list[str],
                              max_hamming: int = 2) -> DataFrame:
    """Verified near-dup pairs from a persisted fingerprint store
    (``persist_fingerprint_store``) — output-identical to
    ``hamming_band_pairs`` on the same fingerprints (pytest-locked),
    but the corpus-scale (band, bv) self-join runs WITHOUT any
    Exchange: both join sides read the same bucketed, bucket-sorted
    layout. The recall contract is checked against the store's
    stamped band count, not the caller's."""
    n_bands = _fp_store_bands(spark, table, fp_cols,
                              "near_dup_pairs_from_store")
    return _band_self_pairs(spark.table(table), id_col=id_col,
                            fp_cols=fp_cols, n_bands=n_bands,
                            max_hamming=max_hamming)


def hamming_probe_from_store(spark, table: str, probe_fp: DataFrame, *,
                             id_col: str = "media_id",
                             fp_cols: list[str],
                             max_hamming: int = 2) -> DataFrame:
    """Eval-set decontamination against a PERSISTED fingerprint store
    (``persist_fingerprint_store``) — output-identical to
    ``hamming_band_probe`` on the same fingerprints (pytest-locked),
    with ZERO corpus-side work per benchmark: the store already holds
    both the band rows AND the limbs, so a new eval set costs only its
    own (tiny) banding, broadcast onto the landed bucketed layout. The
    completion of the store family: self-pairing
    (``near_dup_pairs_from_store``), text probe
    (``dedup_against_store``), and this cross-set perceptual probe all
    read one one-time build. The probe side bands to the layout the
    store is stamped with, not the caller's."""
    n_bands = _fp_store_bands(spark, table, fp_cols,
                              "hamming_probe_from_store")
    probe = fingerprint_band_rows(probe_fp, id_col=id_col, fp_cols=fp_cols,
                                  n_bands=n_bands)
    return _band_cross_probe(spark.table(table), probe, id_col=id_col,
                             fp_cols=fp_cols, n_bands=n_bands,
                             max_hamming=max_hamming)


def majority_fingerprint(fps: DataFrame, *, id_col: str = "media_id",
                         fp_col: str = "dhash", n_bits: int = 63,
                         out_col: str = "vfp") -> DataFrame:
    """Collapse MANY per-part fingerprints (one row per frame/chunk)
    into ONE per-item fingerprint by per-bit MAJORITY vote — the
    frame→video aggregation of ``video_dedup`` (and equally applicable
    to audio-chunk contours). Bit b of the output is 1 iff a STRICT
    majority of the item's non-NULL part fingerprints have bit b set
    (ties → 0, deterministic). Majority voting is what makes the
    video-level fingerprint robust to per-frame jitter AND to small
    trims/offsets: dropping or shifting one frame moves each bit's
    count by at most 1, so bits with a ≥2 vote margin — i.e. any bit
    that is stable across the clip — never flip.

    Plan shape: pure codegen — ``n_bits`` shift/AND bit extractions
    feed one groupBy with ``n_bits`` SUM aggregates (map-side partial
    combine collapses per-frame rows scan-side, so the shuffle carries
    one ~``n_bits``-long row per VIDEO, not per frame), then the
    output int rebuilds from the counts. No Python, no explode — at
    100 TB the frame fingerprints (8 B each) reduce in place.
    Output: (``id_col``, ``out_col``, n_parts). NULL part fingerprints
    (undecodable frames) don't vote; items with ZERO decodable parts
    are dropped (no fingerprint to elect with).
    """
    # r14 advice: the SQL-string rewrite narrowed the valid n_bits
    # range vs the old Column loop — n_bits=0 would build F.expr("")
    # (ParseException) and n_bits>=64 emits an unparseable `1<<63`L
    # literal; a backtick in fp_col would break the quoted identifier.
    # Validate up front with clear errors instead of a parser stack.
    if not 1 <= n_bits <= 63:
        raise ValueError(f"n_bits must be in [1, 63] (one sign-free bit "
                         f"per BIGINT), got {n_bits}")
    if "`" in fp_col:
        raise ValueError(f"fp_col must not contain a backtick: {fp_col!r}")
    # expressions are built as SQL strings parsed ONCE per column:
    # the previous Column-API loop (63 sum/shift/AND aggregates plus a
    # 63-deep when-chain projection) made ~700 py4j round-trips per
    # builder call — measured r14 at 1.4–3.6 s of pure driver time
    # per plan construction. Same expressions after parsing (CASE WHEN
    # ≡ when/otherwise, & ≡ bitwiseAND), exact integer math, so the
    # fingerprint is bit-identical.
    fp = F.col(fp_col)
    fq = f"`{fp_col}`"
    cnts = [F.expr(f"sum(shiftrightunsigned({fq}, {b}) & 1) AS _c{b}")
            for b in range(n_bits)]
    agg = (fps.filter(fp.isNotNull())
           .groupBy(F.col(id_col))
           .agg(F.count(F.lit(1)).alias("n_parts"), *cnts))
    out_sql = " + ".join(
        f"(CASE WHEN _c{b} * 2 > n_parts THEN {1 << b}L ELSE 0L END)"
        for b in range(n_bits))
    return agg.select(id_col, F.expr(out_sql).alias(out_col), "n_parts")


def video_dedup(frames: DataFrame, *, id_col: str = "media_id",
                payload_col: str = "payload", max_hamming: int = 2,
                n_bands: int | None = None) -> DataFrame:
    """End-to-end perceptual VIDEO dedup, composed from the existing
    parts: per-frame dHash (``multimodal.media.image_dhash`` over a
    (video_id, frame payload) frame — e.g. the grid from
    ``media.frame_sample_plan`` after frame decode) → per-video
    majority fingerprint (``majority_fingerprint``) → banded-Hamming
    pairing + min-id keeper election (``hamming_fp_dedup``). Two
    videos near-dup when their majority contours agree within
    ``max_hamming`` bits — robust to re-encodes, brightness shifts
    (per-frame dHash invariance) and one-frame trims/offsets
    (majority-vote margin; see ``majority_fingerprint``).

    Output: one row per KEPT video — (media_id, vfp, n_near).

    100 TB shape: frame bytes are touched once, scan-local, by the
    Arrow dHash stage; the majority vote is a map-side-combining
    aggregate (one 63-count row per video crosses the shuffle); the
    pairing stage then moves only (video_id, int64) rows. Reference
    seed: the cover-media pipeline (cv_fetch_covers.py:116-126, S9),
    extended from stills to the frame-sampled video modality.
    """
    from comix_etl_spark.multimodal.media import image_dhash

    frame_fps = image_dhash(frames, id_col=id_col, payload_col=payload_col)
    vfps = majority_fingerprint(frame_fps, id_col="media_id",
                                fp_col="dhash").drop("n_parts")
    return hamming_fp_dedup(vfps, fp_cols=["vfp"], max_hamming=max_hamming,
                            n_bands=n_bands)


def hamming_band_probe(corpus_fp: DataFrame, probe_fp: DataFrame, *,
                       id_col: str = "media_id", fp_cols: list[str],
                       max_hamming: int = 2,
                       n_bands: int | None = None) -> DataFrame:
    """Cross-set perceptual matches: every (corpus item, probe item)
    pair within ``max_hamming`` summed per-limb bits — the eval-set
    DECONTAMINATION screen (scrub benchmark images and their
    near-duplicate recrawls/re-encodes out of a training corpus; the
    pixel-space sibling of the registry's ``embedding_decontaminate``)
    and equally the incremental-ingest probe (batch vs corpus, like
    ``dedup_against_corpus`` for text). One or more 63-bit limbs,
    banded over the concatenated bit space with the same
    ``fingerprint_band_rows`` layout and pigeonhole recall guarantee as
    ``hamming_band_pairs``, but across TWO frames and without the
    ``id <`` orientation. Output: (corpus_id, probe_id, hamming).

    100 TB shape: the probe side's band rows broadcast (a benchmark
    suite is thousands of items, ``n_bands`` rows each); the corpus
    never self-joins — one corpus scan + one broadcast-hash probe,
    zero corpus shuffle. Rows with ANY NULL limb drop on both sides.
    In production the corpus band rows are persisted once
    (``persist_fingerprint_store``) and each new benchmark probes them
    (``hamming_probe_from_store``) without touching corpus pixels.
    """
    if n_bands is None:
        n_bands = max_hamming + 1
    corpus, probe = (fingerprint_band_rows(f, id_col=id_col,
                                           fp_cols=fp_cols, n_bands=n_bands)
                     for f in (corpus_fp, probe_fp))
    return _band_cross_probe(corpus, probe, id_col=id_col, fp_cols=fp_cols,
                             n_bands=n_bands, max_hamming=max_hamming)
