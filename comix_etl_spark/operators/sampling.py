"""Deterministic dataset splitting and sampling for training pipelines
(SURVEY.md §7 extensions).

`randomSplit`/`sample` are seed-dependent AND partitioning-dependent —
rerun the job with different parallelism and rows migrate between
splits, which silently contaminates held-out sets. The splits here are
pure functions of the ROW KEY: the same document lands in the same
split on any cluster, any partitioning, forever — the property
train/test hygiene actually requires. md5 (not xxhash64) so any other
engine can reproduce the assignment bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash_bucket(key: Column | str, *, buckets: int = 100, salt: str = "") -> Column:
    """Stable bucket in [0, buckets): first 8 hex chars of
    md5(key || salt) mod buckets. Change ``salt`` to draw an
    independent split from the same keys."""
    c = F.col(key) if isinstance(key, str) else key
    h = F.md5(F.concat(c.cast("string"), F.lit(salt)))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % buckets).cast("int")


def hash_split(df: DataFrame, key_col: str, *, test_pct: int = 10,
               salt: str = "", out_col: str = "split") -> DataFrame:
    """Label every row 'test' (test_pct % of key space) or 'train'.
    Scan-local — no shuffle, no state, no seed to lose."""
    b = hash_bucket(key_col, buckets=100, salt=salt)
    return df.withColumn(out_col, F.when(b < test_pct, F.lit("test")).otherwise(F.lit("train")))


def group_hash_sample(df: DataFrame, group_cols: list[str], key_col: str,
                      n: int, *, salt: str = "",
                      out_col: str = "sample_rank") -> DataFrame:
    """Exactly-n-per-group deterministic sample: rank each group's rows
    by md5(key || salt) (key as tie-break) and keep rank <= n.

    The deterministic replacement for per-group reservoir sampling —
    the same n rows survive on any partitioning or rerun, so eval sets
    drawn per domain/source stay frozen. One shuffle on the group key;
    per-group state is a sort, bounded by the group's size (for
    pathological mega-groups, pre-filter with ``hash_bucket`` to cut
    each group to ~n× a safety factor first, then rank exactly).
    """
    from pyspark.sql import Window

    k = F.col(key_col) if isinstance(key_col, str) else key_col
    h = F.md5(F.concat(k.cast("string"), F.lit(salt)))
    w = Window.partitionBy(*group_cols).orderBy(h, k)
    return (df.withColumn(out_col, F.row_number().over(w).cast("long"))
            .filter(F.col(out_col) <= n))


def balance_downsample(df: DataFrame, key_col: str, group_col: str, *,
                       salt: str = "") -> DataFrame:
    """Deterministically downsample every group to (approximately) the
    smallest group's size — the data-mixture rebalancing step before
    pretraining (equalize languages / sources so the majority class
    doesn't drown the mixture).

    Per-group keep rate is the INTEGER ppm ``rate_e6 = min_n * 1e6 div
    n_group``; a row survives iff its md5 key bucket (out of 1e6) falls
    under its group's rate. Pure integer arithmetic + the md5 idiom, so
    the surviving set is a bit-identical pure function of the keys on
    any engine, partitioning, or rerun. Expected kept size per group is
    min_n ± binomial noise (exact-n sampling is ``group_hash_sample``;
    this rate form is one scan-local filter with no per-group sort, the
    shape that wins at 100 TB).

    NULL-group rows are EXCLUDED throughout: the inner rate join can
    never match them, so letting a phantom NULL group anchor ``min_n``
    would skew every real group's rate while its own rows vanish —
    they are filtered out of the counts too, consistently.

    Plan: one tiny per-group count aggregate, its scalar min, both
    broadcast back onto the scan — the corpus itself never shuffles.
    """
    counts = (df.filter(F.col(group_col).isNotNull())
              .groupBy(group_col).agg(F.count(F.lit(1)).alias("_n")))
    min_n = counts.agg(F.min("_n").alias("_min_n"))
    rates = (counts.crossJoin(F.broadcast(min_n))
             .select(group_col, F.expr("_min_n * 1000000L div _n").alias("_rate_e6")))
    b = hash_bucket(key_col, buckets=1_000_000, salt=salt)
    return (df.join(F.broadcast(rates), group_col)
            .filter(b < F.col("_rate_e6"))
            .drop("_rate_e6"))


def temperature_downsample(df: DataFrame, key_col: str, group_col: str, *,
                           alpha: float = 0.5, salt: str = "") -> DataFrame:
    """Temperature-scaled mixture downsampling (the T5/mT5 multilingual
    sampling rule, public: sample share ∝ n_group^alpha): groups keep
    ``rate = (min_n / n_group)^(1-alpha)`` of their rows — alpha=1 keeps
    everything (natural mixture), alpha=0 degenerates to
    ``balance_downsample`` (uniform mixture), between interpolates while
    never needing to upsample (the largest feasible target given the
    smallest group anchors the scale).

    Same determinism contract as balance_downsample: integer ppm rate
    compared against the row's md5 key bucket, pure function of the
    keys. For alpha=0.5 the rate is sqrt(min_n/n) — IEEE sqrt/divide are
    correctly rounded, so the ppm rate is bit-identical on every engine;
    arbitrary alpha uses pow(), whose last-ulp behavior is
    implementation-defined — fine for sampling, but pin alpha=0.5 when
    an external system must reproduce the exact surviving set.

    Plan: tiny per-group count + scalar min broadcast onto the scan;
    the corpus never shuffles. NULL-group rows are excluded from both
    the counts and the output (see balance_downsample).
    """
    counts = (df.filter(F.col(group_col).isNotNull())
              .groupBy(group_col).agg(F.count(F.lit(1)).alias("_n")))
    min_n = counts.agg(F.min("_n").alias("_min_n"))
    if alpha == 0.5:
        rate = F.floor(F.lit(1_000_000.0)
                       * F.sqrt(F.col("_min_n") / F.col("_n")))
    else:
        rate = F.floor(F.lit(1_000_000.0)
                       * F.pow(F.col("_min_n") / F.col("_n"), 1.0 - alpha))
    rates = (counts.crossJoin(F.broadcast(min_n))
             .select(group_col, rate.cast("long").alias("_rate_e6")))
    b = hash_bucket(key_col, buckets=1_000_000, salt=salt)
    return (df.join(F.broadcast(rates), group_col)
            .filter(b < F.col("_rate_e6"))
            .drop("_rate_e6"))


def mixture_allocation(df: DataFrame, domain_col: str, token_col: Column | str,
                       *, budget_frac: float = 0.5,
                       weights: dict[str, float] | None = None) -> DataFrame:
    """Training-mixture allocation PLAN (the artifact a sampler
    consumes): per domain, natural doc/token mass, the domain's token
    allocation from a ``budget_frac`` share of total corpus tokens
    under ``weights`` (uniform over observed domains when None), and
    the two sampler inputs — ``sample_rate_e6`` (capped at 1e6; you
    cannot downsample past keeping everything) and ``epochs_e6``
    (UNCAPPED allocation/available: >1e6 means the domain repeats to
    meet its target — the up-sampling signal mixture recipes track).

    Plan shape: token counting is whatever Column expression the caller
    passes (scan-local), one narrow per-domain aggregate, and the
    corpus totals ride a 1-row broadcast cross join — one Exchange of
    |domains| rows at any corpus size. Floor'd integer ppm on DOUBLE
    inputs both engines compute identically. Explicit ``weights`` must
    cover every observed domain (uncovered domains get weight 0 — an
    explicit allocation decision, surfaced as rate 0, not an error).
    NULL domains are excluded, matching the sampling family."""
    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    per = (df.filter(F.col(domain_col).isNotNull())
           .select(F.col(domain_col).alias("_dom"), tok.alias("_tok"))
           .groupBy("_dom")
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("_tok").cast("long").alias("n_tokens"))
           # TWO consumers (totals + the report) — pin the tiny
           # |domains|-row frame or each one re-scans the corpus
           # (the r9 multi-consumed-frame lesson; plan-audited: 2
           # corpus scans before, 1 after)
           .localCheckpoint(eager=True))
    totals = per.agg(F.sum("n_tokens").cast("double").alias("_total"),
                     F.count(F.lit(1)).cast("double").alias("_n_dom"))
    if weights is None:
        # direct division, NOT `* (1.0 / n)`: x*(1/n) != x/n in IEEE
        # doubles at exact-integer boundaries (total=4900, n=49 gives
        # 49 vs 50 under the reciprocal form), and the DuckDB oracle
        # divides — the floor() makes the one-ulp gap a full-integer
        # cross-engine mismatch
        alloc = F.floor(F.col("_total") * budget_frac
                        / F.col("_n_dom")).cast("long")
    else:
        pairs = [x for kv in weights.items() for x in (F.lit(kv[0]), F.lit(float(kv[1])))]
        w = F.coalesce(F.element_at(F.create_map(*pairs), F.col("_dom")),
                       F.lit(0.0))
        alloc = F.floor(F.col("_total") * budget_frac * w).cast("long")
    # a zero-token domain (all-empty or all-NULL texts) has nothing to
    # sample: rate and epochs are 0 BY DEFINITION — the bare division
    # would produce engine-divergent ±inf/NaN floors
    ratio = F.when(F.col("n_tokens") > 0,
                   alloc.cast("double") / F.col("n_tokens").cast("double")) \
             .otherwise(F.lit(0.0))
    return (per.crossJoin(F.broadcast(totals))
            .select(F.col("_dom").alias(domain_col), "n_docs", "n_tokens",
                    alloc.alias("target_tokens"),
                    F.floor(F.least(F.lit(1.0), ratio) * 1_000_000)
                     .cast("long").alias("sample_rate_e6"),
                    F.floor(ratio * 1_000_000)
                     .cast("long").alias("epochs_e6")))


def weighted_sample(df: DataFrame, key_col: str, weight_col: str, k: int,
                    *, salt: str = "", out_col: str = "es_key") -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, k rows
    (Efraimidis–Spirakis 2006, public): each row draws
    u ∈ (0, 1) from the md5 of its key and scores
    ``es_key = -ln(u) / w`` — the k SMALLEST scores are a weighted
    sample without replacement (the exponential-race formulation:
    higher weight ⇒ smaller expected key). The md5 coin replaces rand()
    for the same reason as hash_split: re-execution, repartitioning,
    and other engines all reproduce the identical sample.

    Scan-local scoring + one TakeOrdered top-k — no shuffle of the
    full table at any scale. Weights must be > 0 (rows with w <= 0 are
    excluded, matching the estimator's domain).
    """
    c = F.col(key_col)
    h = F.conv(F.substring(
        F.md5(F.concat(c.cast("string"), F.lit(salt))), 1, 8), 16, 10)
    u = (h.cast("double") + 0.5) / F.lit(4294967296.0)
    w = F.col(weight_col).cast("double")
    return (df.filter(w > 0)
            .withColumn(out_col, -F.log(u) / w)
            .orderBy(F.col(out_col).asc(), c.asc())
            .limit(k))


def dsir_importance(corpus: DataFrame, target: DataFrame, *, id_col: str,
                    text_col: str, buckets: int = 4096) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling", public arXiv
    2302.03169): score every corpus document by how target-like its
    hashed-n-gram distribution is, for importance resampling toward a
    small high-quality target set — the standard data-SELECTION stage
    between dedup and mixing in an LLM pipeline.

    Model: bag of hashed features (unigrams + bigrams of whitespace
    tokens, md5 → ``buckets``); per-feature add-1-smoothed categorical
    fits p_target / p_source; document log-weight = Σ_occurrences
    log(p_t[f] / p_s[f]).

    Determinism contract: the per-bucket log-ratio is quantized ONCE to
    integer micro-nats (``round(ln(q)·1e6)`` over an exactly-rational
    q) and documents sum int64s — the cross-engine float hazard is one
    ln() per bucket (≤ 1 ulp ⇒ flip odds ~1e-10/bucket), never the
    per-document sum (same trick as bigram_lm_scores' ppm math).

    100 TB shape: one corpus scan for source counts, one target scan,
    one corpus scan for scoring (feature explode is scan-local
    zip_with/slice codegen); the ratio table is ≤ ``buckets`` rows
    BROADCAST back, and the per-doc sum partial-aggregates map-side on
    the near-unique id key. Nothing shuffles document text.
    Broadcast routing (measured r9, PLANS.md): at buckets=1M on a
    3.8M-gram corpus the ratio table is ~1M (long,long) rows ≈ 16-25
    MB — comfortably broadcast, reduce tasks flat. The table is
    bounded by ``buckets`` regardless of corpus size; past ~4M buckets
    (when ~24 B/row approaches the broadcast threshold) drop the
    ``F.broadcast`` hint on the scoring join and let it shuffle —
    identical plan otherwise.

    Returns (id_col, n_feats, dsir_weight_e6) — weight in micro-nats,
    higher = more target-like.
    """
    from comix_etl_spark.functions.text import tokens

    from comix_etl_spark.operators.partitioning import spread_small_scan

    def feats(df: DataFrame) -> DataFrame:
        t = tokens(text_col)
        w = F.size(t) - 1
        # bigrams WITH multiplicity (functions.text.shingles dedupes,
        # which would break the bag-of-features counts DSIR fits)
        bigrams = F.when(F.size(t) >= 2,
                         F.zip_with(F.slice(t, 1, w), F.slice(t, 2, w),
                                    lambda a, b: F.concat(a, F.lit(" "), b))
                         ).otherwise(F.array().cast("array<string>"))
        grams = F.concat(t, bigrams)
        # spread the slim scan: tokenize + bigram zip + per-gram md5
        # are the CPU cost and a single-split input runs them on one
        # core (no-op at real split counts)
        return (spread_small_scan(df.select(F.col(id_col),
                                            F.col(text_col)))
                .select(F.col(id_col), F.explode(grams).alias("_g"))
                .select(F.col(id_col),
                        hash_bucket(F.col("_g"), buckets=buckets)
                        .alias("_b")))

    src = feats(corpus)
    tgt_counts = (feats(target).groupBy("_b")
                  .agg(F.count(F.lit(1)).alias("_ct")))
    src_counts = src.groupBy("_b").agg(F.count(F.lit(1)).alias("_cs"))
    # every bucket a corpus doc references exists in src_counts (the
    # source fit IS the corpus), so a left join loses nothing
    totals = (src_counts.agg(F.sum("_cs").alias("_ns"))
              .crossJoin(tgt_counts.agg(F.sum("_ct").alias("_nt"))))
    b = F.lit(buckets).cast("double")
    lr = F.round(F.log(
        (F.coalesce(F.col("_ct"), F.lit(0)) + 1).cast("double")
        * (F.col("_ns") + b)
        / ((F.col("_cs") + 1).cast("double") * (F.col("_nt") + b))
    ) * 1e6).cast("long")
    # an EMPTY target (e.g. a filter that matched nothing) makes _nt
    # NULL, which would silently NULL every weight and turn the
    # downstream top-k into arbitrary selection — fail loud instead
    checked_lr = F.when(
        F.assert_true(F.col("_nt").isNotNull(),
                      F.lit("dsir_importance: target set is empty — "
                            "no distribution to weight toward")).isNull(),
        lr)
    ratio = (src_counts.join(tgt_counts, "_b", "left")
             .crossJoin(F.broadcast(totals))
             .select("_b", checked_lr.alias("_lr_e6")))
    return (src.join(F.broadcast(ratio), "_b")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_feats"),
                 F.sum("_lr_e6").alias("dsir_weight_e6")))
