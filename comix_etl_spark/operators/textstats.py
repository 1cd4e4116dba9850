"""Corpus-statistics operators for training-data pipelines: fixed-window
document chunking, TF-IDF term ranking, and inverted-index construction.

Beyond-reference extensions (SURVEY.md §7): the reference's text handling
stops at per-row scalar normalization (etl/seed/seed_from_marvel.py:126-135
token overlap); these operators lift the same tokenizer to corpus scale.

All three stay JVM-side: tokenization/chunking are scan-local array
expressions inside WholeStageCodegen (no Python, no shuffle), and the
aggregations shuffle exactly once on their natural key (term), with
map-side partial aggregation. At 100 TB the term key space is Zipfian —
stopword terms are hot keys — so the TF stage aggregates (doc_id, term)
first (high cardinality, well spread) and only then reduces per term,
which keeps the skewed second shuffle small (one row per distinct
doc-term, not one per token occurrence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from comix_etl_spark.functions.text import tokens


def chunk_documents(df: DataFrame, id_col: str, text_col: str, *,
                    chunk_size: int = 16, stride: int | None = None) -> DataFrame:
    """Split each document into fixed-size token-window chunks.

    The core LLM-pretraining prep op: tokenize, then emit one row per
    window of ``chunk_size`` tokens advancing by ``stride`` (default:
    non-overlapping, stride == chunk_size). Documents with zero tokens
    emit no chunks. Output: id, chunk_id (0-based), chunk_text, n_tokens.

    Scale: pure per-row array expressions + one posexplode — no shuffle,
    no UDF; output size is input token count / stride, linear in corpus
    size regardless of document-length skew.
    """
    if stride is None:
        stride = chunk_size
    if chunk_size <= 0 or stride <= 0:
        # `stride or chunk_size` would silently reinterpret an explicit
        # stride=0 as non-overlapping chunking, hiding the caller's bug
        raise ValueError(f"chunk_size and stride must be > 0, got "
                         f"chunk_size={chunk_size}, stride={stride}")
    toks = tokens(text_col)
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(stride))
    chunks = F.transform(starts, lambda s: F.slice(toks, s, chunk_size))
    exploded = (
        df.select(F.col(id_col), F.posexplode(chunks).alias("chunk_id", "_chunk"))
        .filter(F.size("_chunk") > 0)
    )
    return exploded.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.array_join("_chunk", " ").alias("chunk_text"),
        F.size("_chunk").cast("long").alias("n_tokens"),
    )


def term_frequencies(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document term frequencies: one row per distinct (doc, term).

    The explode→count collapses token occurrences at the (doc_id, term)
    grain, which is the high-cardinality (well-distributed) key — the
    right first shuffle before any per-term (skew-prone) reduction.
    """
    return (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def tfidf_top_terms(df: DataFrame, id_col: str, text_col: str, *,
                    k: int = 3) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF.

    The idf factor is the raw ratio N/df folded into an integer score
    ``score_e6 = (tf * N * 1e6) div df`` — integer arithmetic is
    bit-identical across engines, unlike ln(), so the ranking is exactly
    reproducible (at petabyte N swap in log-scaled idf; the plan shape is
    unchanged). Ties break on term ascending — fully deterministic.

    Plan: tf shuffle on (doc, term), df reduce on term (rows already
    collapsed to one per doc-term), broadcast of the scalar N, window on
    doc_id. No skewed shuffle sees raw token rows.
    """
    tf = term_frequencies(df, id_col, text_col)
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n = df.select(F.count(F.lit(1)).cast("long").alias("n_docs"))
    scored = (
        tf.join(df_t, "term")
        .join(F.broadcast(n))
        .withColumn("score_e6", F.expr("tf * n_docs * 1000000 div df"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score_e6"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "score_e6", "rank")
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str, *,
                     max_dup_token_frac: float = 0.5,
                     max_top_bigram_frac: float = 0.2) -> DataFrame:
    """Gopher/C4-style repetition quality screen per document.

    Emits n_tokens, dup_token_frac (1 - distinct/total tokens),
    top_bigram + top_bigram_frac (occurrences of the most frequent
    bigram over total bigram slots, ties broken bigram-ascending), and a
    ``keep`` gate under the given thresholds — the standard
    excess-repetition filters from the public Gopher (Rae et al. 2021)
    and C4 cleaning rules.

    Plan: token stats are scan-local array expressions; the bigram mode
    needs one shuffle at the (doc, bigram) grain — high cardinality and
    well spread, same shape as term_frequencies — then a per-doc window
    over a handful of bigram counts. Bigram slots per doc are known
    scan-side (n_tokens - 1), so the fraction costs no extra aggregate.
    """
    toks = tokens(text_col)
    base = df.select(F.col(id_col), toks.alias("_t"))
    n = F.size("_t")
    scan = base.select(
        id_col,
        n.cast("long").alias("n_tokens"),
        F.when(n > 0,
               F.round(F.lit(1.0) - F.size(F.array_distinct("_t")).cast("double")
                       / n.cast("double"), 6))
        .otherwise(F.lit(0.0)).alias("dup_token_frac"),
    )
    # all bigram occurrences (NOT distinct — the whole point is counting
    # repeats); zip_with over shifted slices stays inside codegen
    w = n - 1
    grams = F.zip_with(F.slice("_t", 1, w), F.slice("_t", 2, w),
                       lambda a, b: F.concat(a, F.lit(" "), b))
    empty = F.array().cast("array<string>")
    bg = base.select(
        id_col,
        F.explode(F.when(n >= 2, grams).otherwise(empty)).alias("bigram"),
    )
    counts = bg.groupBy(id_col, "bigram").agg(F.count(F.lit(1)).alias("_n"))
    win = Window.partitionBy(id_col).orderBy(F.desc("_n"), F.asc("bigram"))
    top = (counts.withColumn("_rn", F.row_number().over(win))
           .filter(F.col("_rn") == 1)
           .select(id_col, F.col("bigram").alias("top_bigram"), "_n"))
    out = (
        scan.join(top, id_col, "left")
        .withColumn(
            "top_bigram_frac",
            F.when(F.col("n_tokens") >= 2,
                   F.round(F.col("_n").cast("double")
                           / (F.col("n_tokens") - 1).cast("double"), 6))
            .otherwise(F.lit(0.0)))
        .drop("_n")
    )
    return out.withColumn(
        "keep",
        (F.col("dup_token_frac") <= max_dup_token_frac)
        & (F.col("top_bigram_frac") <= max_top_bigram_frac),
    )


def inverted_index(df: DataFrame, id_col: str, text_col: str, *,
                   posting_cap: int = 10) -> DataFrame:
    """Inverted index: per term, document frequency, total occurrences,
    and the first ``posting_cap`` doc ids (ascending) as a CSV string.

    The posting list is capped BEFORE collection (row_number within term,
    keep ≤ cap) so per-group aggregation state is bounded — collecting a
    stopword's full posting list at 100 TB is gigabytes in one aggregator.
    The window and the groupBy share the term partitioning, so the cap
    costs a sort but no extra shuffle. Consumers needing full lists should
    keep the (term, doc_id) relation of ``term_frequencies``, which stays
    relational and spillable.
    """
    tf = term_frequencies(df, id_col, text_col)
    w = Window.partitionBy("term").orderBy(F.asc(id_col))
    ranked = tf.withColumn("_rn", F.row_number().over(w))
    return (
        ranked.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("tf").cast("long").alias("total_tf"),
            F.array_join(
                F.sort_array(F.collect_list(
                    F.when(F.col("_rn") <= posting_cap, F.col(id_col)))),
                ",",
            ).alias("postings_head"),
        )
    )


def dedup_spans(df: DataFrame, id_col: str, text_col: str, *,
                chunk_size: int = 16) -> DataFrame:
    """Span-level (sub-document) exact dedup with document
    reconstruction — the C4/RefinedWeb-style pass that removes text
    blocks repeated *across* documents (boilerplate, licence headers,
    navigation chrome) while keeping each document's unique content.

    Each document is cut into fixed ``chunk_size``-token spans
    (``chunk_documents``); a span occurrence survives iff it is the
    FIRST occurrence of that exact span text corpus-wide — minimum
    (``id_col``, chunk position) — so exactly one copy of every
    repeated block remains, INCLUDING a block repeated inside a single
    document (min-doc-only ownership kept every within-document copy).
    Surviving spans are re-joined in original order.

    Returns ``(id_col, n_spans, n_kept, kept_tokens, new_fp)`` with
    ``new_fp`` the md5 of the reconstructed text (empty-string md5 for
    fully-boilerplate documents).

    Scale shape: two shuffles, each on a well-spread key — (1) the
    min-owner WINDOW over the span text (one exchange keyed on the span;
    the r3 groupBy+join form shuffled the same spans twice and joined —
    measured 1.5× slower for identical output), (2) the per-document
    reconstruction groupBy. Repeated boilerplate spans are the hot
    window keys, but a window partition holds only that span's
    occurrences — the same df-bound the aggregate had. Per-doc
    aggregation state is bounded by the document's own span list —
    the same bound the scan already held.

    VIRAL-SPAN CEILING + ESCAPE HATCH: like
    ``exact_substring_dedup(ownership="window")``, the min-owner window
    puts ONE span text's entire occurrence list in one task — a viral
    boilerplate span (billions of occurrences at 100 TB) is a
    single-task ceiling that AQE cannot split. The escape is the same
    ``agg_join`` rewrite measured there (PLANS.md "r8 scale evidence"):
    resolve the owner as ``groupBy("chunk_text").agg(F.min(F.struct(
    id, chunk_id)))`` — map-side partials bound the hot span's reduce
    input by #map-tasks — and join it back (the join IS
    AQE-skew-splittable). This operator keeps window-only because its
    aligned fixed chunks are far less collision-prone than any-offset
    shingles and no measurement has shown the ceiling here; apply the
    rewrite when a corpus's top span count approaches a task's memory.
    """
    spans = chunk_documents(df, id_col, text_col, chunk_size=chunk_size)
    w = Window.partitionBy("chunk_text")
    owner = F.min(F.struct(F.col(id_col), F.col("chunk_id"))).over(w)
    kept = (spans.withColumn("_owner", owner)
            .withColumn("_keep",
                        ((F.col(id_col) == F.col(f"_owner.{id_col}"))
                         & (F.col("chunk_id") == F.col("_owner.chunk_id")))
                        .cast("int")))
    return (kept.groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_spans"),
                 F.sum("_keep").cast("long").alias("n_kept"),
                 F.sum(F.col("_keep") * F.col("n_tokens")).cast("long")
                  .alias("kept_tokens"),
                 F.md5(F.array_join(
                     # sort_array on (chunk_id, text) restores original order
                     F.transform(
                         F.sort_array(F.collect_list(
                             F.when(F.col("_keep") == 1,
                                    F.struct(F.col("chunk_id"),
                                             F.col("chunk_text"))))),
                         lambda s: s["chunk_text"]),
                     " ")).alias("new_fp")))


def exact_substring_dedup(df: DataFrame, id_col: str, text_col: str, *,
                          k: int = 8,
                          ownership: str = "window") -> DataFrame:
    """Cross-document EXACT SUBSTRING dedup at anchor granularity — the
    suffix-array-style pass of "Deduplicating Training Data Makes
    Language Models Better" (Lee et al. 2021, ExactSubstr), re-expressed
    for Spark. Where ``dedup_spans`` removes only ALIGNED fixed chunks,
    this removes any duplicated token run at ANY offset: a substring of
    ≥ k tokens shared verbatim between two places in the corpus is kept
    at exactly one of them and removed everywhere else.

    Mechanism (anchor shingles instead of a global suffix array, which
    does not distribute): every k-token shingle occurrence (doc, p) is
    an ANCHOR. A shingle whose text occurs more than once (across OR
    within documents) is duplicated; the lexicographically-first
    occurrence (min doc_id, then min p) is the OWNER and keeps its
    tokens, every other occurrence marks token positions [p, p+k-1] for
    removal. A duplicated run of length m ≥ k yields m-k+1 consecutive
    duplicated anchors, so the union of their windows covers the whole
    run — long duplicates are removed in full, while runs shorter than
    k tokens are below the match threshold and survive (the same
    length-threshold contract as ExactSubstr's min-match length).

    Returns ``(id_col, n_tokens, dup_tokens, new_fp)``: per-document
    token count, tokens removed, and the md5 of the text rebuilt from
    surviving tokens in original order (empty-string md5 when the whole
    document was duplicated elsewhere) — the reconstruction, not just
    the counts, is what the oracle checks.

    Scale shape (100 TB): anchors are one posexplode of a scan-local
    slice/transform — O(total tokens) rows, no UDF. ONE wide shuffle
    keys the anchors by shingle text for the ownership pass. Removal
    positions explode only from NON-OWNER duplicated anchors (≤ k rows
    each, distinct-bounded by the document's own length), and
    reconstruction is one groupBy on ``id_col`` whose state is bounded
    by the document itself. Nothing is ever all-pairs and nothing
    leaves the cluster.

    OWNERSHIP ROUTING (``ownership=``, r8 — PLANS.md "r8 scale
    evidence"): ``"window"`` (default) resolves owners with one
    row_number window — one exchange, bench-fastest, but a window
    partition holds one shingle's ENTIRE occurrence list in one task,
    which a viral boilerplate shingle (billions of occurrences at
    100 TB) breaks. ``"agg_join"`` resolves the owner as a min-struct
    groupBy (partial-aggregates map-side ⇒ the hot shingle's reduce
    input is ≤ #map-tasks rows, not #occurrences) and joins it back —
    the join IS AQE-skew-splittable where a window is not (measured,
    hotkey_join experiment). Identical output (pytest-asserted); route
    by corpus: window until a shingle's occurrence count can exceed a
    task's memory, agg_join beyond.
    """
    if ownership not in ("window", "agg_join"):
        raise ValueError(
            f"ownership must be window|agg_join, not {ownership!r}")
    toks = df.select(F.col(id_col), tokens(text_col).alias("_tk"))
    n_starts = F.size("_tk") - (k - 1)
    anchors = (toks.filter(F.size("_tk") >= k)
               .select(F.col(id_col),
                       F.posexplode(F.transform(
                           F.sequence(F.lit(1), n_starts),
                           lambda s: F.array_join(F.slice("_tk", s, k), " ")))
                       .alias("_p", "_g")))
    if ownership == "window":
        w_ord = Window.partitionBy("_g").orderBy(F.col(id_col), F.col("_p"))
        # rn > 1 ⟺ the shingle text occurs more than once AND this is
        # not the owner occurrence — one window, one shuffle, no count
        marked = anchors.withColumn("_rn", F.row_number().over(w_ord))
        dup_occ = marked.filter(F.col("_rn") > 1)
    else:
        owners = (anchors.groupBy("_g")
                  .agg(F.min(F.struct(F.col(id_col), F.col("_p")))
                       .alias("_own"),
                       F.count(F.lit(1)).alias("_cnt")))
        dup_occ = (anchors.join(owners, "_g")
                   .filter((F.col("_cnt") > 1)
                           & ~((F.col(id_col) == F.col(f"_own.{id_col}"))
                               & (F.col("_p") == F.col("_own._p")))))
    removed_pos = (dup_occ
                   .select(F.col(id_col),
                           F.explode(F.sequence(
                               F.col("_p"), F.col("_p") + (k - 1)))
                           .alias("_idx"))
                   .distinct())
    # one pass folds removal count AND reconstruction: flag each token
    # via left join (collect_list drops the null structs of removed
    # tokens — same reconstruction trick as dedup_spans)
    per_tok = toks.select(F.col(id_col), F.posexplode("_tk").alias("_idx", "_tok"))
    agg = (per_tok
           .join(removed_pos.withColumn("_rm", F.lit(1)),
                 [id_col, "_idx"], "left")
           .groupBy(id_col)
           .agg(F.sum(F.coalesce("_rm", F.lit(0))).cast("long")
                .alias("dup_tokens"),
                F.md5(F.array_join(
                    F.transform(F.sort_array(F.collect_list(
                        F.when(F.col("_rm").isNull(),
                               F.struct(F.col("_idx"), F.col("_tok"))))),
                        lambda s: s["_tok"]), " ")).alias("new_fp")))
    empty_fp = "d41d8cd98f00b204e9800998ecf8427e"  # md5("")
    # the slim (id, n_tokens) driver side re-reads only the text column
    # and restores zero-token documents the explode produced no rows for
    return (toks.select(F.col(id_col), F.size("_tk").cast("long").alias("n_tokens"))
            .join(agg, id_col, "left")
            .select(F.col(id_col),
                    "n_tokens",
                    F.coalesce("dup_tokens", F.lit(0)).cast("long")
                    .alias("dup_tokens"),
                    F.coalesce("new_fp", F.lit(empty_fp)).alias("new_fp")))


def bpe_train(df: DataFrame, text_col: str, *, n_merges: int = 8) -> DataFrame:
    """Iterative byte-pair-encoding TRAINER (Sennrich et al. 2016) —
    learn the first ``n_merges`` merge rules from a corpus, the
    tokenizer-training pass of an LLM data pipeline (the sibling of the
    single-round ``bpe_pair_counts`` probe).

    Algorithm (exactly the classic): words → (distinct word, frequency)
    vocab; each word starts as its character sequence; per round, count
    all adjacent symbol pairs weighted by word frequency (overlapping
    occurrences count, e.g. "aaa" holds (a,a) twice), pick the most
    frequent pair (ties broken lexicographically so the result is
    engine-reproducible), fuse it greedily left-to-right in every word,
    repeat. Returns one row per learned rule:
    ``(step, merge_left, merge_right, pair_count)``.

    Scale shape (how SentencePiece/HF tokenizers train on big corpora,
    and the right Spark shape at 100 TB): the corpus is touched ONCE —
    a single explode+groupBy to the (word, freq) vocab, which is
    Zipf-bounded (millions of rows for a trillion tokens, not
    trillions). Every training round then runs on the vocab alone: one
    small pair-count shuffle + a 1-row argmax collect, and the greedy
    fusion is a pure array-expression map (no UDF). localCheckpoint per
    round cuts the growing expression lineage, same discipline as
    kmeans/pagerank."""
    merges, _seg = _bpe_learn(df, text_col, n_merges)
    return df.sparkSession.createDataFrame(
        merges, "step long, merge_left string, merge_right string, "
                "pair_count long")


def _bpe_learn(df: DataFrame, text_col: str,
               n_merges: int) -> tuple[list, DataFrame]:
    """Shared BPE learner: returns (merge rules, final vocab
    segmentation (_w, _freq, _syms)) — ``bpe_train`` reports the rules,
    ``bpe_tokenize`` applies the segmentation back to the corpus."""
    vocab = (df.select(F.explode(tokens(text_col)).alias("_w"))
             .groupBy("_w").agg(F.count(F.lit(1)).cast("long").alias("_freq")))
    seg = vocab.select(
        "_w", "_freq",
        F.expr("transform(sequence(1, length(_w)), i -> substring(_w, i, 1))")
        .alias("_syms")).localCheckpoint(eager=True)

    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        width = F.size("_syms") - 1
        pairs = (seg.filter(F.size("_syms") >= 2)
                 .select("_freq", F.explode(F.zip_with(
                     F.slice("_syms", 1, width), F.slice("_syms", 2, width),
                     lambda a, b: F.struct(a.alias("l"), b.alias("r"))))
                     .alias("_p")))
        best = (pairs.groupBy("_p.l", "_p.r")
                .agg(F.sum("_freq").alias("_cnt"))
                .orderBy(F.col("_cnt").desc(), "l", "r")
                .limit(1).collect())  # 1-row argmax — bounded by design
        if not best:
            break
        l, r, cnt = best[0].l, best[0].r, int(best[0]._cnt)
        merges.append((step, l, r, cnt))
        fused = l + r
        # greedy left-to-right fusion: fold the symbol list; when the
        # running tail equals l and the next symbol is r, replace the
        # tail — the freshly fused token (l||r) can never equal l, so
        # overlapping runs fuse non-overlapping, exactly like the
        # reference implementation ("aaaa" + (a,a) -> [aa, aa])
        seg = (seg.withColumn("_syms", F.aggregate(
            "_syms", F.array().cast("array<string>"),
            lambda out, s: F.when(
                (F.try_element_at(out, F.lit(-1)) == F.lit(l))
                & (s == F.lit(r)),
                F.concat(F.slice(out, 1, F.size(out) - 1),
                         F.array(F.lit(fused))))
            .otherwise(F.concat(out, F.array(s)))))
            .localCheckpoint(eager=True))
    return merges, seg


def bpe_tokenize(df: DataFrame, id_col: str, text_col: str, *,
                 n_merges: int = 8) -> DataFrame:
    """Train BPE on the corpus AND apply it back: per-document token
    counts under the learned merges vs raw whitespace words — the
    compression-diagnostic pass that tells you what a tokenizer change
    does to your token budget BEFORE you re-tokenize 100 TB.

    Scale shape (how real tokenizers apply at scale): merges are
    applied to the VOCAB (Zipf-bounded distinct words), never to the
    corpus — the final word → subword-count map then joins back to the
    corpus word stream (broadcast here; sort-merge when a trillion-token
    corpus pushes the vocab past broadcast size). The corpus is touched
    twice total (vocab build + count join), regardless of n_merges.

    Returns ``(id_col, n_words, n_bpe_tokens)``; zero-token documents
    report (0, 0)."""
    _merges, seg = _bpe_learn(df, text_col, n_merges)
    word_cost = seg.select(F.col("_w"),
                           F.size("_syms").cast("long").alias("_cost"))
    words = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("_w"))
    counts = (words.join(F.broadcast(word_cost), "_w")
              .groupBy(id_col)
              .agg(F.count(F.lit(1)).cast("long").alias("n_words"),
                   F.sum("_cost").cast("long").alias("n_bpe_tokens")))
    return (df.select(F.col(id_col)).distinct()
            .join(counts, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("n_words", F.lit(0)).cast("long")
                    .alias("n_words"),
                    F.coalesce("n_bpe_tokens", F.lit(0)).cast("long")
                    .alias("n_bpe_tokens")))


def contamination_check(corpus: DataFrame, benchmark: DataFrame, *,
                        id_col: str, text_col: str, n: int = 5) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    n-gram with an evaluation set (the standard exact-substring
    contamination screen run before pretraining — GPT-3 App. C / PaLM
    §B style, n-gram exact match).

    Returns one row per contaminated corpus doc:
    ``(id_col, n_hits, n_grams, contam_e6)`` where ``n_hits`` counts the
    doc's distinct n-grams that appear anywhere in the benchmark,
    ``n_grams`` its distinct n-gram total, and ``contam_e6`` the integer
    ratio ``n_hits*1e6 div n_grams`` (integer so the score is
    bit-identical across engines).

    Scale shape: benchmark suites are tiny (MBs) next to a 100 TB corpus
    — their distinct n-gram set is collected into a broadcast hash join,
    so the corpus side is one scan + scan-local shingling + map-side
    partial agg + one shuffle on ``id_col``. The corpus never shuffles
    its text, only (id, gram-hit) pairs.
    """
    from comix_etl_spark.functions.text import shingles

    from comix_etl_spark.operators.partitioning import spread_small_scan

    bench_grams = (benchmark
                   .select(F.explode(shingles(F.col(text_col), n)).alias("_g"))
                   .distinct())
    # spread the corpus scan: the n-gram shingling is the CPU cost and
    # a single-split input would run it on one core (no-op at real
    # split counts — see operators/partitioning.py)
    doc_grams = (spread_small_scan(corpus.select(F.col(id_col),
                                                 F.col(text_col)))
                 .select(F.col(id_col), shingles(F.col(text_col), n).alias("_gs"))
                 .select(F.col(id_col), F.size("_gs").alias("n_grams"),
                         F.explode("_gs").alias("_g")))
    return (doc_grams.join(F.broadcast(bench_grams), "_g")
            .groupBy(id_col, "n_grams")
            .agg(F.count(F.lit(1)).alias("n_hits"))  # grams are distinct per doc
            .select(id_col,
                    F.col("n_hits").cast("long"),
                    F.col("n_grams").cast("long"),
                    # integer div, not float /: bit-identical across engines
                    F.expr("n_hits * 1000000L div n_grams").alias("contam_e6")))


def bigram_lm_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Corpus-trained bigram language-model score per document — the
    perplexity-style quality filter of CCNet/CC-100 style pipelines
    (Wenzek et al. 2020), with the LM trained on the corpus itself.

    Per document: ``lm_score_e6`` = mean over its bigram occurrences of
    P(w2 | w1) expressed in ppm, where P = count(bigram)/count(prefix
    unigram as a bigram prefix) over the whole corpus. Integer ppm per
    bigram (``*1e6 div``) then an integer mean keeps the score
    bit-identical across engines — the real pipeline would use mean log
    prob; the ranking it induces (garbage ≈ unseen transitions → low
    score) is the same and the plan shape identical.

    Scale shape: one (doc, bigram) explode feeds BOTH the corpus model
    (two aggregates at bigram/prefix grain — Zipf-hot keys collapse
    map-side) and the per-doc mean; the model tables join back on the
    bigram key. A 100 TB corpus trains and scores in 3 shuffles, no
    driver-side state; to score against a FROZEN reference LM, persist
    the two model tables and broadcast-join them instead.
    """
    toks = tokens(text_col)
    n = F.size(toks)
    w = n - 1
    grams = F.zip_with(F.slice(toks, 1, w), F.slice(toks, 2, w),
                       lambda a, b: F.concat(a, F.lit(" "), b))
    empty = F.array().cast("array<string>")
    bg = (df.select(F.col(id_col),
                    F.explode(F.when(n >= 2, grams).otherwise(empty))
                    .alias("bigram"))
          .withColumn("prefix", F.substring_index("bigram", " ", 1)))
    bigram_counts = bg.groupBy("bigram").agg(
        F.count(F.lit(1)).alias("_nbg"))
    prefix_counts = bg.groupBy("prefix").agg(
        F.count(F.lit(1)).alias("_npre"))
    scored = (bg.join(bigram_counts, "bigram")
              .join(prefix_counts, "prefix")
              .withColumn("p_e6", F.expr("_nbg * 1000000L div _npre")))
    per_doc = (scored.groupBy(id_col)
               .agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                    F.expr("sum(p_e6) div count(1)").alias("lm_score_e6")))
    # restore docs with < 2 tokens (zero bigrams): a quality filter
    # joining scores back must see them as unscored rows (n_bigrams 0,
    # score NULL), not lose them — same contract as exact_substring_dedup
    return (df.select(F.col(id_col)).join(per_doc, id_col, "left")
            .select(id_col,
                    F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
                    F.col("lm_score_e6")))


def bm25_scores(df: DataFrame, id_col: str, text_col: str,
                terms: list[str], *, k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed keyword
    query (Robertson & Walker, public) — the ranking upgrade over the
    reference's additive relevance_score (app.py:182 substring search):
    term-frequency saturation (k1) and length normalization (b).

    Plan: per-term tf is a scan-local ``size(filter(tokens, ...))``
    array expression — the corpus is never exploded for a fixed query
    (contrast the inverted-index path, which serves ad-hoc queries).
    The corpus statistics the formula needs (N, avg doc length, per-term
    document frequency) collapse map-side into ONE 1-row conditional
    aggregate that broadcasts back. Total cost at any scale: two scans,
    zero wide shuffles. idf uses the standard ln(1 + (N-df+.5)/(df+.5))
    form; the 6dp round keeps the score engine-reproducible.
    """
    toks = tokens(text_col)

    def _eq(term):
        # single-arg lambda only: a two-arg lambda would make filter()
        # pass the array INDEX as the second argument
        return lambda x: x == term

    tf_cols = [F.size(F.filter(toks, _eq(t))).alias(f"_tf_{i}")
               for i, t in enumerate(terms)]
    base = df.select(F.col(id_col), F.size(toks).alias("_dl"), *tf_cols)
    stats = base.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_dl").cast("long").alias("_sum_dl"),
        *[F.sum(F.when(F.col(f"_tf_{i}") > 0, 1).otherwise(0)).cast("long")
          .alias(f"_df_{i}") for i in range(len(terms))])
    scored = base.crossJoin(F.broadcast(stats))
    avgdl = F.col("_sum_dl").cast("double") / F.col("_n").cast("double")
    score = F.lit(0.0)
    for i in range(len(terms)):
        tf = F.col(f"_tf_{i}").cast("double")
        dfx = F.col(f"_df_{i}").cast("double")
        idf = F.log(F.lit(1.0) + (F.col("_n").cast("double") - dfx + 0.5)
                    / (dfx + 0.5))
        score = score + idf * tf * (k1 + 1) / (
            tf + k1 * (1 - b + b * F.col("_dl").cast("double") / avgdl))
    return (scored.select(F.col(id_col), F.round(score, 6).alias("bm25"))
            .filter(F.col("bm25") > 0))


def persist_bm25_store(df: DataFrame, table: str, *, id_col: str = "doc_id",
                       text_col: str = "text", n_buckets: int = 64,
                       mode: str = "overwrite") -> None:
    """Persist a corpus's BM25 serving state — the RETRIEVAL arm of the
    store family (fingerprint r10, MinHash r11, IVF-PQ r10): tokenize
    the corpus ONCE into a postings table ``(term, doc_id, tf, dl)``
    BUCKETED by term, and stamp the corpus statistics the scoring
    formula needs (N, Σdl) as table properties. Every later query then
    scores against the landed postings with ZERO corpus-side work
    (``bm25_scores_from_store``): ``bm25_scores`` re-tokenizes the full
    corpus per query today — at 100 TB that is a full text scan per
    search; here the scan is paid once at build.

    Plan shape at build: one explode + ONE shuffle on (doc, term) with
    ``dl`` carried as a grouping key (no second scan or join for doc
    length), then the bucketed write on term. ``dl`` uses the same
    ``size(tokens(...))`` the direct scorer uses, so scores are
    bit-identical. N and Σdl cover ALL docs (postings only hold docs
    that contain a term — the stats must not undercount empty docs).

    ``mode="append"`` (r13 — the delta-stats merge the r12 docstring
    named): the delta batch's postings land with the same bucketing and
    the stamped scalar stats are read-modify-written (N += Δn,
    Σdl += ΔΣdl — exact integer adds, so a probe after append is
    bit-identical to a one-shot build over old∪new; oracle-checked by
    the ``bm25_store_append`` registry query and pytest-locked). The
    append validates the store's stamped id_col/analyzer/n_buckets
    first and REFUSES a table without the stamp (nothing sound to
    merge into). CONTRACT (same as persist_minhash_store): the delta
    must be NEW docs — re-appending a landed doc double-counts its
    postings and its dl. A crash between the postings append and the
    stats re-stamp leaves stats stale-low for the delta only; rebuild
    or re-append after cleaning the partial write (a production
    metastore transaction closes this window).

    Generalizes the reference's search surface (app.py:174-186
    substring scan per request) to an indexed corpus."""
    from comix_etl_spark.sinks.writers import (clear_orphan_table_dir,
                                               save_bucketed_table,
                                               set_store_props,
                                               validate_store_props)

    if mode not in ("overwrite", "append"):
        raise ValueError(
            f"persist_bm25_store: mode must be 'overwrite' or 'append', "
            f"got {mode!r}")
    spark = df.sparkSession
    clear_orphan_table_dir(spark, table, mode)
    appending = mode == "append" and spark.catalog.tableExists(table)
    prior_n = prior_sum_dl = 0
    if appending:
        props = validate_store_props(
            spark, table, "comix.bm25",
            {"id_col": id_col,
             # key deliberately NOT named "tokenizer": SHOW
             # TBLPROPERTIES redacts keys matching
             # spark.sql.redaction.string.regex (which includes
             # "token"), so that value would read back as *(redacted)
             # and never validate
             "analyzer": "whitespace_v1", "n_buckets": n_buckets},
            "persist_bm25_store(append)")
        prior_n, prior_sum_dl = int(props["n"]), int(props["sum_dl"])
    toks = tokens(text_col)
    # tokenize ONCE per document: `dl` must be projected in a SEPARATE
    # select below the explode — projected beside the Generate it is
    # re-evaluated per exploded row, i.e. the whole document re-tokenizes
    # once per token occurrence (measured r14 at sf0.1: 4.4 s → 0.6 s
    # for the postings pass; quadratic in document length at scale)
    base = (df.select(F.col(id_col), F.size(toks).alias("dl"),
                      toks.alias("_toks"))
            .select(F.col(id_col), "dl",
                    F.explode_outer("_toks").alias("term")))
    # one aggregate produces BOTH outputs: stats ride on a grouping set?
    # — no: stats need every doc, postings only term-bearing rows, and
    # the stats frame is one row; two jobs over one shuffle-free base
    # projection are cheaper than a grouping-sets shuffle of the corpus.
    stats = (df.select(F.size(toks).alias("_dl"))
             .agg(F.count(F.lit(1)).cast("long").alias("n"),
                  F.coalesce(F.sum("_dl"), F.lit(0)).cast("long")
                  .alias("sum_dl"))
             .first())
    posts = (base.filter(F.col("term").isNotNull())
             .groupBy("term", id_col, "dl")
             .agg(F.count(F.lit(1)).cast("long").alias("tf")))
    if appending:
        # crash-window protocol (r14 — VERDICT r13 #5): the append is
        # two non-atomic steps (postings write, stats re-stamp). Stamp
        # PENDING first; the final stamp below flips to committed in
        # the same statement that lands the merged stats — so a crash
        # anywhere between leaves an observable pending store that
        # probes/appends REFUSE (require_store_committed) instead of
        # serving stale-low N/Σdl. This closes in-engine the window
        # the r13 docstring deferred to a production metastore.
        set_store_props(spark, table, "comix.bm25",
                        {"state": "pending"})
    save_bucketed_table(posts, table, ["term"], n_buckets,
                        sort_cols=["term"], mode=mode)
    set_store_props(spark, table, "comix.bm25",
                    {"n": prior_n + stats["n"],
                     "sum_dl": prior_sum_dl + stats["sum_dl"],
                     "id_col": id_col, "analyzer": "whitespace_v1",
                     "n_buckets": n_buckets, "state": "committed"})


def bm25_scores_from_store(spark, table: str, terms: list[str], *,
                           k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Okapi BM25 against a PERSISTED postings store
    (``persist_bm25_store``) — output-identical to ``bm25_scores`` on
    the same corpus (pytest-locked + oracle-checked via the
    ``bm25_store_probe`` registry query), with per-query cost bounded
    by the query's posting lists, not the corpus: the scan hits ONLY
    the buckets holding the query terms (term is the bucketing column,
    so the literal IN filter bucket-prunes), per-term document
    frequency falls out of the probed postings themselves (df(t) ==
    rows of t — postings exist only where tf > 0), and N / Σdl come
    from the stamped table properties. Zero tokenization, zero wide
    shuffle: the groupBy key (doc) is bounded by the fetched postings.

    Determinism: per-term contributions are pivoted into columns and
    summed in the caller's term order starting from 0.0 — the same
    IEEE addition sequence as ``bm25_scores`` (a tf=0 term contributes
    exactly 0.0 there, and +0.0 is exact), so the 6dp rounds agree
    bit-for-bit (the mixture_plan r11 lesson: summation ORDER is part
    of the contract when an oracle hashes the output)."""
    from comix_etl_spark.sinks.writers import require_store_committed

    props = require_store_committed(spark, table, "comix.bm25",
                                    "bm25_scores_from_store")
    n = int(props["n"])
    sum_dl = int(props["sum_dl"])
    id_col = props.get("id_col", "doc_id")
    if not terms:
        # mirror bm25_scores' edge behavior (empty frame, not a
        # groupBy().agg() error) — the two paths are output-identical
        # by contract, including on a degenerate query
        from pyspark.sql import types as T

        id_type = spark.table(table).schema[id_col].dataType
        return spark.createDataFrame([], T.StructType([
            T.StructField(id_col, id_type),
            T.StructField("bm25", T.DoubleType())]))
    avgdl = float(sum_dl) / float(n) if n else 0.0
    uniq = sorted(set(terms))
    posts = spark.table(table).filter(F.col("term").isin(uniq))
    # df(t) from the probed postings — tiny (≤ |terms| rows), broadcast
    dfc = posts.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("_df"))
    tf = F.col("tf").cast("double")
    dfx = F.col("_df").cast("double")
    idf = F.log(F.lit(1.0) + (F.lit(float(n)) - dfx + 0.5) / (dfx + 0.5))
    contrib = idf * tf * (k1 + 1) / (
        tf + k1 * (1 - b + b * F.col("dl").cast("double") / F.lit(avgdl)))
    scored = (posts.join(F.broadcast(dfc), "term")
              .withColumn("_c", contrib))
    # pivot to one column per QUERY term (duplicates included), then sum
    # in term order — the exact addition sequence of bm25_scores
    per_doc = scored.groupBy(id_col).agg(
        *[F.max(F.when(F.col("term") == t, F.col("_c"))).alias(f"_c{i}")
          for i, t in enumerate(terms)])
    score = F.lit(0.0)
    for i in range(len(terms)):
        score = score + F.coalesce(F.col(f"_c{i}"), F.lit(0.0))
    return (per_doc.select(F.col(id_col), F.round(score, 6).alias("bm25"))
            .filter(F.col("bm25") > 0))


def bm25_store_stats(spark, table: str, *, top_n: int = 20) -> DataFrame:
    """Index-health introspection for a persisted BM25 postings store
    (``persist_bm25_store``): the ``top_n`` heaviest terms by document
    frequency, with their total term occurrences — the Zipf head that
    owns the store's hottest buckets.

    Why it matters at 100 TB: term buckets are hash-partitioned but
    term POSTINGS are Zipfian — a handful of stopword-like terms own
    posting lists the size of the corpus, and any query touching one
    pays a near-corpus scan while the plan still bucket-prunes
    "correctly". This report is the periodic check that finds them
    (feed the head into a stopword/term-cap policy before it finds
    you). Cost: one aggregate over the landed postings keyed on term
    (map-side partials collapse the Zipf head), zero tokenization —
    df(t) is the row count of t, total_tf the sum of its tf column."""
    from comix_etl_spark.sinks.writers import require_store_committed

    require_store_committed(spark, table, "comix.bm25",
                            "bm25_store_stats")
    posts = spark.table(table)
    per_term = posts.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("total_tf"))
    # TakeOrdered bounds the head BEFORE the rank window, so the
    # single-partition window sees top_n rows, never the vocabulary
    top = per_term.orderBy(F.col("df").desc(), F.col("term")).limit(top_n)
    w = Window.orderBy(F.col("df").desc(), F.col("term"))
    return (top.withColumn("rank", F.row_number().over(w).cast("long"))
            .select("rank", "term", "df", "total_tf"))


def char_bigram_counts(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus-wide adjacent character-pair frequencies — the statistic
    behind the FIRST merge step of BPE tokenizer training (Sennrich et
    al. 2016, public): the most frequent pair is the first merge rule.
    Iterating merges re-runs this count on re-paired symbols; one round
    is the Spark-shaped primitive (the re-pairing loop is driver logic
    over a shrinking vocabulary, not a new operator).

    Plan: tokenize scan-local, slice every token into its adjacent
    2-grams with a codegen'd sequence+substr transform (tokens shorter
    than 2 chars contribute nothing), explode, and count. The explode
    is linear in corpus characters; the aggregate's key space is the
    character-pair alphabet (tiny), so map-side partial aggregation
    collapses almost everything before the one shuffle.
    """
    toks = (df.select(F.explode(tokens(text_col)).alias("_tok"))
            .filter(F.length("_tok") >= 2))
    pairs = toks.select(F.explode(F.expr(
        "transform(sequence(1, length(_tok) - 1), i -> substr(_tok, i, 2))"
    )).alias("pair"))
    return pairs.groupBy("pair").agg(F.count(F.lit(1)).cast("long").alias("n"))
