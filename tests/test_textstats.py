"""Corpus-statistics operator tests: chunking windows, TF-IDF ranking
determinism, inverted-index posting cap. (These operators are also
oracle-checked end-to-end by the chunk_documents / tfidf_top_terms
registry queries; here we pin the edge-case semantics.)"""

from __future__ import annotations

from comix_etl_spark.operators import textstats as TS


def test_chunk_documents_windows_and_empty_doc(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, ""), (3, "   "), (4, "solo")],
        "doc_id long, text string")
    out = TS.chunk_documents(df, "doc_id", "text", chunk_size=2)
    rows = {(r.doc_id, r.chunk_id): (r.chunk_text, r.n_tokens) for r in out.collect()}
    # doc 1: 5 tokens / window 2 → [a b], [c d], [e]
    assert rows[(1, 0)] == ("a b", 2)
    assert rows[(1, 1)] == ("c d", 2)
    assert rows[(1, 2)] == ("e", 1)
    # empty / whitespace-only docs emit NO chunks
    assert not any(k[0] in (2, 3) for k in rows)
    assert rows[(4, 0)] == ("solo", 1)


def test_chunk_documents_overlapping_stride(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    out = TS.chunk_documents(df, "doc_id", "text", chunk_size=3, stride=2)
    chunks = [r.chunk_text for r in out.orderBy("chunk_id").collect()]
    assert chunks == ["a b c", "c d"]


def test_tfidf_rare_term_outranks_common(spark):
    df = spark.createDataFrame(
        [(1, "shared shared rareword"), (2, "shared filler"), (3, "shared filler")],
        "doc_id long, text string")
    out = TS.tfidf_top_terms(df, "doc_id", "text", k=1)
    top = {r.doc_id: r.term for r in out.collect()}
    # 'rareword' (df=1) beats 'shared' (df=3) for doc 1 despite lower tf
    assert top[1] == "rareword"


def test_inverted_index_posting_cap_and_totals(spark):
    rows = [(i, "hot term") for i in range(1, 8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.term: r for r in
           TS.inverted_index(df, "doc_id", "text", posting_cap=3).collect()}
    hot = out["hot"]
    assert hot.n_docs == 7 and hot.total_tf == 7
    # postings head is capped at the FIRST 3 doc ids ascending
    assert hot.postings_head == "1,2,3"


def test_repetition_stats_flags_repetitive_docs(spark):
    df = spark.createDataFrame(
        [(1, "spam spam spam spam"),          # one token repeated
         (2, "every token in this longer sentence is fully unique text"),  # no repetition
         (3, "one"),                          # single token: no bigrams
         (4, "")],                            # empty: zero everything
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           TS.repetition_stats(df, "doc_id", "text").collect()}
    assert out[1].dup_token_frac == 0.75 and out[1].top_bigram == "spam spam"
    assert out[1].top_bigram_frac == 1.0 and not out[1].keep
    assert out[2].dup_token_frac == 0.0 and out[2].keep
    assert out[3].n_tokens == 1 and out[3].top_bigram is None
    assert out[3].top_bigram_frac == 0.0
    assert out[4].n_tokens == 0 and out[4].dup_token_frac == 0.0


def test_repetition_stats_bigram_tiebreak(spark):
    # 'a b' and 'b a' both occur twice -> tie broken bigram-ascending
    df = spark.createDataFrame([(1, "a b a b a")], "doc_id long, text string")
    r = TS.repetition_stats(df, "doc_id", "text").collect()[0]
    assert r.top_bigram == "a b" and r.top_bigram_frac == 0.5


def test_contamination_check_counts_and_ratio(spark):
    from comix_etl_spark.operators.textstats import contamination_check

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [
            # shares the 5-gram "quick brown fox jumps over" (and one more)
            (1, "a quick brown fox jumps over fences daily it seems"),
            # no 5-gram overlap
            (2, "completely unrelated text with many distinct words here"),
            # too short for any 5-gram
            (3, "tiny doc"),
        ],
        "doc_id long, text string")
    out = contamination_check(corpus, bench, id_col="doc_id", text_col="text", n=5)
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1}
    r = rows[1]
    # doc 1 has 6 distinct 5-grams; exactly one ("quick brown fox jumps
    # over") also occurs in the benchmark text
    assert r.n_grams == 6
    assert r.n_hits == 1
    assert r.contam_e6 == 1_000_000 // 6


def test_dedup_spans_removes_cross_doc_repeats_keeps_min_owner(spark):
    from comix_etl_spark.operators.textstats import dedup_spans

    block = " ".join(f"w{i}" for i in range(16))        # one full span
    uniq_a = " ".join(f"a{i}" for i in range(16))
    uniq_b = " ".join(f"b{i}" for i in range(16))
    df = spark.createDataFrame(
        [(1, block + " " + uniq_a),   # owner of the shared block
         (2, block + " " + uniq_b),   # loses the shared block
         (3, uniq_b)],                # loses its only span (doc 2 owns it? no: min doc with uniq_b span is 2)
        "doc_id long, text string")
    got = {r.doc_id: r for r in
           dedup_spans(df, "doc_id", "text", chunk_size=16).collect()}
    assert got[1].n_spans == 2 and got[1].n_kept == 2
    assert got[2].n_spans == 2 and got[2].n_kept == 1      # kept only uniq_b
    assert got[2].kept_tokens == 16
    assert got[3].n_spans == 1 and got[3].n_kept == 0      # doc 2 owns uniq_b
    import hashlib
    assert got[3].new_fp == hashlib.md5(b"").hexdigest()
    assert got[2].new_fp == hashlib.md5(uniq_b.encode()).hexdigest()
    assert got[1].new_fp == hashlib.md5((block + " " + uniq_a).encode()).hexdigest()


def test_dedup_spans_identity_when_all_unique(spark):
    from comix_etl_spark.operators.textstats import dedup_spans

    df = spark.createDataFrame(
        [(i, " ".join(f"t{i}_{j}" for j in range(40))) for i in range(5)],
        "doc_id long, text string")
    for r in dedup_spans(df, "doc_id", "text", chunk_size=16).collect():
        assert r.n_spans == r.n_kept == 3                  # 40 tokens -> 3 spans
        assert r.kept_tokens == 40


def test_compress_ratio_orders_text_classes(spark):
    """Repetitive text must compress far below prose; high-entropy
    text must barely compress — the ordering the quality gate relies on."""
    import random

    from comix_etl_spark.functions.text import compress_ratio_pandas

    rng = random.Random(7)
    noise = " ".join("".join(rng.choices("abcdefghijklmnopqrstuvwxyz0123456789", k=8))
                     for _ in range(60))
    rows = [
        (1, "spam " * 200),
        (2, "The quick brown fox jumps over the lazy dog and keeps going "
            "through fields of barley under a wide autumn sky. " * 5),
        (3, noise),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r["ratio"]
           for r in df.select("doc_id",
                              compress_ratio_pandas("text").alias("ratio")).collect()}
    assert got[1] < got[2] < got[3]
    assert got[1] < 100_000       # repetitive: compresses to <10%
    assert got[3] > 600_000       # noise: stays >60%


def test_bm25_orders_by_term_density(spark):
    """More query-term occurrences (at comparable length) must score
    higher; documents with no query term must not appear."""
    from comix_etl_spark.operators.textstats import bm25_scores

    df = spark.createDataFrame(
        [(1, "spark merge spark window extra pad pad"),
         (2, "spark pad pad pad pad pad pad"),
         (3, "nothing relevant here at all pad pad")],
        "doc_id long, text string")
    got = {r.doc_id: r.bm25
           for r in bm25_scores(df, "doc_id", "text",
                                ["spark", "merge", "window"]).collect()}
    assert set(got) == {1, 2}
    assert got[1] > got[2] > 0


def test_bm25_length_normalization(spark):
    """Same tf: the shorter document outranks the longer one (b > 0)."""
    from comix_etl_spark.operators.textstats import bm25_scores

    df = spark.createDataFrame(
        [(1, "spark pad"),
         (2, "spark " + "pad " * 30)],
        "doc_id long, text string")
    got = {r.doc_id: r.bm25
           for r in bm25_scores(df, "doc_id", "text", ["spark"]).collect()}
    assert got[1] > got[2]


def test_char_bigram_counts_hand_graded(spark):
    """'aaa ab x' → pairs aa, aa, ab; single-char tokens contribute
    nothing."""
    from comix_etl_spark.operators.textstats import char_bigram_counts

    df = spark.createDataFrame([(1, "aaa ab x")], "doc_id long, text string")
    got = {r.pair: r.n for r in char_bigram_counts(df, "text").collect()}
    assert got == {"aa": 2, "ab": 1}


def test_exact_substring_dedup_hand_case(spark):
    """An 8-token run duplicated at a DIFFERENT offset in doc 2 must be
    removed from doc 2 (doc 1 owns it); doc 3 shares nothing >= k and
    survives intact; a doc duplicated wholesale reconstructs to the
    empty fingerprint."""
    import hashlib

    from comix_etl_spark.operators.textstats import exact_substring_dedup

    run = "c d e f g h i j"                       # the duplicated run
    rows = [(1, f"a b {run}"),                    # owner (min doc_id)
            (2, f"x y {run} z"),                  # run embedded at offset 2
            (3, "p q r s t u v w"),               # unique 8 tokens
            (4, f"a b {run}")]                    # exact copy of doc 1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           exact_substring_dedup(df, "doc_id", "text", k=8).collect()}

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert (got[1].n_tokens, got[1].dup_tokens) == (10, 0)
    assert got[1].new_fp == md5(f"a b {run}")
    # doc 2: only the exact 8-token windows that also appear in doc 1
    # count as duplicated — the run itself, not the x/y/z flanks
    assert got[2].n_tokens == 11
    assert got[2].dup_tokens == 8                 # exactly the run
    assert got[2].new_fp == md5("x y z")
    assert (got[3].dup_tokens, got[3].new_fp) == (0, md5("p q r s t u v w"))
    # doc 4 = verbatim copy of doc 1 -> fully removed
    assert got[4].dup_tokens == 10
    assert got[4].new_fp == md5("")


def test_exact_substring_dedup_matches_brute_force(spark):
    """Independent per-row Python mirror of the anchor semantics over a
    randomized corpus with planted duplicates."""
    import hashlib
    import random

    from comix_etl_spark.operators.textstats import exact_substring_dedup

    rng = random.Random(77)
    vocab = [f"w{i}" for i in range(30)]
    boiler = " ".join(rng.choice(vocab) for _ in range(9))
    docs = []
    for i in range(24):
        body = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 18)))
        if i % 3 == 0:   # plant the boilerplate at a random offset
            cut = rng.randint(0, len(body.split()))
            w = body.split()
            body = " ".join(w[:cut] + boiler.split() + w[cut:])
        docs.append((i, body))
    k = 5

    # brute force: global anchor registry, first (doc, p) owns
    anchors = {}
    for d, t in docs:
        w = t.lower().split()
        for p in range(len(w) - k + 1):
            anchors.setdefault(" ".join(w[p:p + k]), []).append((d, p))
    removed = {d: set() for d, _ in docs}
    for occ in anchors.values():
        for d, p in sorted(occ)[1:]:
            removed[d].update(range(p, p + k))
    expect = {}
    for d, t in docs:
        w = t.lower().split()
        kept = " ".join(w[i] for i in range(len(w)) if i not in removed[d])
        expect[d] = (len(w), len(removed[d]),
                     hashlib.md5(kept.encode()).hexdigest())

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.dup_tokens, r.new_fp) for r in
           exact_substring_dedup(df, "doc_id", "text", k=k).collect()}
    assert got == expect


def test_bpe_train_matches_reference_implementation(spark):
    """The distributed trainer must reproduce the classic in-memory BPE
    (Sennrich et al.) merge-for-merge on a corpus with planted repeats,
    including the overlapping-pair count and greedy fusion semantics."""
    from collections import Counter

    from comix_etl_spark.operators.textstats import bpe_train

    docs = [(1, "banana bandana banana"), (2, "ban banana bandana"),
            (3, "aaaa aaaa banana na na na")]

    # reference: word-freq dict, chars, argmax (count desc, pair asc)
    vocab = Counter(w for _, t in docs for w in t.lower().split())
    seg = {w: list(w) for w in vocab}
    expect = []
    for step in range(1, 7):
        counts = Counter()
        for w, f in vocab.items():
            s = seg[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += f
        if not counts:
            break
        (l, r), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        expect.append((step, l, r, cnt))
        for w in seg:
            s, out = seg[w], []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seg[w] = out

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = [(r.step, r.merge_left, r.merge_right, r.pair_count)
           for r in bpe_train(df, "text", n_merges=6)
           .orderBy("step").collect()]
    assert got == expect, (got, expect)


def test_bpe_tokenize_counts_match_learned_segmentation(spark):
    """Applying the learned merges back to the corpus: per-doc BPE token
    counts must equal the reference segmentation's subword counts, and
    compress (token count strictly below character count, at or above
    word count)."""
    from collections import Counter

    from comix_etl_spark.operators.textstats import bpe_tokenize

    docs = [(1, "banana bandana banana"), (2, "ban banana bandana"),
            (3, ""), (4, "banana")]

    # reference: learn 4 merges exactly like the bpe_train test
    vocab = Counter(w for _, t in docs for w in t.lower().split())
    seg = {w: list(w) for w in vocab}
    for _ in range(4):
        counts = Counter()
        for w, f in vocab.items():
            s = seg[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += f
        if not counts:
            break
        (l, r), _ = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        for w in seg:
            s, out, i = seg[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    out.append(l + r); i += 2
                else:
                    out.append(s[i]); i += 1
            seg[w] = out
    expect = {d: (len(t.lower().split()),
                  sum(len(seg[w]) for w in t.lower().split()))
              for d, t in docs}

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.n_words, r.n_bpe_tokens)
           for r in bpe_tokenize(df, "doc_id", "text", n_merges=4).collect()}
    assert got == expect
    assert got[3] == (0, 0)


def test_bpe_train_empty_and_degenerate_corpora(spark):
    """No tokens at all -> empty merge table with the right schema;
    single-char vocab -> zero pairs, trainer stops without error."""
    from comix_etl_spark.operators.textstats import bpe_train

    empty = spark.createDataFrame([(1, ""), (2, "   ")],
                                  "doc_id long, text string")
    out = bpe_train(empty, "text", n_merges=4)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "step", "merge_left", "merge_right", "pair_count"]

    chars = spark.createDataFrame([(1, "a b c a b")],
                                  "doc_id long, text string")
    assert bpe_train(chars, "text", n_merges=4).count() == 0


def test_exact_substring_dedup_all_docs_below_k(spark):
    """Docs shorter than the anchor width produce no anchors: nothing
    is removed and every doc reconstructs to itself."""
    import hashlib

    from comix_etl_spark.operators.textstats import exact_substring_dedup

    df = spark.createDataFrame(
        [(1, "short text"), (2, "short text"), (3, "")],
        "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.dup_tokens, r.new_fp)
           for r in exact_substring_dedup(df, "doc_id", "text", k=8).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert got[1] == (2, 0, md5("short text"))
    assert got[2] == (2, 0, md5("short text"))   # exact dup but < k: kept
    assert got[3] == (0, 0, md5(""))


def test_dedup_spans_within_document_repeats(spark):
    """Review fix: a block repeated INSIDE one document keeps exactly
    one copy (first occurrence) — min-doc-only ownership used to keep
    every within-doc copy."""
    import hashlib

    from comix_etl_spark.operators.textstats import dedup_spans

    block = " ".join(f"w{i}" for i in range(16))
    df = spark.createDataFrame([(1, f"{block} {block}")],
                               "doc_id long, text string")
    row = dedup_spans(df, "doc_id", "text", chunk_size=16).collect()[0]
    assert (row.n_spans, row.n_kept, row.kept_tokens) == (2, 1, 16)
    assert row.new_fp == hashlib.md5(block.encode()).hexdigest()


def test_bigram_lm_scores_keeps_short_docs(spark):
    from comix_etl_spark.operators.textstats import bigram_lm_scores

    df = spark.createDataFrame([(1, "hello"), (2, "a b a b"), (3, "")],
                               "doc_id long, text string")
    got = {r.doc_id: (r.n_bigrams, r.lm_score_e6)
           for r in bigram_lm_scores(df, "doc_id", "text").collect()}
    assert set(got) == {1, 2, 3}          # short docs are NOT dropped
    assert got[1] == (0, None) and got[3] == (0, None)
    assert got[2][0] == 3


def test_chunk_documents_rejects_zero_stride(spark):
    import pytest

    from comix_etl_spark.operators.textstats import chunk_documents

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="stride"):
        chunk_documents(df, "doc_id", "text", chunk_size=4, stride=0)


def test_bm25_store_probe_matches_direct(spark, sf_small):
    """The persisted BM25 store (r12): probing the landed postings must
    return EXACTLY bm25_scores' output on the same corpus — same docs,
    bit-identical 6dp scores (the probe reproduces the direct path's
    IEEE summation order). Empty-term docs count toward N/avgdl via the
    stamped stats; a store without stamped stats refuses; append
    refuses (stats would go stale)."""
    import pytest as _pt
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    terms = ["spark", "merge", "window"]
    direct = {r.doc_id: r.bm25
              for r in TS.bm25_scores(docs, "doc_id", "text", terms).collect()}
    TS.persist_bm25_store(docs, "bm25_store_t", id_col="doc_id",
                          text_col="text")
    try:
        probe = {r.doc_id: r.bm25
                 for r in TS.bm25_scores_from_store(
                     spark, "bm25_store_t", terms).collect()}
        assert probe == direct and len(direct) > 0
        with _pt.raises(ValueError, match="mode must be"):
            TS.persist_bm25_store(docs, "bm25_store_t", mode="ignore")
        # un-stamped table → loud refusal, not silently-wrong stats
        spark.range(1).select(F.lit("x").alias("term"))             .write.saveAsTable("bm25_unstamped_t")
        with _pt.raises(ValueError, match="stamped"):
            TS.bm25_scores_from_store(spark, "bm25_unstamped_t", terms)
    finally:
        spark.sql("DROP TABLE IF EXISTS bm25_store_t")
        spark.sql("DROP TABLE IF EXISTS bm25_unstamped_t")


def test_bm25_store_delta_append_matches_one_shot_build(spark, sf_small):
    """The r13 delta-stats merge: build on half the corpus, APPEND the
    other half, and the probe must be bit-identical to (a) a one-shot
    build over the union and (b) the direct bm25_scores on the union —
    N/Σdl are exact integer adds, df falls out of the unioned postings.
    Append validates layout and refuses an unstamped table."""
    import pytest as _pt
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    terms = ["spark", "merge", "window"]
    try:
        TS.persist_bm25_store(base, "bm25_app_t", id_col="doc_id",
                              text_col="text")
        TS.persist_bm25_store(delta, "bm25_app_t", id_col="doc_id",
                              text_col="text", mode="append")
        appended = {r.doc_id: r.bm25 for r in TS.bm25_scores_from_store(
            spark, "bm25_app_t", terms).collect()}
        direct = {r.doc_id: r.bm25 for r in TS.bm25_scores(
            docs, "doc_id", "text", terms).collect()}
        assert appended == direct and len(direct) > 0
        TS.persist_bm25_store(docs, "bm25_oneshot_t", id_col="doc_id",
                              text_col="text")
        oneshot = {r.doc_id: r.bm25 for r in TS.bm25_scores_from_store(
            spark, "bm25_oneshot_t", terms).collect()}
        assert appended == oneshot
        # layout validation: a different id_col / bucket count refuses
        with _pt.raises(ValueError, match="layout mismatch"):
            TS.persist_bm25_store(delta.withColumnRenamed("doc_id", "d2"),
                                  "bm25_app_t", id_col="d2",
                                  text_col="text", mode="append")
        with _pt.raises(ValueError, match="layout mismatch"):
            TS.persist_bm25_store(delta, "bm25_app_t", id_col="doc_id",
                                  text_col="text", n_buckets=8,
                                  mode="append")
        # unstamped table (props stripped) → loud refusal: nothing
        # sound to merge the delta stats into
        spark.sql("ALTER TABLE bm25_app_t UNSET TBLPROPERTIES "
                  "('comix.bm25.n', 'comix.bm25.sum_dl', "
                  "'comix.bm25.id_col', 'comix.bm25.analyzer', "
                  "'comix.bm25.n_buckets', 'comix.bm25.state')")
        with _pt.raises(ValueError, match="no stamped"):
            TS.persist_bm25_store(delta, "bm25_app_t", id_col="doc_id",
                                  text_col="text", mode="append")
    finally:
        spark.sql("DROP TABLE IF EXISTS bm25_app_t")
        spark.sql("DROP TABLE IF EXISTS bm25_oneshot_t")


def test_bm25_store_append_crash_window_leaves_pending_and_probes_refuse(
        spark, sf_small, monkeypatch):
    """r14 (VERDICT r13 #5): the append crash window is closed
    IN-ENGINE — a crash between the postings write and the stats
    re-stamp leaves the store stamped state=pending, and every probe
    and append REFUSES it with a clear error instead of serving
    stale-low N/Σdl; a mode='overwrite' rebuild recovers."""
    import pytest as _pt
    from pyspark.sql import functions as F

    from comix_etl_spark.sinks import writers as W

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    terms = ["spark", "merge"]
    try:
        TS.persist_bm25_store(base, "bm25_crash_t", id_col="doc_id",
                              text_col="text")
        real_save = W.save_bucketed_table

        def save_then_die(*a, **kw):
            real_save(*a, **kw)          # the postings DO land ...
            raise RuntimeError("injected crash before stats re-stamp")

        monkeypatch.setattr(W, "save_bucketed_table", save_then_die)
        with _pt.raises(RuntimeError, match="injected crash"):
            TS.persist_bm25_store(delta, "bm25_crash_t", id_col="doc_id",
                                  text_col="text", mode="append")
        monkeypatch.setattr(W, "save_bucketed_table", real_save)
        # ... but the store is observably pending: every reader refuses
        assert W.get_store_props(spark, "bm25_crash_t",
                                 "comix.bm25")["state"] == "pending"
        with _pt.raises(ValueError, match="PENDING"):
            TS.bm25_scores_from_store(spark, "bm25_crash_t", terms)
        with _pt.raises(ValueError, match="PENDING"):
            TS.bm25_store_stats(spark, "bm25_crash_t")
        with _pt.raises(ValueError, match="PENDING"):
            TS.persist_bm25_store(delta, "bm25_crash_t", id_col="doc_id",
                                  text_col="text", mode="append")
        # recovery: rebuild re-stamps committed and serving resumes,
        # bit-identical to the direct scorer on the full corpus
        TS.persist_bm25_store(docs, "bm25_crash_t", id_col="doc_id",
                              text_col="text")
        got = {r.doc_id: r.bm25 for r in TS.bm25_scores_from_store(
            spark, "bm25_crash_t", terms).collect()}
        want = {r.doc_id: r.bm25 for r in TS.bm25_scores(
            docs, "doc_id", "text", terms).collect()}
        assert got == want and len(want) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS bm25_crash_t")


def test_bm25_store_append_refuses_pre_r13_stamp(spark, sf_small):
    """A store stamped by the pre-r13 layout (key 'tokenizer' —
    redacted by Spark, so never verifiable — and no 'analyzer' /
    'n_buckets') refuses an append with a layout mismatch, and a table
    with NO stamp refuses appends and probes alike: every store reads
    its layout from the stamp, never from a guess."""
    import pytest as _pt
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    try:
        TS.persist_bm25_store(base, "bm25_legacy_t", id_col="doc_id",
                              text_col="text")
        # devolve the stamp to its pre-r13 shape
        spark.sql("ALTER TABLE bm25_legacy_t UNSET TBLPROPERTIES "
                  "('comix.bm25.analyzer', 'comix.bm25.n_buckets')")
        spark.sql("ALTER TABLE bm25_legacy_t SET TBLPROPERTIES "
                  "('comix.bm25.tokenizer'='whitespace_v1')")
        with _pt.raises(ValueError, match="layout mismatch"):
            TS.persist_bm25_store(delta, "bm25_legacy_t", id_col="doc_id",
                                  text_col="text", mode="append")
        # no stamp at all
        spark.sql("ALTER TABLE bm25_legacy_t UNSET TBLPROPERTIES "
                  "('comix.bm25.tokenizer', 'comix.bm25.n', "
                  "'comix.bm25.sum_dl', 'comix.bm25.id_col', "
                  "'comix.bm25.state')")
        n_rows = spark.table("bm25_legacy_t").count()
        with _pt.raises(ValueError, match="no stamped"):
            TS.persist_bm25_store(delta, "bm25_legacy_t", id_col="doc_id",
                                  text_col="text", mode="append")
        with _pt.raises(ValueError, match="no stamped"):
            TS.bm25_scores_from_store(spark, "bm25_legacy_t", ["spark"])
        with _pt.raises(ValueError, match="no stamped"):
            TS.bm25_store_stats(spark, "bm25_legacy_t")
        assert spark.table("bm25_legacy_t").count() == n_rows
    finally:
        spark.sql("DROP TABLE IF EXISTS bm25_legacy_t")


def test_bm25_store_stats_zipf_head(spark):
    """Store health report (r13): df counts DOCUMENTS (not occurrences),
    total_tf counts occurrences, ties rank term-ascending, and the head
    is capped at top_n."""
    docs = spark.createDataFrame(
        [(1, "the the the cat"), (2, "the dog"), (3, "the cat"),
         (4, "bird")],
        "doc_id long, text string")
    TS.persist_bm25_store(docs, "bm25_stats_t", id_col="doc_id",
                          text_col="text")
    try:
        rows = [tuple(r) for r in
                TS.bm25_store_stats(spark, "bm25_stats_t", top_n=3).collect()]
        # 'the': df 3 (docs 1,2,3), tf 5; 'cat': df 2, tf 2; then the
        # df-1 tie {bird, dog} breaks term-ascending → bird
        assert rows == [(1, "the", 3, 5), (2, "cat", 2, 2),
                        (3, "bird", 1, 1)]
    finally:
        spark.sql("DROP TABLE IF EXISTS bm25_stats_t")


def test_bm25_store_probe_empty_terms_matches_direct(spark):
    """ADVICE r12: an empty terms list must return an empty
    (id_col, bm25) frame from BOTH paths — the store probe used to
    raise from groupBy().agg(*[])."""
    docs = spark.createDataFrame(
        [(1, "spark merge"), (2, "window")], "doc_id long, text string")
    TS.persist_bm25_store(docs, "bm25_empty_t", id_col="doc_id",
                          text_col="text")
    try:
        probe = TS.bm25_scores_from_store(spark, "bm25_empty_t", [])
        assert probe.columns == ["doc_id", "bm25"]
        assert probe.count() == 0
        assert TS.bm25_scores(docs, "doc_id", "text", []).count() == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS bm25_empty_t")


def test_bm25_store_probe_absent_and_duplicate_terms(spark):
    """Edge parity: a query term with ZERO postings contributes exactly
    0.0 in both paths (direct: tf=0 everywhere; probe: no rows → NULL
    pivot → coalesce 0.0), and a term duplicated in the query list is
    double-counted identically by both."""
    docs = spark.createDataFrame(
        [(1, "spark merge spark window"), (2, "merge window"),
         (3, "unrelated words only"), (4, "")],
        "doc_id long, text string")
    TS.persist_bm25_store(docs, "bm25_edge_t", id_col="doc_id",
                          text_col="text")
    try:
        for terms in (["spark", "zzz_absent"], ["spark", "spark"],
                      ["zzz_absent"]):
            direct = {r.doc_id: r.bm25 for r in
                      TS.bm25_scores(docs, "doc_id", "text", terms).collect()}
            probe = {r.doc_id: r.bm25 for r in
                     TS.bm25_scores_from_store(spark, "bm25_edge_t",
                                               terms).collect()}
            assert probe == direct, (terms, direct, probe)
    finally:
        spark.sql("DROP TABLE IF EXISTS bm25_edge_t")
