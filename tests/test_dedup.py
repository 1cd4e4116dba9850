"""Dedup operator tests: LSH recall vs exact Jaccard, SimHash sanity,
exact-dup grouping."""

from __future__ import annotations

from pyspark.sql import functions as F

from comix_etl_spark.operators import dedup as D


def test_exact_duplicates_groups_identical_content(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different text")],
        "doc_id long, text string")
    out = {r.keep_id: r.n_copies for r in D.exact_duplicates(df, "doc_id", "text").collect()}
    assert out == {1: 2, 3: 1}  # 1&2 are the same content after normalization


def test_minhash_lsh_recall_vs_exact(spark, sf_small):
    """Every high-jaccard pair (well above threshold) must be found by
    LSH with 8 bands × 4 rows; banding probability at j=0.5 is ~0.96."""
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    exact = {(r.id_a, r.id_b) for r in
             D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()}
    lsh = {(r.id_a, r.id_b) for r in
           D.minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=32, bands=8,
                               n=3, threshold=0.5).collect()}
    assert lsh <= exact or not exact  # verification step guarantees precision
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.8, f"LSH recall {recall:.2f} too low ({len(lsh)}/{len(exact)})"


def test_minhash_lsh_verified_jaccard_matches_exact(spark, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    exact = {(r.id_a, r.id_b): r.jaccard for r in
             D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3).collect()}
    lsh = {(r.id_a, r.id_b): r.jaccard for r in
           D.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.3).collect()}
    for pair, j in lsh.items():
        assert pair in exact and exact[pair] == j  # re-verification is exact


def test_simhash_identical_docs_same_sketch(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "totally unrelated words here")],
        "doc_id long, text string")
    sk = {r._id: r.simhash for r in D.simhash(df, "doc_id", "text").collect()}
    assert sk[1] == sk[2]
    assert sk[1] != sk[3]


def test_simhash_near_pairs_finds_identicals(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta eps zeta"), (2, "alpha beta gamma delta eps zeta"),
         (3, "completely different content again")],
        "doc_id long, text string")
    pairs = {(r.id_a, r.id_b): r.hamming for r in
             D.simhash_near_pairs(df, "doc_id", "text", max_hamming=3).collect()}
    assert pairs == {(1, 2): 0}


def test_shingle_df_cap_drops_boilerplate(spark):
    rows = [(i, f"common boiler plate unique{i} word{i} tail{i}") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = D.shingle_postings(df, "doc_id", "text", n=3).count()
    capped = D.shingle_postings(df, "doc_id", "text", n=3, df_cap=5).count()
    assert capped < uncapped  # the 'common boiler plate' shingle (df=10) is dropped


def test_dup_clusters_transitive_chain(spark):
    """A~B and B~C (A never compared to C) must share one keeper; the
    disjoint D~E pair keeps its own."""
    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (40, 50)], "id_a long, id_b long")
    got = {r.doc_id: r.keeper_id for r in D.dup_clusters(pairs).collect()}
    assert got == {10: 10, 20: 10, 30: 10, 40: 40, 50: 40}


def test_dup_clusters_long_path_converges(spark):
    """A path graph with diameter FAR above the round budget must still
    converge — star contraction collapses a diameter-d component in
    O(log d) rounds, not O(d) (the r4 min-label formulation would have
    needed 199 rounds here and raised)."""
    edges = [(i, i + 1) for i in range(100, 299)]  # 200-node path, diameter 199
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.doc_id: r.keeper_id
           for r in D.dup_clusters(pairs, max_iters=12,
                                   local_edge_cutoff=0).collect()}
    assert set(got.values()) == {100}
    assert len(got) == 200


def test_dup_clusters_reversed_pair_orientation(spark):
    """Pairs arriving as (big, small) must canonicalize identically."""
    pairs = spark.createDataFrame([(20, 10), (20, 30)], "id_a long, id_b long")
    got = {r.doc_id: r.keeper_id for r in D.dup_clusters(pairs).collect()}
    assert got == {10: 10, 20: 10, 30: 10}


def test_dup_clusters_raises_on_exhausted_rounds(spark):
    """Exhausting max_iters on a still-changing graph must be loud —
    silently emitting split components is data corruption."""
    import pytest

    edges = [(i, i + 1) for i in range(100, 164)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        D.dup_clusters(pairs, max_iters=1, local_edge_cutoff=0)


def test_dup_clusters_local_and_star_paths_agree(spark):
    """The single-task union-find fast path and the distributed
    star-contraction path must emit IDENTICAL min-label clusters on the
    same graph (chains, a star, a cycle, reversed orientations,
    singleton-free)."""
    edges = ([(i, i + 1) for i in range(0, 40)]          # long chain
             + [(100, k) for k in range(101, 110)]        # star
             + [(200, 201), (201, 202), (202, 200)]       # cycle
             + [(303, 300)])                              # reversed pair
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    local = {r.doc_id: r.keeper_id for r in D.dup_clusters(pairs).collect()}
    star = {r.doc_id: r.keeper_id
            for r in D.dup_clusters(pairs, local_edge_cutoff=0).collect()}
    assert local == star
    assert set(local.values()) == {0, 100, 200, 300}


def test_dup_clusters_string_ids_route_to_star_path(spark):
    """Non-integral id types (string doc ids) must work: the int64
    union-find fast path is skipped and the type-agnostic
    star-contraction tier labels clusters by lexicographic minimum."""
    edges = [("doc_b", "doc_a"), ("doc_b", "doc_c"),   # chain → doc_a
             ("x9", "x2"), ("x2", "x5")]               # chain → x2
    pairs = spark.createDataFrame(edges, "id_a string, id_b string")
    got = {r.doc_id: r.keeper_id for r in D.dup_clusters(pairs).collect()}
    assert got == {"doc_a": "doc_a", "doc_b": "doc_a", "doc_c": "doc_a",
                   "x2": "x2", "x5": "x2", "x9": "x2"}


def test_dedup_clusters_lsh_matches_exact_composition(spark, sf_small):
    """The 100 TB composition (LSH candidates → connected components)
    must produce the same clusters as the exact quadratic composition
    when LSH recall is total on the corpus."""
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    exact_pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3)
    lsh_pairs = D.minhash_lsh_pairs(docs, "doc_id", "text",
                                    num_hashes=32, bands=8, n=3, threshold=0.3)
    exact_cl = {r.doc_id: r.keeper_id for r in D.dup_clusters(exact_pairs).collect()}
    lsh_cl = {r.doc_id: r.keeper_id for r in D.dup_clusters(lsh_pairs).collect()}
    # LSH may miss borderline pairs (banding probability), never invent
    # them — so LSH clusters refine the exact ones: every LSH cluster
    # member maps into one exact cluster
    for doc, keeper in lsh_cl.items():
        assert doc in exact_cl
        assert exact_cl[doc] == exact_cl[keeper]
    # and on this corpus recall is high enough that most clusters agree
    agree = sum(1 for d in lsh_cl if lsh_cl[d] == exact_cl[d])
    assert agree / max(len(exact_cl), 1) >= 0.8


def test_ngram_df_cap_equivalent_to_dropping_hot_shingles(spark):
    """df_cap must drop pair evidence from boilerplate shingles only:
    with the cap, docs related ONLY through a hot shingle pair off less,
    while pairs sharing rare shingles keep their jaccard relationship."""
    rows = [(i, f"common boiler plate filler{i} extra{i} pad{i}") for i in range(8)]
    rows += [(100, "rare alpha beta gamma delta"), (101, "rare alpha beta gamma epsilon")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {(r.id_a, r.id_b) for r in
                D.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.1).collect()}
    capped = {(r.id_a, r.id_b) for r in
              D.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.1,
                                    df_cap=5).collect()}
    assert (100, 101) in capped  # rare-shingle pair survives
    assert capped < uncapped     # boilerplate-only pairs are gone


def test_text_near_dup_registry_threshold_binds(spark, tmp_path):
    """The registry's ngram_jaccard and dedup_clusters queries and their
    oracles all cut the 3-gram Jaccard at 0.3. Three doc pairs of 22
    tokens (20 shingles each) share a k-token prefix, so (k-2) shingles:
    Jaccard 7/33 ≈ 0.21, 11/29 ≈ 0.38 and 19/21 ≈ 0.90. Only the two
    upper pairs pass; a threshold moved to 0.5 on either side drops the
    0.38 pair there and fails the diff."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from comix_etl_spark.plans.queries import QUERIES
    from tests.oracle_diff import compare

    ids, texts = [], []
    for pair, shared in ((1, 21), (3, 13), (5, 9)):
        for side in (0, 1):
            toks = [f"p{pair}w{i}" for i in range(shared)]
            toks += [f"p{pair}s{side}x{i}" for i in range(22 - shared)]
            ids.append(pair + side)
            texts.append(" ".join(toks))
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}),
                   sf / "documents.parquet")
    pairs = QUERIES["ngram_jaccard"].builder(spark, str(sf))
    clusters = QUERIES["dedup_clusters"].builder(spark, str(sf))
    with duckdb.connect() as duck:
        duck.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')")
        compare(pairs, duck, QUERIES["ngram_jaccard"].oracle)
        compare(clusters, duck, QUERIES["dedup_clusters"].oracle)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert set(got) == {(1, 2), (3, 4)}, got
    assert abs(got[(3, 4)] - 11 / 29) < 1e-4
    assert sorted(tuple(r) for r in clusters.collect()) == [(1, 1), (2, 1), (3, 3), (4, 3)]


def test_dedup_against_corpus_finds_planted_matches(spark):
    """Batch docs: one exact copy of a corpus doc, one half-overlap
    near-dup, one unique. The screen must return the copy (jaccard 1.0)
    and the near-dup with its BEST corpus match, and omit the unique."""
    from comix_etl_spark.operators.dedup import dedup_against_corpus

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [(1, base),
         (2, "one two three four five six seven eight nine ten"),
         (3, "red orange yellow green blue indigo violet pink")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        # near-dup shares 7 of doc 1's 8 shingles (J = 7/9 ≈ 0.78):
        # with 16 single-row bands the collision odds are 1-(1-s)^16,
        # indistinguishable from certain, and the fixed hash family
        # makes the outcome reproducible run to run
        [(10, base),                                        # exact copy of 1
         (20, f"{base.rsplit(' ', 1)[0]} nope1"),           # near-dup of 1
         (30, "totally unrelated words without any overlap here")],
        "doc_id long, text string")

    got = {r.doc_id: (r.match_id, r.jaccard) for r in dedup_against_corpus(
        batch, corpus, "doc_id", "text",
        num_hashes=16, bands=16, n=3, threshold=0.2).collect()}
    assert got[10] == (1, 1.0)
    assert got[20][0] == 1 and 0.7 <= got[20][1] < 1.0
    assert 30 not in got


def test_dedup_against_corpus_empty_sides(spark):
    """Empty corpus -> no matches (everything novel); empty batch ->
    empty result. Neither errors."""
    from comix_etl_spark.operators.dedup import dedup_against_corpus

    schema = "doc_id long, text string"
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], schema)
    empty = spark.createDataFrame([], schema)
    assert dedup_against_corpus(docs, empty, "doc_id", "text").count() == 0
    assert dedup_against_corpus(empty, docs, "doc_id", "text").count() == 0


def test_url_dedup_collapses_variants_elects_keeper_and_caps_host(spark):
    """Five surface variants of one page collapse to one keeper (max
    quality, tie -> min id); per-host cap keeps the top-quality pages;
    NULL URLs drop."""
    from comix_etl_spark.operators.dedup import url_dedup

    rows = [
        # page A on host h1 — 3 crawl variants, quality elects id=2
        (1, "https://www.h1.com/p/a?utm_source=x", 10.0),
        (2, "http://h1.com/p/a", 30.0),
        (3, "h1.com/p/a/#frag", 20.0),
        # page B on h1, lower quality than A
        (4, "https://h1.com/p/b", 5.0),
        # page C on h1, lowest — capped out at per_host_cap=2
        (5, "https://h1.com/p/c", 1.0),
        # h2: one page; NULL url dropped
        (6, "https://h2.com:443/q", 9.0),
        (7, None, 99.0),
    ]
    df = spark.createDataFrame(rows, "id long, url string, q double")
    out = {r.id: r for r in url_dedup(
        df, url_col="url", id_col="id", quality_col="q",
        per_host_cap=2).collect()}
    assert set(out) == {2, 4, 6}, out
    assert out[2].n_variants == 3 and out[2].canon_url == "h1.com/p/a"
    assert out[6].host == "h2.com"

    # quality tie -> min id wins deterministically
    tie = spark.createDataFrame(
        [(9, "https://t.com/x", 1.0), (8, "http://t.com/x?fbclid=z", 1.0)],
        "id long, url string, q double")
    got = url_dedup(tie, url_col="url", id_col="id",
                    quality_col="q").collect()
    assert [r.id for r in got] == [8]
    assert got[0].n_variants == 2


def test_url_dedup_host_cap_gets_window_group_limit(spark):
    """r8: the row_number <= cap filter must keep compiling to Catalyst's
    two-sided WindowGroupLimit (map-side partial top-cap + reduce-side
    final), which is what bounds a hot host's reduce input to
    cap * #map-tasks rows. An explicit salted two-phase top-N was
    measured r8 and removed — it duplicated this optimization one
    exchange slower (PLANS.md "url_dedup host cap")."""
    import io
    from contextlib import redirect_stdout

    from comix_etl_spark.operators.dedup import url_dedup

    rows = [(i, f"https://h{i % 3}.com/p/{i}", float(i % 7))
            for i in range(60)]
    df = spark.createDataFrame(rows, "id long, url string, q double")
    out = url_dedup(df, url_col="url", id_col="id", quality_col="q",
                    per_host_cap=5)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # count DISTINCT WindowGroupLimit nodes in the TREE section only
    # (formatted explain = tree, blank line, then per-node details —
    # counting the whole output double-counts each node via its detail
    # header, which is an explain-formatting quirk, not a plan
    # property). The two-sided map+reduce shape has exactly two nodes
    # (Partial + Final); a one-sided plan has one and must FAIL here.
    tree = plan.split("\n\n", 1)[0]
    n_wgl = sum("WindowGroupLimit" in ln for ln in tree.splitlines())
    assert n_wgl == 2, (n_wgl, plan)
    # and the cap itself is correct
    got = out.collect()
    per_host = {}
    for r in got:
        per_host[r.host] = per_host.get(r.host, 0) + 1
    assert all(v == 5 for v in per_host.values()), per_host


def _raw8(px_rows):
    """RAW8 payload from a list of pixel rows."""
    h = len(px_rows); w = len(px_rows[0])
    return b"RW8" + bytes([w, h]) + bytes(b for row in px_rows for b in row)


def test_image_dhash_brightness_invariant_and_resize(spark):
    """dHash is invariant under uniform brightness shift; the area-mean
    resize reduces a 4x-upscaled image to the same fingerprint as its
    9x8 base; undecodable payloads yield NULL."""
    import random

    from comix_etl_spark.multimodal.media import image_dhash

    rng = random.Random(7)
    base = [[rng.randrange(0, 200) for _ in range(9)] for _ in range(8)]
    bright = [[v + 40 for v in row] for row in base]
    up4 = [[base[r // 4][c // 4] for c in range(36)] for r in range(32)]
    rows = [(0, _raw8(base)), (1, _raw8(bright)), (2, _raw8(up4)),
            (3, b"NOTANIMAGE"), (4, b"RW8\x09\x08short")]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r.dhash for r in image_dhash(df).collect()}
    assert got[0] is not None and got[0] >= 0
    assert got[1] == got[0], "uniform brightness must not change dHash"
    assert got[2] == got[0], "area-mean downscale of 4x upscale must agree"
    assert got[3] is None and got[4] is None


def test_image_dhash_sub_grid_images_quarantined(spark):
    """Valid RAW8 images SMALLER than the 9x8 dHash grid must yield
    NULL (quarantine), not a garbage fingerprint: _area_resize would
    assign zero-width source blocks (0/0 -> nan) and distinct tiny
    images would collapse onto similar nan-driven bit patterns,
    silently deleting valid images as near-dups. NULL ids are dropped
    before the decode stage (int(mid) on NULL fails the Arrow batch)."""
    from comix_etl_spark.multimodal.media import image_dhash

    tiny_1x1 = _raw8([[120]])
    tiny_8x8 = _raw8([[(r * 7 + c) % 255 for c in range(8)]
                      for r in range(8)])          # width < DHASH_W
    tiny_9x7 = _raw8([[(r * 5 + c) % 255 for c in range(9)]
                      for r in range(7)])          # height < DHASH_H
    ok_9x8 = _raw8([[(r * 11 + c * 3) % 255 for c in range(9)]
                    for r in range(8)])
    rows = [(0, tiny_1x1), (1, tiny_8x8), (2, tiny_9x7), (3, ok_9x8),
            (None, ok_9x8)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = image_dhash(df).collect()
    got = {r.media_id: r.dhash for r in out}
    assert got[0] is None and got[1] is None and got[2] is None, got
    assert got[3] is not None and got[3] >= 0
    assert None not in got and len(out) == 4, "NULL ids must be dropped"


def test_audio_fingerprint_null_ids_dropped(spark):
    """audio_energy_fingerprint drops NULL media_id rows instead of
    failing the whole Arrow stage on int(None)."""
    from comix_etl_spark.multimodal.media import audio_energy_fingerprint

    rows = [(1, b"not-a-wav"), (None, b"not-a-wav")]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = audio_energy_fingerprint(df).collect()
    assert len(out) == 1 and out[0].media_id == 1 and out[0].afp is None


def test_hamming_band_pairs_banding_recall(spark):
    """Pigeonhole guarantee: every pair within Hamming <= n_bands-1 is
    found through the band join; far fingerprints yield no pair."""
    from comix_etl_spark.operators.dedup import hamming_band_pairs

    base = (1 << 50) | (1 << 30) | (1 << 3)
    rows = [(0, base),
            (1, base ^ (1 << 5)),            # hamming 1
            (2, base ^ (1 << 5) ^ (1 << 44)),  # hamming 2 from 0
            (3, (1 << 62) - 123),             # far away
            (4, None)]                        # undecodable, dropped
    df = spark.createDataFrame(rows, "media_id long, dhash long")
    got = {(r.id_a, r.id_b): r.hamming
           for r in hamming_band_pairs(df, fp_cols=["dhash"],
                                       max_hamming=2).collect()}
    assert got[(0, 1)] == 1 and got[(0, 2)] == 2 and got[(1, 2)] == 1
    assert all(3 not in p and 4 not in p for p in got), got
    # guard rails: voiding the pigeonhole guarantee is an error
    import pytest as _pt
    with _pt.raises(ValueError):
        hamming_band_pairs(df, fp_cols=["dhash"], max_hamming=7, n_bands=7)


def test_image_dedup_keeper_election(spark):
    """min-id ownership: within a near-dup set the smallest id is kept,
    every other member is removed; n_near counts verified pairs."""
    from comix_etl_spark.operators.dedup import image_dedup

    rng_px = [[(r * 11 + c * 13) % 200 for c in range(9)] for r in range(8)]
    shifted = [[v + 9 for v in row] for row in rng_px]
    other = [[(200 - r * 17 - c * 7) % 200 for c in range(9)]
             for r in range(8)]
    rows = [(10, _raw8(rng_px)), (11, _raw8(shifted)), (12, _raw8(other)),
            (13, b"garbage")]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r for r in image_dedup(df).collect()}
    assert 10 in got and 11 not in got, got
    assert got[10].n_near == 1
    assert 12 in got and got[12].n_near == 0
    assert 13 not in got  # undecodable: quarantined, not clustered


def test_image_dhash_wide_limbs_and_invariance(spark):
    """Wide fingerprint (n_limbs=2): dhash_h equals the 63-bit one-limb
    dhash; dhash_v is invariant under brightness shift and area resize
    like the h-limb; sub-grid and undecodable payloads quarantine BOTH
    limbs to NULL; n_limbs outside 1-4 raises."""
    import random

    import pytest as _pt

    from comix_etl_spark.multimodal.media import image_dhash

    rng = random.Random(11)
    base = [[rng.randrange(0, 200) for _ in range(9)] for _ in range(8)]
    bright = [[v + 31 for v in row] for row in base]
    up4 = [[base[r // 4][c // 4] for c in range(36)] for r in range(32)]
    sub_8x8 = [[(r * 7 + c) % 255 for c in range(8)] for r in range(8)]
    rows = [(0, _raw8(base)), (1, _raw8(bright)), (2, _raw8(up4)),
            (3, b"junk"), (4, _raw8([[9]])), (5, _raw8(sub_8x8))]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    fps = image_dhash(df, n_limbs=2)
    assert fps.columns == ["media_id", "dhash_h", "dhash_v"], fps.columns
    wide = {r.media_id: (r.dhash_h, r.dhash_v) for r in fps.collect()}
    narrow = {r.media_id: r.dhash for r in image_dhash(df).collect()}
    assert wide[0][0] == narrow[0], "h-limb must equal 63-bit dHash"
    assert wide[0][1] is not None and wide[0][1] >= 0
    assert wide[1] == wide[0], "brightness shift must not change limbs"
    assert wide[2] == wide[0], "area-mean downscale must agree"
    for i in (3, 4, 5):
        assert wide[i] == (None, None), f"quarantine of payload {i}"
    for bad in (0, 5):
        with _pt.raises(ValueError):
            image_dhash(df, n_limbs=bad)


def test_hamming_band_pairs_two_limb_pigeonhole(spark):
    """126-bit banding: pairs within max_hamming over the CONCATENATED
    space are found even when the flips straddle both limbs and sit on
    a band that spans the limb boundary; far pairs and partial-NULL
    rows drop; guard rails on band width and recall hold."""
    import pytest as _pt

    from comix_etl_spark.operators.dedup import hamming_band_pairs

    h0 = (1 << 60) | (1 << 31) | 5
    v0 = (1 << 44) | (1 << 2)
    rows = [
        (0, h0, v0),
        (1, h0 ^ (1 << 62), v0 ^ 1),             # 1 flip each limb -> ham 2
        (2, h0, v0 ^ (1 << 20) ^ (1 << 21)),     # 2 flips in v      -> ham 2
        (3, h0 ^ 0b111111, v0 ^ 0b111),          # ham 9: too far
        (4, None, v0),                            # partial NULL: dropped
        (5, h0, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, h long, v long")
    got = {(r.id_a, r.id_b): r.hamming
           for r in hamming_band_pairs(df, fp_cols=["h", "v"],
                                       max_hamming=4).collect()}
    assert got[(0, 1)] == 2 and got[(0, 2)] == 2 and got[(1, 2)] == 4
    assert all(i not in p for p in got for i in (3, 4, 5)), got
    with _pt.raises(ValueError):  # 126 bits / 1 band > 63-bit band value
        hamming_band_pairs(df, fp_cols=["h", "v"], max_hamming=0, n_bands=1)
    with _pt.raises(ValueError):  # recall guarantee voided
        hamming_band_pairs(df, fp_cols=["h", "v"], max_hamming=5, n_bands=5)


def test_fingerprint_store_no_exchange_pairing(spark):
    """The persisted bucketed fingerprint store: the (band, bv)
    self-join runs with ZERO Exchange (the shuffle was paid once at
    write), the pairs are identical to the direct hamming_band_pairs
    computation, and reading with a max_hamming that voids the stored
    band layout's recall guarantee raises."""
    import pytest as _pt

    from comix_etl_spark.operators.dedup import (
        hamming_band_pairs, near_dup_pairs_from_store,
        persist_fingerprint_store)

    base = (1 << 55) | (1 << 21) | 9
    rows = ([(i, base ^ (1 << (i * 3))) for i in range(12)]
            + [(50, (1 << 61) - 77), (51, None)])
    fps = spark.createDataFrame(rows, "media_id long, dhash long")
    persist_fingerprint_store(fps, "fp_store_t", fp_cols=["dhash"],
                              max_hamming=2)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = near_dup_pairs_from_store(spark, "fp_store_t",
                                        fp_cols=["dhash"], max_hamming=2)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the only allowed Exchange is the pair-level dropDuplicates
        # ABOVE the join; the corpus-scale join itself reuses buckets
        join_sub = plan[plan.index("SortMergeJoin"):]
        assert "Exchange" not in join_sub, join_sub
        direct = sorted(map(tuple,
                            hamming_band_pairs(fps, fp_cols=["dhash"],
                                               max_hamming=2).collect()))
        stored = sorted(map(tuple, out.collect()))
        assert direct == stored and len(stored) > 0
        with _pt.raises(ValueError):
            near_dup_pairs_from_store(spark, "fp_store_t",
                                      fp_cols=["dhash"], max_hamming=5)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS fp_store_t")


_LIMB_BASES = ((1 << 55) | (1 << 21) | 9, (1 << 44) | (1 << 12) | 5,
               (1 << 60) | (1 << 33) | 3, (1 << 50) | (1 << 7) | 17)


def _limb_fps(spark, n_limbs, ids=(), base=(), far=(), null=(), const=()):
    """(media_id, fp0..fp{n-1}) fingerprints: each id in ``ids`` is one
    flipped bit per limb away from the base (so two of them are 2·n
    bits apart), ``base`` ids are the base itself, ``far`` ids sit far
    from every base, ``null`` ids have a NULL first limb, and
    ``const`` maps ids to one value used for every limb."""
    rows = ([(i, *[_LIMB_BASES[k] ^ (1 << ((3 * i + 5 * k) % 63))
                   for k in range(n_limbs)]) for i in ids]
            + [(i, *_LIMB_BASES[:n_limbs]) for i in base]
            + [(i, *[((1 << 61) - 77) ^ k for k in range(n_limbs)])
               for i in far]
            + [(i, None, *_LIMB_BASES[1:n_limbs]) for i in null]
            + [(i, *[v] * n_limbs) for i, v in const])
    cols = ", ".join(f"fp{k} long" for k in range(n_limbs))
    return (spark.createDataFrame(rows, f"media_id long, {cols}"),
            [f"fp{k}" for k in range(n_limbs)])


def test_fingerprint_store_incremental_append(spark):
    """Incremental index growth over 1, 2 and 4 limbs: build the store
    on corpus A, APPEND batch B's band rows, and the pairing must equal
    a one-shot in-memory pairing over A∪B — including the cross A↔B
    pairs only the append can see — while the corpus-scale join still
    runs with ZERO Exchange (old and appended files share the bucketed
    layout). Appending a mismatched band layout refuses before writing
    anything."""
    import pytest as _pt

    from comix_etl_spark.operators.dedup import (
        hamming_band_pairs, near_dup_pairs_from_store,
        persist_fingerprint_store)

    for n_limbs in (1, 2, 4):
        ham = 2 * n_limbs  # the equal-rate threshold: 2 bits per limb
        fa, cols = _limb_fps(spark, n_limbs, ids=range(8))
        fb, _ = _limb_fps(spark, n_limbs, ids=range(8, 12), far=(50,),
                          null=(51,))
        persist_fingerprint_store(fa, "fp_inc_t", fp_cols=cols,
                                  max_hamming=ham)
        try:
            with _pt.raises(ValueError, match="layout mismatch"):
                persist_fingerprint_store(fb, "fp_inc_t", fp_cols=cols,
                                          max_hamming=ham, n_bands=ham + 3,
                                          mode="append")
            persist_fingerprint_store(fb, "fp_inc_t", fp_cols=cols,
                                      max_hamming=ham, mode="append")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            out = near_dup_pairs_from_store(spark, "fp_inc_t",
                                            fp_cols=cols, max_hamming=ham)
            plan = out._jdf.queryExecution().executedPlan().toString()
            join_sub = plan[plan.index("SortMergeJoin"):]
            assert "Exchange" not in join_sub, join_sub
            direct = sorted(map(tuple, hamming_band_pairs(
                fa.unionAll(fb), fp_cols=cols,
                max_hamming=ham).collect()))
            stored = sorted(map(tuple, out.collect()))
            assert direct == stored and len(stored) > 0, n_limbs
            # the cross old↔new pairs are present — the whole point of append
            assert any(a < 8 <= b for a, b, _ in stored)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                           str(64 * 1024 * 1024))
            spark.sql("DROP TABLE IF EXISTS fp_inc_t")


def test_band_store_append_crash_window_pending_refusal(spark, monkeypatch):
    """r14 (VERDICT r13 #5, symmetric with the BM25 test): a crash
    between a fingerprint/MinHash store's band-row append and its
    layout re-stamp leaves state=pending; pairing, probing, the health
    report and further appends all refuse, and an overwrite rebuild
    recovers."""
    import pytest as _pt

    from comix_etl_spark.operators.dedup import (
        fingerprint_store_stats, near_dup_pairs_from_store,
        persist_fingerprint_store)
    from comix_etl_spark.sinks import writers as W

    base = (1 << 55) | (1 << 21) | 9
    rows_a = [(i, base ^ (1 << (i * 3))) for i in range(8)]
    rows_b = [(i, base ^ (1 << (i * 3))) for i in range(8, 12)]
    fa = spark.createDataFrame(rows_a, "media_id long, dhash long")
    fb = spark.createDataFrame(rows_b, "media_id long, dhash long")
    try:
        persist_fingerprint_store(fa, "fp_crash_t", fp_cols=["dhash"],
                                  max_hamming=2)
        real_save = W.save_bucketed_table

        def save_then_die(*a, **kw):
            real_save(*a, **kw)
            raise RuntimeError("injected crash before layout re-stamp")

        monkeypatch.setattr(W, "save_bucketed_table", save_then_die)
        with _pt.raises(RuntimeError, match="injected crash"):
            persist_fingerprint_store(fb, "fp_crash_t",
                                      fp_cols=["dhash"], max_hamming=2,
                                      mode="append")
        monkeypatch.setattr(W, "save_bucketed_table", real_save)
        assert W.get_store_props(spark, "fp_crash_t",
                                 "comix.fp")["state"] == "pending"
        with _pt.raises(ValueError, match="PENDING"):
            near_dup_pairs_from_store(spark, "fp_crash_t",
                                      fp_cols=["dhash"], max_hamming=2)
        with _pt.raises(ValueError, match="PENDING"):
            fingerprint_store_stats(spark, "fp_crash_t")
        with _pt.raises(ValueError, match="PENDING"):
            persist_fingerprint_store(fb, "fp_crash_t",
                                      fp_cols=["dhash"], max_hamming=2,
                                      mode="append")
        # recovery: overwrite rebuild re-stamps committed
        both = spark.createDataFrame(rows_a + rows_b,
                                     "media_id long, dhash long")
        persist_fingerprint_store(both, "fp_crash_t", fp_cols=["dhash"],
                                  max_hamming=2)
        assert W.get_store_props(spark, "fp_crash_t",
                                 "comix.fp")["state"] == "committed"
        assert near_dup_pairs_from_store(
            spark, "fp_crash_t", fp_cols=["dhash"],
            max_hamming=2).count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS fp_crash_t")


def test_hamming_probe_from_store_matches_direct(spark):
    """The fingerprint store's cross-set probe over 1, 2 and 4 limbs:
    decontaminating an eval set against the PERSISTED store must return
    exactly hamming_band_probe's output on the same fingerprints (no
    corpus work per benchmark — band rows AND limbs come from the
    store). A max_hamming that voids the stored layout refuses, and so
    does a limb list whose length differs from the stamped n_limbs."""
    import pytest as _pt

    from comix_etl_spark.operators.dedup import (
        hamming_band_probe, hamming_probe_from_store,
        near_dup_pairs_from_store, persist_fingerprint_store)

    for n_limbs in (1, 2, 4):
        ham = 2 * n_limbs
        corpus, cols = _limb_fps(spark, n_limbs, ids=range(12), far=(50,),
                                 null=(51,))
        probe, _ = _limb_fps(spark, n_limbs, base=(100,), null=(103,),
                             const=((101, ((1 << 61) - 77) ^ 1),
                                    (102, 12345)))
        persist_fingerprint_store(corpus, "fp_probe_t", fp_cols=cols,
                                  max_hamming=ham)
        try:
            direct = sorted(map(tuple, hamming_band_probe(
                corpus, probe, fp_cols=cols, max_hamming=ham).collect()))
            stored = sorted(map(tuple, hamming_probe_from_store(
                spark, "fp_probe_t", probe, fp_cols=cols,
                max_hamming=ham).collect()))
            assert direct == stored, n_limbs
            # the base probe matches every near item, the far probe the
            # far item; nothing else is within the threshold
            assert {p for _, p, _ in stored} == {100, 101}, stored
            with _pt.raises(ValueError, match="pigeonhole"):
                hamming_probe_from_store(spark, "fp_probe_t", probe,
                                         fp_cols=cols, max_hamming=ham + 1)
            wrong = cols[:-1] if n_limbs > 1 else cols * 2
            with _pt.raises(ValueError, match="n_limbs"):
                hamming_probe_from_store(spark, "fp_probe_t", probe,
                                         fp_cols=wrong, max_hamming=ham)
            with _pt.raises(ValueError, match="n_limbs"):
                near_dup_pairs_from_store(spark, "fp_probe_t",
                                          fp_cols=wrong, max_hamming=ham)
        finally:
            spark.sql("DROP TABLE IF EXISTS fp_probe_t")


def test_minhash_store_probe_matches_direct(spark, sf_small):
    """The persisted MinHash store: built in TWO writes (initial +
    append), the batch probe must return EXACTLY dedup_against_corpus's
    output on the same corpus — the store round-trip changes the
    physical shape (landed bucketed layout + broadcast probe), never
    the answer. Probing or appending with a mismatched band layout
    refuses."""
    import pytest as _pt

    from comix_etl_spark.operators.dedup import (
        dedup_against_corpus, dedup_against_store, persist_minhash_store)

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    common = dict(id_col="doc_id", text_col="text", num_hashes=16,
                  bands=4, n=3, hash_fn="md5")
    persist_minhash_store(
        docs.filter((F.col("doc_id") % 10 >= 1) & (F.col("doc_id") % 10 <= 5)),
        "mh_store_t", **common)
    try:
        with _pt.raises(ValueError, match="layout mismatch"):
            persist_minhash_store(docs.filter(F.col("doc_id") % 10 >= 6),
                                  "mh_store_t", mode="append",
                                  **{**common, "bands": 8, "num_hashes": 16})
        # the case a bands-only check could NOT catch: same band count,
        # different num_hashes / shingle n / hash_fn — each must refuse
        # via the stamped table properties instead of silently landing
        # rows whose buckets never collide
        for bad in ({"num_hashes": 32}, {"n": 5}, {"hash_fn": "xxhash64"}):
            with _pt.raises(ValueError, match="layout mismatch"):
                persist_minhash_store(docs.filter(F.col("doc_id") % 10 >= 6),
                                      "mh_store_t", mode="append",
                                      **{**common, **bad})
        persist_minhash_store(docs.filter(F.col("doc_id") % 10 >= 6),
                              "mh_store_t", mode="append", **common)
        direct = dedup_against_corpus(batch, corpus, "doc_id", "text",
                                      num_hashes=16, bands=4, n=3,
                                      threshold=0.3, hash_fn="md5")
        stored = dedup_against_store(batch, corpus, "mh_store_t",
                                     threshold=0.3, **common)
        d = sorted(map(tuple, direct.collect()))
        s = sorted(map(tuple, stored.collect()))
        assert d == s and len(s) > 0
        with _pt.raises(ValueError, match="never"):
            dedup_against_store(batch, corpus, "mh_store_t",
                                threshold=0.3,
                                **{**common, "bands": 8, "num_hashes": 16})
        # probe-side full-layout validation: same bands, different
        # num_hashes — silently-empty-matches territory before r12
        with _pt.raises(ValueError, match="layout mismatch"):
            dedup_against_store(batch, corpus, "mh_store_t",
                                threshold=0.3,
                                **{**common, "num_hashes": 32})
    finally:
        spark.sql("DROP TABLE IF EXISTS mh_store_t")


def test_fingerprint_store_stats_finds_low_entropy_bucket(spark):
    """Perceptual-store hot-bucket report (r13): low-entropy media
    (identical fingerprints, e.g. solid-color frames) collapse into one
    bucket per band — the report's head must be those buckets with
    exact member counts and n·(n−1)/2 pair costs."""
    from comix_etl_spark.operators.dedup import (fingerprint_store_stats,
                                                 persist_fingerprint_store)

    # 6 identical "solid black" fingerprints + 4 distinct FULL-ENTROPY
    # ones (small ints would share the all-zero high-bit band with the
    # zeros — which the report correctly flags as a collision group;
    # exactly the low-entropy failure mode it exists to catch)
    distinct = [0x1F2E3D4C5B6A7988, 0x2A9B8C7D6E5F4031,
                0x3C4D5E6F70819253, 0x4B5A69788796A5B4]
    rows = [(i, 0) for i in range(6)] + [(100 + i, v)
                                         for i, v in enumerate(distinct)]
    fps = spark.createDataFrame(rows, "media_id long, dhash long")
    persist_fingerprint_store(fps, "fp_health_t", id_col="media_id",
                              fp_cols=["dhash"], max_hamming=2)  # 3 bands
    try:
        top = fingerprint_store_stats(spark, "fp_health_t",
                                      top_n=3).collect()
        assert [(r.rank, r.n_members, r.n_pairs) for r in top] == \
            [(1, 6, 15), (2, 6, 15), (3, 6, 15)]
        assert sorted(r.band for r in top) == [0, 1, 2]
    finally:
        spark.sql("DROP TABLE IF EXISTS fp_health_t")


def test_minhash_store_stats_finds_planted_hot_bucket(spark):
    """Hot-bucket report (r13): a boilerplate template shared by many
    docs lands them all in ONE bucket per band — the report's head must
    be those buckets with the exact member count and the implied
    n·(n−1)/2 candidate-pair cost, ranked above the diverse docs'
    singleton buckets."""
    from comix_etl_spark.operators.dedup import (minhash_store_stats,
                                                 persist_minhash_store)

    template = "the quick brown fox jumps over the lazy dog again"
    rows = [(i, template) for i in range(8)] + [
        (100 + i, f"unique document number {i} with distinct words "
                  f"alpha{i} beta{i} gamma{i}") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    persist_minhash_store(docs, "mh_health_t", id_col="doc_id",
                          text_col="text", num_hashes=16, bands=4, n=3)
    try:
        top = minhash_store_stats(spark, "mh_health_t", top_n=4).collect()
        # the 8 identical docs share identical signatures → all 4 bands
        # produce an 8-member bucket; 8·7/2 = 28 pairs each
        assert [(r.rank, r.n_members, r.n_pairs) for r in top] == \
            [(1, 8, 28), (2, 8, 28), (3, 8, 28), (4, 8, 28)]
        assert sorted(r.band for r in top) == [0, 1, 2, 3]
    finally:
        spark.sql("DROP TABLE IF EXISTS mh_health_t")


def test_unstamped_store_append_and_probe_refuse(spark, sf_small):
    """A MinHash or fingerprint table WITHOUT its layout stamp was not
    built by persist_*: appending to it, probing it, pairing from it
    and its health report all raise instead of guessing the layout
    from the rows, and the refused append writes nothing."""
    import pytest as _pt

    from comix_etl_spark.operators.dedup import (
        dedup_against_store, fingerprint_store_stats,
        hamming_probe_from_store, minhash_store_stats,
        near_dup_pairs_from_store, persist_fingerprint_store,
        persist_minhash_store)
    from comix_etl_spark.sinks.writers import get_store_props

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    common = dict(id_col="doc_id", text_col="text", num_hashes=16,
                  bands=4, n=3, hash_fn="md5")
    fps, cols = _limb_fps(spark, 1, ids=range(6))
    try:
        persist_minhash_store(docs.filter(F.col("doc_id") % 10 <= 4),
                              "mh_unstamped_t", **common)
        persist_fingerprint_store(fps, "fp_unstamped_t", fp_cols=cols)
        spark.sql("ALTER TABLE mh_unstamped_t UNSET TBLPROPERTIES "
                  "('comix.minhash.num_hashes', 'comix.minhash.bands', "
                  "'comix.minhash.n', 'comix.minhash.hash_fn', "
                  "'comix.minhash.state')")
        spark.sql("ALTER TABLE fp_unstamped_t UNSET TBLPROPERTIES "
                  "('comix.fp.n_bands', 'comix.fp.n_limbs', "
                  "'comix.fp.state')")
        assert get_store_props(spark, "mh_unstamped_t", "comix.minhash") == {}
        assert get_store_props(spark, "fp_unstamped_t", "comix.fp") == {}
        n_mh = spark.table("mh_unstamped_t").count()
        n_fp = spark.table("fp_unstamped_t").count()
        refused = [
            lambda: persist_minhash_store(
                docs.filter(F.col("doc_id") % 10 >= 5), "mh_unstamped_t",
                mode="append", **common),
            lambda: dedup_against_store(batch, docs, "mh_unstamped_t",
                                        **common),
            lambda: minhash_store_stats(spark, "mh_unstamped_t"),
            lambda: persist_fingerprint_store(
                fps, "fp_unstamped_t", fp_cols=cols, mode="append"),
            lambda: near_dup_pairs_from_store(spark, "fp_unstamped_t",
                                              fp_cols=cols),
            lambda: hamming_probe_from_store(spark, "fp_unstamped_t", fps,
                                             fp_cols=cols),
            lambda: fingerprint_store_stats(spark, "fp_unstamped_t"),
        ]
        for call in refused:
            with _pt.raises(ValueError, match="no stamped"):
                call()
        assert spark.table("mh_unstamped_t").count() == n_mh
        assert spark.table("fp_unstamped_t").count() == n_fp
    finally:
        spark.sql("DROP TABLE IF EXISTS mh_unstamped_t")
        spark.sql("DROP TABLE IF EXISTS fp_unstamped_t")


def test_store_props_quote_roundtrip(spark, sf_small):
    """set_store_props must escape quotes and quote the identifier — a
    value carrying a single quote round-trips instead of breaking the
    ALTER TABLE statement."""
    from comix_etl_spark.operators.dedup import persist_minhash_store
    from comix_etl_spark.sinks.writers import (get_store_props,
                                               set_store_props)

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    persist_minhash_store(docs.limit(20), "mh_quote_t", id_col="doc_id",
                          text_col="text", num_hashes=16, bands=4)
    try:
        set_store_props(spark, "mh_quote_t", "comix.test",
                        {"note": "it's quoted", "id_col": "o'brien"})
        got = get_store_props(spark, "mh_quote_t", "comix.test")
        assert got == {"note": "it's quoted", "id_col": "o'brien"}
    finally:
        spark.sql("DROP TABLE IF EXISTS mh_quote_t")


def test_image_dhash_xwide_three_limbs(spark):
    """189-bit rung (n_limbs=3): h/v limbs equal the two-limb form
    bit-for-bit, the d-limb is brightness-invariant like the others,
    quarantine covers all three limbs, and the THREE-limb dedup runs
    through the same hamming_fp_dedup with zero new pairing code."""
    import random

    from comix_etl_spark.multimodal.media import image_dhash
    from comix_etl_spark.operators.dedup import hamming_fp_dedup

    rng = random.Random(31)
    base = [[rng.randrange(0, 200) for _ in range(9)] for _ in range(8)]
    bright = [[v + 22 for v in row] for row in base]
    other = [[rng.randrange(0, 200) for _ in range(9)] for _ in range(8)]
    rows = [(0, _raw8(base)), (1, _raw8(bright)), (2, _raw8(other)),
            (3, b"junk")]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    fps = image_dhash(df, n_limbs=3)
    assert fps.columns == ["media_id", "dhash_h", "dhash_v", "dhash_d"]
    x = {r.media_id: (r.dhash_h, r.dhash_v, r.dhash_d)
         for r in fps.collect()}
    w = {r.media_id: (r.dhash_h, r.dhash_v)
         for r in image_dhash(df, n_limbs=2).collect()}
    assert (x[0][0], x[0][1]) == w[0], "h/v limbs must equal the wide form"
    assert x[0][2] is not None and x[0][2] >= 0
    assert x[1] == x[0], "brightness shift must not change any limb"
    assert x[3] == (None, None, None)
    kept = {r.media_id: r.n_near
            for r in hamming_fp_dedup(
                fps, fp_cols=["dhash_h", "dhash_v", "dhash_d"],
                max_hamming=6).collect()}
    assert 0 in kept and 1 not in kept and kept[0] == 1
    assert 2 in kept and kept[2] == 0


def test_image_dhash_qwide_four_limbs(spark):
    """252-bit rung (n_limbs=4): h/v/d limbs equal the three-limb form
    bit-for-bit, the a-limb is brightness-invariant like the others,
    quarantine covers all four, and the FOUR-limb dedup runs through
    the same hamming_fp_dedup with zero new pairing code (7 × 36-bit
    bands)."""
    import random

    from comix_etl_spark.multimodal.media import image_dhash
    from comix_etl_spark.operators.dedup import hamming_fp_dedup

    rng = random.Random(47)
    base = [[rng.randrange(0, 200) for _ in range(9)] for _ in range(8)]
    bright = [[v + 19 for v in row] for row in base]
    other = [[rng.randrange(0, 200) for _ in range(9)] for _ in range(8)]
    rows = [(0, _raw8(base)), (1, _raw8(bright)), (2, _raw8(other)),
            (3, b"junk")]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    fps = image_dhash(df, n_limbs=4)
    assert fps.columns == [
        "media_id", "dhash_h", "dhash_v", "dhash_d", "dhash_a"]
    q = {r.media_id: (r.dhash_h, r.dhash_v, r.dhash_d, r.dhash_a)
         for r in fps.collect()}
    x = {r.media_id: (r.dhash_h, r.dhash_v, r.dhash_d)
         for r in image_dhash(df, n_limbs=3).collect()}
    assert q[0][:3] == x[0], "h/v/d limbs must equal the xwide form"
    assert q[0][3] is not None and q[0][3] >= 0
    assert q[1] == q[0], "brightness shift must not change any limb"
    assert q[3] == (None, None, None, None)
    kept = {r.media_id: r.n_near
            for r in hamming_fp_dedup(
                fps, fp_cols=["dhash_h", "dhash_v", "dhash_d", "dhash_a"],
                max_hamming=6).collect()}
    assert 0 in kept and 1 not in kept and kept[0] == 1
    assert 2 in kept and kept[2] == 0


def test_hamming_band_probe_two_limb_cross_set(spark):
    """126-bit cross-set probe: near pairs found across the limb
    boundary, far and partial-NULL rows drop, no corpus self-pairs;
    guards on band width and recall hold."""
    import pytest as _pt

    from comix_etl_spark.operators.dedup import hamming_band_probe

    h0, v0 = (1 << 45) | 17, (1 << 29) | (1 << 4)
    corpus = spark.createDataFrame(
        [(100, h0, v0), (101, h0 ^ (1 << 62), v0 ^ 3),   # ham 3
         (102, ~h0 & ((1 << 63) - 1), v0), (103, None, v0)],
        "media_id long, h long, v long")
    probe = spark.createDataFrame(
        [(1, h0, v0), (2, h0 ^ 1, v0 ^ (1 << 50)), (3, h0, None)],
        "media_id long, h long, v long")
    got = {(r.corpus_id, r.probe_id): r.hamming
           for r in hamming_band_probe(corpus, probe, fp_cols=["h", "v"],
                                       max_hamming=4).collect()}
    assert got[(100, 1)] == 0 and got[(100, 2)] == 2
    assert got[(101, 1)] == 3
    assert (101, 2) not in got, "summed-limb Hamming 5 must not pass 4"
    assert all(p[0] != 102 and p[0] != 103 and p[1] != 3 for p in got), got
    with _pt.raises(ValueError):
        hamming_band_probe(corpus, probe, fp_cols=["h", "v"],
                           max_hamming=0, n_bands=1)
    with _pt.raises(ValueError, match="pigeonhole"):
        hamming_band_probe(corpus, probe, fp_cols=["h", "v"],
                           max_hamming=5, n_bands=5)


def test_hamming_fp_dedup_wide_keeper_election(spark):
    """Two-limb dedup: min-id keeper kept with both limb columns in
    the output; near-dups across the limb boundary are removed."""
    from comix_etl_spark.operators.dedup import hamming_fp_dedup

    h0, v0 = (1 << 40) | 9, (1 << 33) | (1 << 7)
    rows = [(10, h0, v0), (11, h0 ^ (1 << 3), v0 ^ (1 << 50)),
            (12, ~h0 & ((1 << 63) - 1), v0), (13, None, None)]
    df = spark.createDataFrame(rows, "media_id long, dhash_h long, dhash_v long")
    got = {r.media_id: r for r in
           hamming_fp_dedup(df, fp_cols=["dhash_h", "dhash_v"],
                            max_hamming=4).collect()}
    assert set(got) == {10, 12}
    assert got[10].n_near == 1 and got[12].n_near == 0
    assert got[10].dhash_h == h0 and got[10].dhash_v == v0


def _vid_frames(media_id, frame_pxs):
    """(media_id, payload) rows, one per frame pixel-grid."""
    return [(media_id, _raw8(px)) for px in frame_pxs]


def test_majority_fingerprint_vote_and_ties(spark):
    """Per-bit strict majority across parts: 2-of-3 wins, ties -> 0,
    NULL part fingerprints don't vote, all-NULL items are dropped."""
    from comix_etl_spark.operators.dedup import majority_fingerprint

    rows = [
        (1, 0b1011), (1, 0b0011), (1, 0b1101),   # majority 0b0011|1000? ->
        # bit0: 3/3, bit1: 2/3, bit2: 1/3, bit3: 2/3 -> 0b1011
        (2, 0b01), (2, 0b10), (2, None),          # 1-of-2 each: ties -> 0
        (3, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, dhash long")
    got = {r.media_id: (r.vfp, r.n_parts)
           for r in majority_fingerprint(df).collect()}
    assert got[1] == (0b1011, 3)
    assert got[2] == (0, 2), "ties must resolve to 0, NULLs must not vote"
    assert 3 not in got, "items with zero decodable parts are dropped"


def test_video_dedup_trim_offset_invariance(spark):
    """The same video trimmed by one frame (or offset by one) still
    pairs: every bit of the synthetic clip has a >= 2 vote margin, so
    the majority fingerprint is IDENTICAL under a one-frame trim and
    the pair verifies at Hamming 0. A genuinely different video stays
    unpaired; min-id keeper election removes the trimmed copies."""
    import random

    from comix_etl_spark.operators.dedup import video_dedup

    rng = random.Random(23)
    # 5 frames from one base pattern + per-frame noise in ONE cell so
    # frames differ but every dHash bit keeps a clear majority margin
    base = [[rng.randrange(0, 180) for _ in range(9)] for _ in range(8)]
    frames = []
    for f in range(5):
        px = [row[:] for row in base]
        px[f % 8][0] = 200 + f  # touch one cell, margin stays >= 3
        frames.append(px)
    other = [[rng.randrange(0, 180) for _ in range(9)] for _ in range(8)]
    rows = (
        _vid_frames(10, frames)            # full clip, min id -> keeper
        + _vid_frames(11, frames[1:])      # head-trimmed (offset by one)
        + _vid_frames(12, frames[:-1])     # tail-trimmed
        + _vid_frames(13, [other] * 4)     # different video
    )
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r for r in video_dedup(df, max_hamming=2).collect()}
    assert set(got) == {10, 13}, got
    assert got[10].n_near == 2, "both trimmed copies must pair"
    assert got[13].n_near == 0


def test_hamming_band_probe_cross_set(spark):
    """Corpus-vs-probe banded matches: near pairs found, far pairs and
    NULLs dropped, no corpus self-pairs, both orientations of closeness
    covered (probe id smaller AND larger than corpus id)."""
    from comix_etl_spark.operators.dedup import hamming_band_probe

    base = (1 << 40) | (1 << 22) | 7
    corpus = spark.createDataFrame(
        [(100, base), (101, base ^ (1 << 9)), (102, (1 << 61) - 999),
         (103, None)],
        "media_id long, dhash long")
    probe = spark.createDataFrame(
        [(1, base), (2, base ^ (1 << 9) ^ (1 << 33)), (3, None)],
        "media_id long, dhash long")
    got = {(r.corpus_id, r.probe_id): r.hamming
           for r in hamming_band_probe(corpus, probe, fp_cols=["dhash"],
                                       max_hamming=2).collect()}
    assert got[(100, 1)] == 0 and got[(100, 2)] == 2
    assert got[(101, 1)] == 1 and got[(101, 2)] == 1
    assert not any(c == 102 or c == 103 or p == 3 for c, p in got), got


def test_hamming_band_probe_broadcasts_probe_side(spark):
    """The benchmark/probe band rows must BROADCAST onto the corpus
    band rows — a sort-merge here would shuffle the corpus side for a
    benchmark-sized table (the whole point of the screen is zero
    corpus shuffle)."""
    import io
    from contextlib import redirect_stdout

    from comix_etl_spark.operators.dedup import hamming_band_probe

    corpus = spark.range(1000).selectExpr(
        "id AS media_id", "xxhash64(id) & 9223372036854775807 AS dhash")
    probe = spark.range(20).selectExpr(
        "id AS media_id", "xxhash64(id + 7) & 9223372036854775807 AS dhash")
    out = hamming_band_probe(corpus, probe, fp_cols=["dhash"])
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    tree = buf.getvalue().split("\n\n", 1)[0]
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree


def _wav(samples, rate=8000, channels=1, extra_chunk=False):
    """Build a PCM WAV with stdlib struct (independent of the decoder)."""
    import struct

    raw = b"".join(struct.pack("<h", s) for s in samples)
    chunks = b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, channels, rate, rate * 2 * channels,
        2 * channels, 16)
    if extra_chunk:  # decoders must tolerate LIST/fact chunks
        chunks += b"LIST" + struct.pack("<I", 4) + b"INFO"
    chunks += b"data" + struct.pack("<I", len(raw)) + raw
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_decode_wav_pcm_real_parser():
    """The WAV decode is REAL: stdlib-built PCM round-trips exactly,
    stereo downmixes by mean, extra chunks are tolerated, and
    malformed/compressed payloads return None (never garbage)."""
    import struct

    from comix_etl_spark.multimodal.media import decode_wav_pcm

    mono = [0, 100, -200, 32767, -32768, 7]
    rate, s = decode_wav_pcm(_wav(mono, rate=44100))
    assert rate == 44100 and list(s) == [float(x) for x in mono]
    # stereo: interleaved L,R -> mean
    rate, s = decode_wav_pcm(_wav([100, 200, -40, 60], channels=2))
    assert list(s) == [150.0, 10.0]
    assert decode_wav_pcm(_wav(mono, extra_chunk=True))[1].size == 6
    assert decode_wav_pcm(b"RIFFxxxxWAVE") is None      # no chunks
    assert decode_wav_pcm(b"\x00" * 100) is None        # not RIFF
    bad = bytearray(_wav(mono))
    bad[20:22] = struct.pack("<H", 85)                  # non-PCM code
    assert decode_wav_pcm(bytes(bad)) is None


def test_audio_fingerprint_gain_invariant(spark):
    """Energy-contour fingerprint is invariant under positive gain and
    sign flips; short/undecodable clips yield NULL."""
    import random

    from comix_etl_spark.multimodal.media import audio_energy_fingerprint

    rng = random.Random(3)
    base = [rng.randrange(-1000, 1000) for _ in range(256)]
    louder = [x * 3 for x in base]
    flipped = [-x for x in base]
    rows = [(0, _wav(base)), (1, _wav(louder)), (2, _wav(flipped)),
            (3, _wav([5] * 10)),     # < 64 samples -> NULL
            (4, b"NOTAWAV")]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r.afp for r in audio_energy_fingerprint(df).collect()}
    assert got[0] is not None and got[0] >= 0
    assert got[1] == got[0] and got[2] == got[0]
    assert got[3] is None and got[4] is None


def test_empty_fp_store_preserves_id_types(spark):
    """ADVICE r11: the empty-store early returns used to hardcode
    ``long`` ids; with string ids the empty path's schema diverged from
    the non-empty path, breaking unions only in the empty case. Both
    store readers must now derive id types from the actual schemas."""
    from comix_etl_spark.operators.dedup import (
        hamming_probe_from_store, near_dup_pairs_from_store,
        persist_fingerprint_store)

    empty = spark.createDataFrame([], "media_id string, dhash long")
    persist_fingerprint_store(empty, "fp_empty_t", fp_cols=["dhash"],
                              max_hamming=2)
    try:
        probe = spark.createDataFrame([("p1", 12345)],
                                      "media_id string, dhash long")
        out = hamming_probe_from_store(spark, "fp_empty_t", probe,
                                       fp_cols=["dhash"], max_hamming=2)
        assert out.count() == 0
        assert dict(out.dtypes) == {"corpus_id": "string",
                                    "probe_id": "string",
                                    "hamming": "bigint"}
        pairs = near_dup_pairs_from_store(spark, "fp_empty_t",
                                          fp_cols=["dhash"], max_hamming=2)
        assert pairs.count() == 0
        assert dict(pairs.dtypes) == {"id_a": "string", "id_b": "string",
                                      "hamming": "bigint"}
    finally:
        spark.sql("DROP TABLE IF EXISTS fp_empty_t")
