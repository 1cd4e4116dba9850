"""Golden tests for the F1–F15 scalar semantics (SURVEY.md §2.8) — these
encode the reference's trickiest row-level behaviors: banker's rounding,
"1.1" issue numbers, strict date parses, nested typed-array extraction."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

from comix_etl_spark.functions import scalar, text
from comix_etl_spark.schemas import RAW_MARVEL_COMIC


def _one(spark, col, **data):
    schema_bits = ", ".join(f"{k} {v[0]}" for k, v in data.items())
    df = spark.createDataFrame([tuple(v[1] for v in data.values())], schema_bits)
    return df.select(col.alias("out")).collect()[0].out


def test_normalize_issue_number(spark):
    # reference transform.py:4-12 — preserve "1.1", strip, None-safe
    df = spark.createDataFrame(
        [(1.0,), (1.1,), (266.0,), (None,)], "n double")
    out = [r.out for r in df.select(scalar.normalize_issue_number("n").alias("out")).collect()]
    assert out == ["1", "1.1", "266", None]


def test_cents_from_price_bankers_rounding(spark):
    # reference transform.py:14-20 — int(round(p*100)); Python round is
    # half-even: 2.005*100=200.49999… → 200; 0.125*100=12.5 → 12 (even)
    df = spark.createDataFrame([(3.99,), (0.125,), (None,), (19.0,)], "p double")
    out = [r.out for r in df.select(scalar.cents_from_price("p").alias("out")).collect()]
    assert out == [399, 12, None, 1900]
    assert all(isinstance(v, int) for v in out if v is not None)


def test_to_date_strict_null_on_garbage(spark):
    df = spark.createDataFrame([("2010-01-06",), ("not-a-date",), (None,)], "s string")
    out = [r.out for r in df.select(scalar.to_date_strict("s").alias("out")).collect()]
    assert out == [dt.date(2010, 1, 6), None, None]


def test_pick_typed_date_and_price(spark):
    comic = Row(
        id=1, title="X", issueNumber=1.0, description=None, isbn=None, upc=None,
        variantDescription=None,
        dates=[Row(type="onsaleDate", date="2010-01-06T00:00:00-0500"),
               Row(type="focDate", date="garbage")],
        prices=[Row(type="printPrice", price=3.99),
                Row(type="digitalPurchasePrice", price=1.99)],
        creators=Row(items=[]), thumbnail=None,
    )
    df = spark.createDataFrame([comic], RAW_MARVEL_COMIC)
    row = df.select(
        scalar.pick_typed_date("dates", "onsaleDate").alias("onsale"),
        scalar.pick_typed_date("dates", "focDate").alias("foc"),
        scalar.pick_typed_date("dates", "missing").alias("missing"),
        scalar.pick_typed_price("prices").alias("price"),
    ).collect()[0]
    # ISO offset parse: -0500 → 2010-01-06 05:00 UTC → date 2010-01-06
    assert row.onsale == dt.date(2010, 1, 6)
    assert row.foc is None          # unparseable both ways
    assert row.missing is None      # type absent
    assert row.price == 3.99


def test_normalize_thumb_sentinel(spark):
    df = spark.createDataFrame(
        [Row(thumbnail=Row(path="http://x/img", extension="jpg")),
         Row(thumbnail=Row(path="http://x/image_not_available", extension="jpg")),
         Row(thumbnail=None)],
        "thumbnail struct<path:string,extension:string>")
    out = [r.out for r in df.select(scalar.normalize_thumb("thumbnail").alias("out")).collect()]
    assert out == ["http://x/img/portrait_uncanny.jpg", None, None]


def test_is_variant(spark):
    df = spark.createDataFrame(
        [("Amazing #1", None), ("Amazing #1 (VARIANT)", None), ("X", "Sketch Variant Cover")],
        "t string, vd string")
    out = [r.out for r in df.select(scalar.is_variant("t", "vd").alias("out")).collect()]
    assert out == [False, True, True]


def test_cents_to_display(spark):
    df = spark.createDataFrame([(399,), (1900,), (5,)], "c long")
    out = [r.out for r in df.select(scalar.cents_to_display("c").alias("out")).collect()]
    assert out == ["$3.99", "$19.00", "$0.05"]


def test_cents_to_display_negative_and_huge(spark):
    # Python floor-div/mod semantics: -250 → floor(-2.5)=-3, pmod 50
    df = spark.createDataFrame([(-250,), (-150,), (0,), (105,),
                                (2**53 + 101,)], "c long")
    out = [r.out for r in df.select(scalar.cents_to_display("c").alias("out")).collect()]
    assert out[0] == "$-3.50" and out[1] == "$-2.50"
    assert out[2] == "$0.00" and out[3] == "$1.05"
    # exact beyond double's 53-bit mantissa
    assert out[4] == f"${(2**53 + 101) // 100}.{(2**53 + 101) % 100:02d}"


def test_tokens_empty_and_multispace(spark):
    df = spark.createDataFrame([("",), ("   ",), ("a  b\tc",), (None,)], "t string")
    out = [r.out for r in df.select(text.tokens("t").alias("out")).collect()]
    assert out[0] == [] and out[1] == []          # not [""]
    assert out[2] == ["a", "b", "c"]              # \s+ collapses runs
    assert out[3] is None
    # two empty strings must NOT overlap (Python "".split() == [])
    score = _one(spark, scalar.token_overlap_score(F.lit(""), F.lit("")), x=("int", 0))
    assert score == 0


def test_split_rejects_partial_header_row_with_null(spark, tmp_path):
    """A row with some header-named cells and a NULL elsewhere must land
    in exactly one of (good, rejects) — never silently vanish."""
    from comix_etl_spark.schemas import STATIC_ISSUES_CSV
    from comix_etl_spark.sources.csv_source import read_csv_with_rejects, split_rejects

    p = tmp_path / "partial.csv"
    p.write_text("series,publisher,issue_number,issue_title,cover_path,notes\n"
                 "series,publisher,issue_number,issue_title,cover_path,\n"  # partial header + empty
                 "Real Series,Marvel,1,T,covers/x.jpg,ok\n")
    raw = read_csv_with_rejects(spark, str(p), STATIC_ISSUES_CSV)
    good, rejects = split_rejects(
        raw, ["series", "publisher", "issue_number", "issue_title", "cover_path", "notes"])
    assert good.count() + rejects.count() == raw.count() == 2


def test_token_overlap_score_set_semantics(spark):
    # set(a) & set(b): duplicate tokens count once (reference :126-135)
    df = spark.createDataFrame([("spider man man", "man spider pig", 7)], "a string, b string, n int")
    out = _val = df.select(scalar.token_overlap_score("a", "b", "n").alias("out")).collect()[0].out
    assert out == 2 * 10 + 7


def test_issue_number_sort_key(spark):
    df = spark.createDataFrame([("2",), ("10",), ("1.1",), ("annual-1",)], "n string")
    out = [r.n for r in df.orderBy(scalar.issue_number_sort_key("n"), "n").collect()]
    assert out == ["1.1", "2", "10", "annual-1"]  # numeric order, non-numeric last


def test_lang_id_and_quality(spark):
    df = spark.createDataFrame(
        [("the cat and the dog is here",),
         ("der hund und die katze ist da",),
         ("zzz qqq",)],
        "t string")
    out = [r.out for r in df.select(text.lang_id("t").alias("out")).collect()]
    assert out == ["en", "de", "und"]


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "t string")
    out = [r.out for r in df.select(text.shingles("t", 3).alias("out")).collect()]
    assert out[0] == ["a b c", "b c d"]
    assert out[1] == []  # shorter than n → no shingles


def test_fingerprint_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame([("Hello  World",), ("hello world",)], "t string")
    out = [r.out for r in df.select(text.fingerprint("t").alias("out")).collect()]
    assert out[0] == out[1]


def test_redact_pii_golden_cases(spark):
    from comix_etl_spark.functions.text import pii_counts, redact_pii

    cases = [
        (1, "mail a.b+tag%x@sub.domain.co and b@c.io today"),
        (2, "call +1-555-0042 or +44-123-456 now"),
        (3, "mixed: x@y.org then +1-555-123 done"),
        (4, "no pii here, just an @ sign and 1-555-0042 without plus"),
        (5, "trailing dot a@b.com."),
    ]
    df = spark.createDataFrame(cases, "id long, t string")
    n_e, n_p = pii_counts("t")
    got = {r.id: (r.red, r.ne, r.np) for r in df.select(
        "id", redact_pii("t").alias("red"),
        n_e.alias("ne"), n_p.alias("np")).collect()}
    assert got[1] == ("mail <EMAIL> and <EMAIL> today", 2, 0)
    assert got[2] == ("call <PHONE> or <PHONE> now", 0, 2)
    assert got[3] == ("mixed: <EMAIL> then <PHONE> done", 1, 1)
    # '@' alone and an unprefixed number must NOT be masked
    assert got[4] == ("no pii here, just an @ sign and 1-555-0042 without plus", 0, 0)
    # TLD match stops before the trailing period
    assert got[5] == ("trailing dot <EMAIL>.", 1, 0)


def test_strip_markup_golden_cases(spark):
    from comix_etl_spark.functions.text import strip_markup

    cases = [
        # script body with a bare '<' must vanish BEFORE tag-removal runs
        (1, '<p>a</p><script>if (1 < 2) { x("</p>"); }</script>b'),
        # style block, multi-line comment, nested tags
        (2, '<style>p < q {}</style><!-- hi\nthere --><div><b>keep</b></div>'),
        # entities: &amp;lt; must unescape to the LITERAL '<', not twice
        (3, 'x &amp;lt; y &lt; z &copy;&nbsp;now &quot;q&#39;s&quot;'),
        # whitespace collapse + trim
        (4, '  <br/> a\n\n b <hr>  '),
        (5, None),
    ]
    df = spark.createDataFrame(cases, "id long, t string")
    got = {r.id: r.out for r in
           df.select("id", strip_markup("t").alias("out")).collect()}
    assert got[1] == "a b"
    assert got[2] == "keep"
    assert got[3] == 'x &lt; y < z © now "q\'s"'
    assert got[4] == "a b"
    assert got[5] is None


def test_cents_to_display_null_is_null(spark):
    # Java's Formatter prints null %d args as 'null' -> '$null.null'
    df = spark.createDataFrame([(250,), (None,), (-250,)], "c long")
    out = [r.out for r in
           df.select(scalar.cents_to_display("c").alias("out")).collect()]
    assert out == ["$2.50", None, "$-3.50"]


def test_canonicalize_url_contract(spark):
    """functions/url.py module contract: scheme/fragment strip, host
    lower + www./default-port strip, slash collapse, path case kept,
    tracking-param drop + param sort, NULL propagation."""
    from comix_etl_spark.functions.url import (
        TRACKING_KEY_RE_AGGRESSIVE, canonicalize_url, url_host)

    cases = [
        ("https://WWW.Example.com:443/a//b/?utm_source=x&id=7",
         "example.com/a/b?id=7"),
        ("http://example.com/a/b?id=7#frag", "example.com/a/b?id=7"),
        ("example.com/a/b/?id=7&utm_medium=m", "example.com/a/b?id=7"),
        # bare ref is content-bearing on GitLab/Bitbucket-style hosts —
        # the DEFAULT key set keeps it (aggressive opt-in strips it,
        # asserted below)
        ("https://example.com/a/b?ref=tw&id=7", "example.com/a/b?id=7&ref=tw"),
        # non-default port is load-bearing and kept
        ("https://example.com:8080/x?id=7", "example.com:8080/x?id=7"),
        ("https://example.com/", "example.com"),
        ("https://example.com", "example.com"),
        # path case preserved (RFC 3986), host case folded
        ("https://EXAMPLE.com/Path/Case", "example.com/Path/Case"),
        # param order never distinguishes pages
        ("https://example.com/s?b=2&a=1", "example.com/s?a=1&b=2"),
        # query emptied by tracking filter drops its '?'
        ("https://example.com/s?utm_campaign=x", "example.com/s"),
        (None, None),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.c for r in df.select(canonicalize_url("url").alias("c")).collect()]
    assert got == [want for _, want in cases], got
    hosts = [r.h for r in df.select(url_host("url").alias("h")).collect()]
    assert hosts[0] == "example.com" and hosts[4] == "example.com:8080"
    # aggressive opt-in strips bare ref (referral-tracking crawls)
    agg = [r.c for r in df.select(
        canonicalize_url("url", tracking_key_re=TRACKING_KEY_RE_AGGRESSIVE)
        .alias("c")).collect()]
    assert agg[3] == "example.com/a/b?id=7", agg[3]


def test_gopher_rules_each_rule_fires(spark):
    """Each Gopher rule must fail on its crafted violation and pass on
    a clean document (integer-form thresholds, Rae et al. 2021)."""
    from comix_etl_spark.functions.text import gopher_rules

    clean = "the cat sat and the dog ran of course it is fine " * 5
    docs = [
        (0, clean),
        (1, "the of " + "word " * 2),                      # too few words
        (2, ("a " * 30 + "the of is and ")),               # mean len < 3
        (3, "the of " + "extraordinarily " * 48),          # mean len > 10
        (4, "the of " + "# " * 20 + "word " * 20),         # symbol ratio
        (5, "the of " + "123 456 789 000 111 222 " * 10),  # alpha < 80%
        (6, "lorem ipsum dolor sit amet " * 10),           # no stopwords
        (7, "the of is\n" + "- bullet\n" * 40),            # bullets > 90%
        (8, "the of is and then some more words here\n"
            + "trailing...\n" * 20),                       # ellipsis lines
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    from pyspark.sql import functions as F
    r = gopher_rules(F.col("text"), min_words=5)
    flags = ["words_ok", "mean_len_ok", "symbol_ok", "alpha_ok",
             "stopword_ok", "bullet_ok", "ellipsis_ok"]
    out = {row.doc_id: row for row in
           df.select("doc_id", *[r[f].alias(f) for f in flags]).collect()}
    assert all(getattr(out[0], f) for f in flags), out[0]
    expected_fail = {1: "words_ok", 2: "mean_len_ok", 3: "mean_len_ok",
                     4: "symbol_ok", 5: "alpha_ok", 6: "stopword_ok",
                     7: "bullet_ok", 8: "ellipsis_ok"}
    for doc, flag in expected_fail.items():
        assert not getattr(out[doc], flag), (doc, flag, out[doc])


def test_line_corrections_rules_and_structure(spark):
    """Each line rule fires on its crafted line; empty lines survive as
    paragraph structure; dropped_doc flags a chrome-gutted document."""
    from comix_etl_spark.functions.text import line_corrections

    good = "This is a perfectly ordinary sentence about nothing much."
    doc = "\n".join([
        "42 likes",          # counter
        good,
        "",                  # paragraph break — must survive
        "Read More",         # nav
        "1 2 3 / 4",         # numeric chrome
        "SHOUTING HEADER",   # uppercase
        "second real line here with Words and productive content.",
    ])
    gutted = "\n".join(["999 views"] * 10 + ["tiny"])
    df = spark.createDataFrame([(1, doc), (2, gutted)],
                               "doc_id long, text string")
    r = line_corrections(F.col("text"))
    out = {row.doc_id: row for row in df.select(
        "doc_id", r["kept_text"].alias("kept"),
        r["n_lines"].alias("n_lines"), r["n_removed"].alias("n_removed"),
        r["dropped_doc"].alias("dropped")).collect()}
    assert out[1].kept.split("\n") == [
        good, "",
        "second real line here with Words and productive content."]
    assert out[1].n_lines == 6 and out[1].n_removed == 4
    assert not out[1].dropped
    assert out[2].dropped and out[2].kept == "tiny"
