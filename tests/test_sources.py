"""Source-layer tests: CSV rejects, nested JSON ingest, REST pagination
with retry/backoff."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from comix_etl_spark.schemas import STATIC_ISSUES_CSV
from comix_etl_spark.sources.csv_source import read_csv_with_rejects, split_rejects
from comix_etl_spark.sources.json_source import explode_credits, normalize_comics, read_marvel_comics
from comix_etl_spark.sources.rest_source import (
    fake_marvel_fetcher,
    incremental_paginated_read,
    keyed_lookup_read,
    missing_pages,
    paginated_read,
    retrying,
)

DATA = os.path.join(os.path.dirname(__file__), "data")
CSV_OK = os.path.join(DATA, "static_issues.csv")
CSV_CORRUPT = os.path.join(DATA, "static_issues_corrupt.csv")
JSONL = os.path.join(DATA, "marvel_comics.jsonl")
HEADER = ["series", "publisher", "issue_number", "issue_title", "cover_path", "notes"]


def test_csv_duplicated_header_quarantined(spark):
    raw = read_csv_with_rejects(spark, CSV_OK, STATIC_ISSUES_CSV)
    good, rejects = split_rejects(raw, HEADER)
    assert good.count() == 6
    assert rejects.count() == 1
    # the defect the reference silently ingested: a row whose cells are the header
    assert rejects.collect()[0].issue_number == "issue_number"


def test_csv_arity_defect_field_shift_needs_semantic_check(spark):
    """An unquoted comma does NOT produce a corrupt record — the parser
    silently shifts fields (observed in both Spark PERMISSIVE and
    DuckDB). Only a semantic validator catches it."""
    raw = read_csv_with_rejects(spark, CSV_CORRUPT, STATIC_ISSUES_CSV)
    # without a validator the shifted row lands in 'good' — the defect
    # the reference actually shipped
    good_naive, rejects_naive = split_rejects(raw, HEADER)
    assert good_naive.count() == 7 and rejects_naive.count() == 1
    # with a path-shape validator the shifted row is quarantined
    bad_cover = ~F.coalesce(F.col("cover_path"), F.lit("covers/_")).startswith("covers/")
    good, rejects = split_rejects(raw, HEADER, semantic_invalid=bad_cover)
    assert good.count() == 6
    shifted = [r for r in rejects.collect() if r.series == "Days of Future"]
    assert len(shifted) == 1 and shifted[0].cover_path == " Part 1"


def test_marvel_normalize_semantics(spark):
    flat = {r.marvel_comic_id: r for r in
            normalize_comics(read_marvel_comics(spark, JSONL)).collect()}
    assert len(flat) == 40
    r1 = flat[1001]  # issueNumber 1.1 → "1.1"
    assert r1.issue_number == "1.1"
    r0 = flat[1000]  # i=0: unparseable onsale date, variant, not-available thumb
    assert r0.onsale_date is None
    assert r0.is_variant is True
    assert r0.cover_url is None
    assert flat[1001].cover_url == "http://img.example/c1/portrait_uncanny.jpg"
    assert all(isinstance(r.price_cents, int) for r in flat.values())


def test_marvel_credits_normalized(spark):
    credits = explode_credits(read_marvel_comics(spark, JSONL))
    assert credits.count() == 80  # 2 per comic
    roles = {r.role for r in credits.select("role").distinct().collect()}
    assert roles <= {"writer", "penciler", "inker", "colorist"}
    names = [r.creator_name for r in credits.limit(5).collect()]
    assert all(n == n.lower() for n in names)


def test_paginated_read_covers_all_offsets(spark):
    df = paginated_read(spark, "http://x", total=250, page_size=100,
                        fetcher=fake_marvel_fetcher(250), max_concurrency=3)
    rows = df.collect()
    assert len(rows) == 250
    assert {r.offset for r in rows} == {0, 100, 200}
    ids = [F and r for r in rows]  # noqa: F841
    parsed = df.select(F.get_json_object("payload", "$.id").cast("long").alias("id"))
    assert parsed.distinct().count() == 250


def test_keyed_lookup_hit_and_miss(spark):
    """S2 — limit=1 keyed lookup: hits carry the record, misses a NULL
    payload (reference get_specific_comic returns None on 0 results)."""
    keys = [
        {"title": "Issue 7", "issueNumber": 7.0},          # hit
        {"title": "Issue 7", "issueNumber": 9.0},          # wrong issue → miss
        {"title": "No Such Series", "issueNumber": 1.0},   # unknown title → miss
    ]
    out = keyed_lookup_read(spark, "http://x", keys,
                            fetcher=fake_marvel_fetcher(250), max_concurrency=2)
    rows = {r.key: r.payload for r in out.collect()}
    assert len(rows) == 3
    hits = {k: v for k, v in rows.items() if v is not None}
    assert len(hits) == 1
    assert '"id": 5000007' in next(iter(hits.values()))


def test_incremental_refetch_fetches_only_missing(spark, tmp_path):
    """S5 — first run lands all pages; second run must fetch NOTHING
    (proven with a fetcher that raises on any call); after dropping one
    landed page, only that page is refetched."""
    bronze = str(tmp_path / "bronze_pages")

    first = incremental_paginated_read(
        spark, "http://x", total=250, page_size=100,
        fetcher=fake_marvel_fetcher(250), bronze_path=bronze, max_concurrency=3)
    assert first.count() == 250
    assert missing_pages(spark, total=250, page_size=100, bronze_path=bronze).count() == 0

    def poisoned(url, params):
        raise AssertionError(f"unexpected fetch: {params}")

    second = incremental_paginated_read(
        spark, "http://x", total=250, page_size=100,
        fetcher=poisoned, bronze_path=bronze, max_concurrency=3)
    assert second.count() == 250

    # widen the grid: only the NEW page may be fetched
    calls_seen = []

    def only_new(url, params):
        assert params["offset"] == 300, f"refetched landed page {params}"
        return [{"id": 999, "title": "tail"}]

    third = incremental_paginated_read(
        spark, "http://x", total=400, page_size=100,
        fetcher=only_new, bronze_path=bronze, max_concurrency=3)
    assert third.count() == 251
    assert calls_seen == []  # assertion lives inside only_new


def test_retrying_retries_then_succeeds():
    calls = {"n": 0}

    def flaky(url, params):
        calls["n"] += 1
        if calls["n"] < 3:
            raise ConnectionError("boom")
        return [{"ok": True}]

    slept = []
    out = retrying(flaky, max_retries=5, backoff=0.5, sleep=slept.append)("u", {})
    assert out == [{"ok": True}]
    assert calls["n"] == 3
    assert slept == [0.5, 1.0]  # linear backoff × attempt


def test_retrying_exhausts_and_raises():
    def always_fail(url, params):
        raise ConnectionError("down")

    with pytest.raises(ConnectionError):
        retrying(always_fail, max_retries=3, backoff=0, sleep=lambda s: None)("u", {})


def test_python_datasource_batch_matches_mapinpandas_read(spark):
    """The registered DataSource V2 format must return exactly the rows
    of the mapInPandas form (same fake fetcher, same page grid) and
    carve the read into max_concurrency planner-visible partitions."""
    from comix_etl_spark.sources.python_datasource import register
    from comix_etl_spark.sources.rest_source import (fake_marvel_fetcher,
                                                     paginated_read)

    register(spark)
    ds = (spark.read.format("comix_rest_pages")
          .option("url", "https://example.invalid/comics")
          .option("total", "500").option("page_size", "100")
          .option("max_concurrency", "4").load())
    assert ds.rdd.getNumPartitions() == 3  # ceil(5 pages / ceil(5/4))
    mp = paginated_read(spark, "https://example.invalid/comics", total=500,
                        page_size=100, fetcher=fake_marvel_fetcher(500),
                        max_concurrency=4)
    assert sorted(map(tuple, ds.collect())) == sorted(map(tuple, mp.collect()))


def test_python_datasource_stream_resumes_from_page_cursor(spark, tmp_path):
    """comix_rest_stream checkpoints the PAGE CURSOR as its offset: each
    availableNow run drains one read() (pages_per_batch pages) and a
    restart resumes where the previous run stopped — S5 incremental
    refetch from the engine's own checkpoint, no hand-rolled cache."""
    from comix_etl_spark.sources.python_datasource import register

    register(spark)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def run_once():
        stream = (spark.readStream.format("comix_rest_stream")
                  .option("total", "500").option("page_size", "100")
                  .option("pages_per_batch", "2").load())
        q = (stream.writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        got = spark.read.parquet(out)
        return got.count(), {r.offset for r in got.select("offset").distinct().collect()}

    assert run_once() == (200, {0, 100})             # pages 0-1
    assert run_once() == (400, {0, 100, 200, 300})   # resume: pages 2-3
    n, offs = run_once()                             # page 4 (the tail)
    assert n == 500 and offs == {0, 100, 200, 300, 400}
    # grid exhausted: a further run lands nothing new
    assert run_once()[0] == 500


def test_retrying_rejects_zero_retries():
    from comix_etl_spark.sources.rest_source import retrying

    with pytest.raises(ValueError, match="max_retries"):
        retrying(lambda u, p: [], max_retries=0)


def test_missing_pages_propagates_non_pathmissing_errors(spark, tmp_path):
    """A transient/corrupt bronze read must PROPAGATE, not silently
    become 'first run' (which would refetch and append every record a
    second time)."""
    from comix_etl_spark.sources.rest_source import missing_pages

    # absent path -> full grid (the legitimate first-run case)
    grid = missing_pages(spark, total=50, page_size=10,
                         bronze_path=str(tmp_path / "nope"))
    assert grid.count() == 5
    # corrupt parquet footer -> must raise, not return the full grid
    bad = tmp_path / "bronze"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        missing_pages(spark, total=50, page_size=10,
                      bronze_path=str(bad)).count()
