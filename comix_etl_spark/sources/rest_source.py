"""S1, S2, S4, S5 — REST-paginated source as a distributed Spark read.
(S3, the prefix crawl, is ``operators/relational.py:union_prefix_crawl``.)

The reference pulls pages sequentially on one machine with offset loops,
retry/backoff, politeness sleeps, and a file cache
(etl/sources/marvel_extract.py:61-130; etl/seed/seed_from_marvel.py:58-178).
Here the page grid is a DataFrame and each task fetches its own page
range inside ``mapInPandas`` — the driver never touches payload bytes:

    spark.range(n_pages) → repartition(k) → mapInPandas(fetch) → raw rows

Design points for production scale:
- ``fetcher`` is injected (url, params) -> list[dict]. Tests and the
  registry use a deterministic fake; a real one wraps requests + HMAC
  auth (F15) — same plan either way, no network in the engine itself.
- retry/backoff lives INSIDE the task (S4): Spark retries whole tasks,
  which would re-fetch good pages; the wrapper retries one HTTP call.
- bounded parallelism (``max_concurrency``) respects API rate limits:
  a 1000-executor cluster must not open 1000 connections to a partner
  API — the fetch stage is capped via repartition, independent of the
  downstream plan's parallelism.
- incremental refetch (S5's cache) is the bronze-layer pattern: land
  raw pages to parquet, anti-join page keys before fetching again.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

Fetcher = Callable[[str, dict], list[dict]]


def retrying(fetcher: Fetcher, *, max_retries: int = 5, backoff: float = 1.5,
             sleep: Callable[[float], None] = time.sleep) -> Fetcher:
    """S4 — ≤max_retries attempts with linear backoff (reference
    safe_get, marvel_extract.py:8-27)."""

    if max_retries < 1:
        raise ValueError(f"max_retries must be >= 1, got {max_retries} "
                         "(0 would mean never attempting the fetch)")

    def wrapped(url: str, params: dict) -> list[dict]:
        last: Exception | None = None
        for attempt in range(1, max_retries + 1):
            try:
                return fetcher(url, params)
            except Exception as e:  # noqa: BLE001 — retry any transport error
                last = e
                if attempt < max_retries:
                    sleep(backoff * attempt)
        raise last  # type: ignore[misc]

    return wrapped


def _page_fetcher(url: str, fetcher: Fetcher, base_params: dict):
    """The ONE executor-side page-fetch closure shared by the full and
    incremental readers — a fix to payload handling or politeness
    pacing cannot silently miss the other path."""

    def fetch_pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for offset, limit in zip(pdf["offset"], pdf["limit"]):
                params = dict(base_params, offset=int(offset), limit=int(limit))
                for rec in fetcher(url, params):
                    out.append({"offset": int(offset), "payload": json.dumps(rec, sort_keys=True)})
            yield pd.DataFrame(out, columns=["offset", "payload"])

    return fetch_pages


def paginated_read(spark: SparkSession, url: str, *, total: int, page_size: int,
                   fetcher: Fetcher, max_concurrency: int = 8,
                   extra_params: dict | None = None) -> DataFrame:
    """Fetch ``total`` records in offset pages of ``page_size`` across at
    most ``max_concurrency`` parallel tasks; returns one row per record
    with the raw payload as a JSON string column (parse downstream with
    from_json + an explicit schema)."""
    n_pages = (total + page_size - 1) // page_size
    pages = page_grid(spark, total=total, page_size=page_size) \
        .repartition(min(max_concurrency, max(n_pages, 1)))
    fetch_pages = _page_fetcher(url, fetcher, dict(extra_params or {}))
    return pages.mapInPandas(fetch_pages, schema="offset long, payload string")


def keyed_lookup_read(spark: SparkSession, url: str, keys: list[dict], *,
                      fetcher: Fetcher, max_concurrency: int = 8,
                      extra_params: dict | None = None) -> DataFrame:
    """S2 — one record per lookup key (reference ``get_specific_comic`` /
    ``get_series_by_id``, etl/sources/marvel_extract.py:29-59): each key
    dict becomes request params + ``limit=1``; the first result is kept,
    a miss yields a NULL payload row (the reference returns ``None``).

    Keys are distributed like pages in ``paginated_read`` — the driver
    never sees payloads, and parallelism is capped at ``max_concurrency``
    so a wide cluster can't stampede the partner API.
    """
    base_params = dict(extra_params or {})
    kf = spark.createDataFrame(
        [(json.dumps(k, sort_keys=True),) for k in keys], "key string"
    ).repartition(min(max_concurrency, max(len(keys), 1)))

    def fetch_keys(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for key_json in pdf["key"]:
                params = dict(base_params, **json.loads(key_json), limit=1)
                recs = fetcher(url, params)
                out.append({
                    "key": key_json,
                    "payload": json.dumps(recs[0], sort_keys=True) if recs else None,
                })
            yield pd.DataFrame(out, columns=["key", "payload"])

    return kf.mapInPandas(fetch_keys, schema="key string, payload string")


def page_grid(spark: SparkSession, *, total: int, page_size: int) -> DataFrame:
    """The offset/limit page plan shared by full and incremental reads."""
    n_pages = (total + page_size - 1) // page_size
    return spark.range(n_pages).select(
        (F.col("id") * page_size).alias("offset"),
        F.lit(page_size).alias("limit"),
    )


def missing_pages(spark: SparkSession, *, total: int, page_size: int,
                  bronze_path: str) -> DataFrame:
    """Pages of the grid not yet landed in the bronze layer: anti-join on
    offset against the landed parquet (reference cache-file check,
    etl/seed/seed_from_marvel.py:91-103 / cv_fetch_covers.py:71-83 —
    one distributed anti-join instead of a per-key ``Path.exists``)."""
    grid = page_grid(spark, total=total, page_size=page_size)
    try:
        landed = spark.read.parquet(bronze_path).select("offset").distinct()
    except AnalysisException as e:
        # ONLY path-not-found means "first run, nothing landed": a
        # transient storage error or corrupt footer must PROPAGATE —
        # treating it as first-run would refetch the whole grid and
        # append every record a second time (idempotency broken)
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return grid
        raise
    return grid.join(landed, "offset", "left_anti")


def incremental_paginated_read(spark: SparkSession, url: str, *, total: int,
                               page_size: int, fetcher: Fetcher, bronze_path: str,
                               max_concurrency: int = 8,
                               extra_params: dict | None = None) -> DataFrame:
    """S5 — bronze landing + incremental refetch.

    Raw pages land append-only in parquet at ``bronze_path``; a rerun
    fetches ONLY offsets missing from the landing zone (the reference's
    response-cache pattern, generalized to a distributed anti-join).
    Returns the complete bronze DataFrame. Idempotent: a second run over
    an unchanged grid performs zero fetches.

    At 100 TB the bronze layer is the replayable source of truth: the
    anti-join is one shuffle over offsets (bytes, not payloads), and the
    fetch stage only materializes genuinely-new pages.
    """
    # checkpoint the (driver-small, one row per PAGE) todo grid: the
    # count gate and the fetch job would otherwise each re-run the
    # bronze read + anti-join
    todo = missing_pages(spark, total=total, page_size=page_size,
                         bronze_path=bronze_path).localCheckpoint(eager=True)
    fetch_pages = _page_fetcher(url, fetcher, dict(extra_params or {}))
    n_todo = todo.count()
    if n_todo > 0:
        (todo.repartition(min(max_concurrency, n_todo))
             .mapInPandas(fetch_pages, schema="offset long, payload string")
             .write.mode("append").parquet(bronze_path))
    return spark.read.parquet(bronze_path)


def fake_marvel_fetcher(n_records: int = 500, page_size_cap: int = 100) -> Fetcher:
    """Deterministic stand-in for the Marvel API (no network): generates
    the same records for the same (offset, limit) forever. Used by tests
    and the registry's rows-only REST query."""

    def fetch(url: str, params: dict) -> list[dict]:
        if "title" in params:  # S2 keyed lookup: exact title (+issueNumber)
            t = str(params["title"])
            if not t.startswith("Issue "):
                return []
            try:
                i = int(t.removeprefix("Issue "))
            except ValueError:
                return []
            if not (0 <= i < n_records):
                return []
            if "issueNumber" in params and float(params["issueNumber"]) != float(i % 40):
                return []
            return [{"id": 5_000_000 + i, "title": f"Issue {i}",
                     "issueNumber": float(i % 40),
                     "prices": [{"type": "printPrice", "price": round(1.99 + (i % 5), 2)}]}]
        offset = int(params.get("offset", 0))
        limit = min(int(params.get("limit", page_size_cap)), page_size_cap)
        hi = min(offset + limit, n_records)
        return [
            {"id": 5_000_000 + i, "title": f"Issue {i}", "issueNumber": float(i % 40),
             "prices": [{"type": "printPrice", "price": round(1.99 + (i % 5), 2)}]}
            for i in range(offset, hi)
        ]

    return fetch
