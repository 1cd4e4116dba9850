"""Second-API enrichment flow — the ComicVine cover fetcher re-expressed
as a distributed plan (reference cv_fetch_covers.py:85-213).

The reference iterates CSV rows on one machine: resolve a volume id per
series title (with a file cache), look up the issue's image URL, download
it, and append failures to a missing-covers report. Here each step is a
DataFrame stage:

    issues ──▶ distinct titles ──anti-join cache──▶ volume search (mapInPandas)
           ──▶ broadcast join volumes back ──▶ issue-image lookup (mapInPandas)
           ──▶ status column (saved | skipped | no_volume | no_image)
           ──▶ missing report (write_csv_report) / S9 sink

Scale notes:
- volume resolution is dedup-before-fetch: one search per DISTINCT title,
  not per row (the reference's cache made repeat rows cheap; a distributed
  engine must also not fetch the same title from two executors).
- the title→volume cache is a bronze parquet anti-joined like S5; only
  HITS are cached (the reference caches only found volumes,
  cv_fetch_covers.py:98-100).
- fetch stages are `mapInPandas` with bounded parallelism — a
  1000-executor cluster must not open 1000 connections to the partner API.
- payload bytes never touch the driver; the S9 sink
  (sinks/writers.py:write_binary_payloads) writes per-partition.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from comix_etl_spark.sources.rest_source import Fetcher


def resolve_volumes(spark: SparkSession, titles: DataFrame, *, fetcher: Fetcher,
                    title_col: str = "series", cache_path: str | None = None,
                    max_concurrency: int = 8) -> DataFrame:
    """Resolve each distinct title to a volume id via a limit=1 search
    against the second API (reference find_volume_id,
    cv_fetch_covers.py:85-102). Returns (title_col, volume_id) with NULL
    volume_id for unresolved titles. With ``cache_path``, previously
    resolved titles are anti-joined away and new HITS appended."""
    distinct = titles.select(F.col(title_col).cast("string")).distinct()
    cached = None
    if cache_path:
        try:
            cached = spark.read.parquet(cache_path)
        except Exception:  # noqa: BLE001 — cold cache
            cached = None
    todo = distinct if cached is None else distinct.join(
        cached.select(title_col), title_col, "left_anti")

    def search(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for title in pdf[title_col]:
                recs = fetcher("search", {"query": title, "resources": "volume", "limit": 1})
                vid = recs[0].get("id") if recs else None
                out.append({title_col: title,
                            "volume_id": int(vid) if vid is not None else None})
            yield pd.DataFrame(out, columns=[title_col, "volume_id"])

    # localCheckpoint: the fetch runs AT MOST ONCE per flow — without a
    # lineage cut every downstream action would re-invoke the remote
    # search for all titles (harmless with fakes, a repeat volley
    # against a rate-limited partner API in production)
    fetched = (todo.repartition(max_concurrency)
               .mapInPandas(search, schema=f"{title_col} string, volume_id long")
               .localCheckpoint(eager=False))
    if cache_path:
        hits = fetched.filter(F.col("volume_id").isNotNull())
        hits.write.mode("append").parquet(cache_path)
        return spark.read.parquet(cache_path).join(
            distinct, title_col, "right_outer")  # misses surface as NULL
    return fetched


def fetch_issue_urls(resolved: DataFrame, *, fetcher: Fetcher,
                     volume_col: str = "volume_id", issue_col: str = "issue_number",
                     max_concurrency: int = 8) -> DataFrame:
    """(volume_id, issue_number) → image URL or NULL (reference
    get_issue_image, cv_fetch_covers.py:104-114). Distinct pairs only —
    the same issue is never fetched twice."""
    pairs = (resolved.select(volume_col, F.col(issue_col).cast("string").alias(issue_col))
             .filter(F.col(volume_col).isNotNull()).distinct())

    def lookup(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for vid, ino in zip(pdf[volume_col], pdf[issue_col]):
                recs = fetcher("issues", {
                    "filter": f"volume:{int(vid)},issue_number:{ino}",
                    "field_list": "image,volume,issue_number", "limit": 1,
                })
                img = (recs[0].get("image") or {}) if recs else {}
                url = img.get("medium_url") or img.get("thumb_url")
                out.append({volume_col: int(vid), issue_col: ino, "img_url": url})
            yield pd.DataFrame(out, columns=[volume_col, issue_col, "img_url"])

    # at-most-once fetch per flow, as in resolve_volumes
    return (pairs.repartition(max_concurrency)
            .mapInPandas(lookup, schema=f"{volume_col} long, {issue_col} string, img_url string")
            .localCheckpoint(eager=False))


def cover_enrichment(spark: SparkSession, issues: DataFrame, *, fetcher: Fetcher,
                     cache_path: str | None = None,
                     max_concurrency: int = 8) -> DataFrame:
    """The full reference flow as one plan: returns every input row with
    ``volume_id``, ``img_url`` and a ``status`` of

    - ``skipped``   — no cover_path on the row (cv_fetch_covers.py:169-171)
    - ``no_volume`` — title search found nothing   (…:182-184)
    - ``no_image``  — issue lookup found no image  (…:187-190)
    - ``saved``     — an image URL is ready to download

    The missing report is ``filter(status != 'saved' AND status !=
    'skipped')`` → sinks.write_csv_report (reference missing_covers.csv).
    """
    rows = issues.select(
        F.col("series").cast("string").alias("series"),
        F.col("issue_number").cast("string").alias("issue_number"),
        F.col("cover_path").cast("string").alias("cover_path"),
    )
    actionable = rows.filter(F.col("cover_path").isNotNull() & (F.col("cover_path") != ""))
    volumes = resolve_volumes(spark, actionable, fetcher=fetcher,
                              cache_path=cache_path, max_concurrency=max_concurrency)
    with_vol = actionable.join(F.broadcast(volumes), "series", "left")
    urls = fetch_issue_urls(with_vol, fetcher=fetcher, max_concurrency=max_concurrency)
    enriched = with_vol.join(F.broadcast(urls), ["volume_id", "issue_number"], "left")

    # skipped = the direct complement of the actionable predicate — NOT
    # an anti-join on (series, issue_number): that key is non-unique, so
    # a no-cover row whose key also appears WITH a cover would be
    # anti-joined away entirely, breaking rows-in == rows-out
    skipped = rows.filter(F.col("cover_path").isNull() | (F.col("cover_path") == "")).select(
        "series", "issue_number", "cover_path",
        F.lit(None).cast("long").alias("volume_id"),
        F.lit(None).cast("string").alias("img_url"),
        F.lit("skipped").alias("status"),
    )
    status = (
        F.when(F.col("volume_id").isNull(), "no_volume")
        .when(F.col("img_url").isNull(), "no_image")
        .otherwise("saved")
    )
    return enriched.select("series", "issue_number", "cover_path", "volume_id",
                           "img_url", status.alias("status")).unionByName(skipped)


# ---------------------------------------------------------------------------
# Deterministic fakes (tests + registry; no network in the engine)
# ---------------------------------------------------------------------------

def fake_comicvine_fetcher(volumes: dict[str, int] | None = None) -> Fetcher:
    """Stand-in for the ComicVine API: a title resolves iff it is in
    ``volumes``; an issue has an image iff its number is a plain integer
    (so '1.1' and 'annual-1' are misses, like real variant numbering)."""
    vols = volumes if volumes is not None else {"Amazing Adventures": 901, "Spider Tales": 902}

    def fetch(endpoint: str, params: dict) -> list[dict]:
        if params.get("resources") == "volume":
            vid = vols.get(str(params.get("query")))
            return [{"id": vid, "name": params["query"]}] if vid is not None else []
        if "filter" in params:
            kv = dict(p.split(":", 1) for p in str(params["filter"]).split(","))
            vid, ino = kv.get("volume"), kv.get("issue_number")
            if vid is not None and ino is not None and re.fullmatch(r"[0-9]+", ino):
                return [{"image": {"medium_url": f"http://img.example/cv/{vid}/{ino}.jpg"},
                         "issue_number": ino}]
            return []
        return []

    return fetch
