"""Second-API enrichment flow (cv_fetch_covers analogue): volume cache,
status semantics, missing report, binary payload → S9 sink round-trip,
and the S13 catalog-table path."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from comix_etl_spark.multimodal.media import attach_binary_metadata, read_binary_files
from comix_etl_spark.schemas import ETL_RUN, STATIC_ISSUES_CSV
from comix_etl_spark.sinks.writers import (
    bootstrap_tables,
    save_as_table,
    write_binary_payloads,
    write_csv_report,
)
from comix_etl_spark.sources.csv_source import read_csv_with_rejects, split_rejects
from comix_etl_spark.sources.enrichment import (
    cover_enrichment,
    fake_comicvine_fetcher,
    resolve_volumes,
)

DATA = os.path.join(os.path.dirname(__file__), "data")
CSV_OK = os.path.join(DATA, "static_issues.csv")
HEADER = ["series", "publisher", "issue_number", "issue_title", "cover_path", "notes"]


def _issues(spark):
    raw = read_csv_with_rejects(spark, CSV_OK, STATIC_ISSUES_CSV)
    good, _ = split_rejects(raw, HEADER)
    return good


def test_cover_enrichment_statuses(spark):
    out = cover_enrichment(spark, _issues(spark), fetcher=fake_comicvine_fetcher())
    rows = {(r.series, r.issue_number): r for r in out.collect()}
    assert len(rows) == 6
    assert rows[("Amazing Adventures", "1")].status == "saved"
    assert rows[("Amazing Adventures", "1")].img_url == "http://img.example/cv/901/1.jpg"
    assert rows[("Spider Tales", "1.1")].status == "no_image"       # variant number
    assert rows[("Iron Saga", "annual-1")].status == "no_volume"    # unknown title
    assert rows[("Iron Saga", "2")].status == "skipped"             # no cover_path
    assert rows[("Iron Saga", "2")].volume_id is None


def test_volume_cache_prevents_refetch(spark, tmp_path):
    cache = str(tmp_path / "vol_cache")
    issues = _issues(spark)
    first = resolve_volumes(spark, issues, fetcher=fake_comicvine_fetcher(),
                            cache_path=cache)
    assert {(r.series, r.volume_id) for r in first.collect()} == {
        ("Amazing Adventures", 901), ("Spider Tales", 902), ("Iron Saga", None)}

    def poisoned(endpoint, params):
        if params.get("resources") == "volume" and params.get("query") != "Iron Saga":
            raise AssertionError(f"refetched cached title: {params}")
        return []  # Iron Saga was a miss — misses are re-tried (not cached)

    second = resolve_volumes(spark, issues, fetcher=poisoned, cache_path=cache)
    assert second.count() == 3


def test_missing_report_written(spark, tmp_path):
    out = cover_enrichment(spark, _issues(spark), fetcher=fake_comicvine_fetcher())
    missing = out.filter(~F.col("status").isin("saved", "skipped")) \
                 .select("series", "issue_number", F.col("status").alias("reason"))
    dest = str(tmp_path / "missing_covers_csv")
    write_csv_report(missing, dest)
    back = spark.read.option("header", True).csv(dest)
    got = {(r.series, r.issue_number, r.reason) for r in back.collect()}
    assert got == {("Spider Tales", "1.1", "no_image"),
                   ("Iron Saga", "annual-1", "no_volume")}


def test_download_and_binary_sink_round_trip(spark, tmp_path):
    """saved rows + payload column → S9 foreachPartition sink →
    binaryFile re-ingest: content and mime survive the round trip."""
    out = cover_enrichment(spark, _issues(spark), fetcher=fake_comicvine_fetcher())
    png = b"\x89PNG\r\n\x1a\n"  # PNG magic first, so the mime sniff sees image/png
    with_payload = (out.filter(F.col("status") == "saved")
                    .withColumn("payload", F.concat(F.lit(png),
                                                    F.encode("img_url", "UTF-8"))))

    dest_root = str(tmp_path / "covers_root")
    write_binary_payloads(with_payload, dest_root)
    files = read_binary_files(spark, f"{dest_root}/covers/*.jpg")
    assert files.count() == 3
    meta = attach_binary_metadata(files, payload_col="content")
    assert {r.meta.mime for r in meta.collect()} == {"image/png"}
    one = files.filter(F.col("path").endswith("aa1.jpg")).collect()[0]
    assert bytes(one.content) == png + b"http://img.example/cv/901/1.jpg"


def test_save_as_table_and_bootstrap(spark):
    """S13 — saveAsTable writes a managed catalog table; bootstrap DDL is
    idempotent (IF NOT EXISTS) and never truncates existing data."""
    spark.sql("DROP TABLE IF EXISTS t_listing_s13")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    save_as_table(df, "t_listing_s13")
    assert spark.table("t_listing_s13").count() == 2

    bootstrap_tables(spark, {"t_etl_run_s13": ETL_RUN, "t_listing_s13": ETL_RUN})
    assert spark.table("t_etl_run_s13").count() == 0
    # existing table untouched (IF NOT EXISTS, and its schema is the original)
    assert spark.table("t_listing_s13").count() == 2
    spark.sql("DROP TABLE IF EXISTS t_listing_s13")
    spark.sql("DROP TABLE IF EXISTS t_etl_run_s13")
