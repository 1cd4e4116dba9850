"""The §3.1 end-to-end ETL DAG: extract → normalize → merge → quality →
audit (reference comixcatalog_starter.zip!etl/etl.py:17-45).

One driver function orchestrates lazy plans. A run's actions are:

1. the guardrail count, which also fills the batch cache;
2. on a warm target, the schema read of the existing table;
3. the staged write of the merged table, which observes the total and
   NULL counts in flight (``df.observe``);
4. the orphan-credit count over the cached batch;
5. the audit append.

The written table is never read back.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession

from comix_etl_spark.operators.audit import EtlRun
from comix_etl_spark.operators.merge import upsert_selective
from comix_etl_spark.operators.quality import batch_guardrail, null_counts, orphan_count
from comix_etl_spark.sinks.writers import safe_overwrite_parquet
from comix_etl_spark.sources.json_source import explode_credits, normalize_comics


@dataclass
class RunResult:
    records_read: int
    records_loaded: int
    status: str
    quality: dict


def run_marvel_batch(spark: SparkSession, raw: DataFrame, *, target_path: str,
                     audit_path: str, expected_min: int = 0,
                     source_system: str = "marvel") -> RunResult:
    """Load one batch of raw Marvel payloads into the issues table.

    Mirrors the reference run loop: audit open (STARTED row semantics are
    folded into the single close append — one immutable row per run),
    extract→transform→merge, quality counters, audit close; on failure the
    audit row records FAILED + notes and the exception propagates
    (unlike the reference's error-swallowing search route, SURVEY §3.2).
    """
    run = EtlRun(source_system=source_system)
    try:
        # cache the normalized batch: the guardrail count and the merge
        # both consume it — one source scan, not two
        issues = normalize_comics(raw).cache()
        n_read = batch_guardrail(issues, expected_min)  # the 80% rule
        run.records_read = n_read

        try:
            existing = spark.read.parquet(target_path)
        except Exception as e:
            # ONLY a genuinely-absent target means cold start: any other
            # read failure (transient FS error, permissions, corrupt
            # footer) must abort — falling back to an empty frame would
            # let the overwrite replace the whole table with one batch
            if not ("PATH_NOT_FOUND" in str(e)
                    or "Path does not exist" in str(e)):
                raise
            existing = issues.limit(0)
        merged = upsert_selective(
            existing, issues, ["marvel_comic_id"],
            update_cols=["price_cents", "isbn", "upc", "description", "cover_url"],
        )
        # staging write + directory swap: the old table stays intact until
        # the new one is fully materialized (cache is not durability —
        # see sinks.safe_overwrite_parquet). The total and NULL counts
        # ride the write itself (df.observe): no re-read of the table
        observation = Observation()
        safe_overwrite_parquet(
            merged.observe(observation, *null_counts(["onsale_date", "cover_url"])),
            target_path)
        # orphans against the cached batch, not the written table: every
        # credit's comic id comes from the same raw row as a batch key,
        # the merge keeps every non-null batch key and a NULL key matches
        # in neither — so both counts are equal
        orphans = orphan_count(
            explode_credits(raw).select("marvel_comic_id"),
            issues.select("marvel_comic_id"), "marvel_comic_id",
        ).collect()[0]["orphan_count"]
        issues.unpersist()
        nulls = observation.get
        n_total = nulls.pop("total_rows")

        run.records_loaded = n_total
        run.finish("SUCCESS")
        return_result = RunResult(n_read, n_total, "SUCCESS",
                                  {**nulls, "orphan_credits": orphans})
    except Exception as e:
        run.finish("FAILED", notes=str(e)[:500])
        run.append_to(spark, audit_path)
        raise
    run.append_to(spark, audit_path)
    return return_result
