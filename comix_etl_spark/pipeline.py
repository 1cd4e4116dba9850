"""The §3.1 end-to-end ETL DAG: extract → normalize → merge → quality →
audit (reference comixcatalog_starter.zip!etl/etl.py:17-45).

One driver function orchestrates lazy plans. A run's Spark actions are:

1. only when ``expected_min > 0``, the gate pre-pass: one scan of the
   raw batch into the ``noop`` sink that observes its row count, so a
   short batch raises before anything is staged;
2. the staged write of the merged table, which observes (``df.observe``)
   the batch's row and orphan-credit counts on the raw batch and the
   merged table's total and NULL counts, all in flight.

The audit row is written on the driver (``EtlRun.append_to``), with no
Spark job.

The target's column names are checked from one parquet footer on the
driver; an absent target is a cold start, which Spark never reads. A
warm target is read with the batch's schema pinned, so no footer
inference job runs. The written table is never read back.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from comix_etl_spark.operators.audit import EtlRun
from comix_etl_spark.operators.merge import upsert_selective
from comix_etl_spark.operators.quality import batch_guardrail, null_counts
from comix_etl_spark.sinks.writers import safe_overwrite_parquet
from comix_etl_spark.sources.json_source import normalize_comics


@dataclass
class RunResult:
    records_read: int
    records_loaded: int
    status: str
    quality: dict


def _orphan_credits() -> Column:
    """Credits with no issue row, as an aggregate over the RAW batch.

    ``normalize_comics`` is a 1:1 projection with ``marvel_comic_id =
    id``, so every credit of a non-NULL id has its batch key and the
    merge keeps it; a NULL id matches no key. The orphans are thus the
    credits ``explode_credits`` emits for NULL-id rows: ``size`` of a
    non-NULL ``creators.items`` (explode skips a NULL array and keeps
    NULL elements). ``coalesce``: an empty batch sums to NULL."""
    items = F.col("creators.items")
    return F.coalesce(
        F.sum(F.when(F.col("id").isNull() & items.isNotNull(), F.size(items))
              .otherwise(0)), F.lit(0)).cast("long").alias("orphan_credits")


def _require_batch_columns(target_path: str, columns: list[str]) -> None:
    """Raise unless the target's parquet footer has exactly the batch's
    columns. The pinned-schema read would fill a missing column with
    NULLs and drop an extra one; reading one footer on the driver
    (``pyarrow.dataset`` skips ``_``/``.`` files, as Spark does) costs no
    Spark job, and a corrupt footer raises here too. An absent target
    raises ``FileNotFoundError``."""
    import pyarrow.dataset as ds

    found = ds.dataset(target_path, format="parquet").schema.names
    missing = [c for c in columns if c not in found]
    extra = [c for c in found if c not in columns]
    if missing or extra:
        raise ValueError(f"target {target_path} does not match the batch schema: "
                         f"missing columns {missing}, unexpected columns {extra}")


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
        if expected_min > 0:
            # the gate pre-pass: one parallel scan, no exchange. Caching
            # the batch for the write costs more jobs than parsing it twice
            gate = Observation()
            (raw.observe(gate, F.count(F.lit(1)).alias("n_rows"))
             .write.format("noop").mode("overwrite").save())
            batch_guardrail(gate.get["n_rows"], expected_min)  # the 80% rule

        # the batch's counts ride the staged write, observed on the raw
        # batch below normalize_comics; the cold-start frame derives from
        # the UNOBSERVED batch so the observed node is in the plan once
        counted = Observation()
        issues = normalize_comics(raw.observe(
            counted, F.count(F.lit(1)).alias("n_rows"), _orphan_credits()))
        try:
            _require_batch_columns(target_path, issues.columns)
        except FileNotFoundError:
            # ONLY an absent target means cold start: any other failure
            # (corrupt footer, permissions) propagates — falling back to
            # an empty frame would let the overwrite replace the whole
            # table with one batch
            existing = normalize_comics(raw).limit(0)
        else:
            existing = spark.read.schema(issues.schema).parquet(target_path)
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
        nulls = observation.get
        n_total = nulls.pop("total_rows")
        counts = counted.get

        run.records_read = counts["n_rows"]
        run.records_loaded = n_total
        quality = {**nulls, "orphan_credits": counts["orphan_credits"]}
        run.finish("SUCCESS", **quality)
        return_result = RunResult(run.records_read, n_total, "SUCCESS", quality)
    except Exception as e:
        run.finish("FAILED", notes=str(e)[:500])
        run.append_to(audit_path)
        raise
    run.append_to(audit_path)
    return return_result
