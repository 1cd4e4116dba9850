"""A4 — etl_run audit lifecycle (SURVEY.md §2.4).

The reference opens an EtlRun row (status=STARTED), accumulates
records_read/records_loaded, and closes with SUCCESS/FAILED + notes
(comixcatalog_starter.zip!etl/etl.py:20-45; sql/schema.sql:42-51).

Here the audit table is an append-only parquet directory: each run
appends exactly one immutable row at close (append-only keeps the write
atomic per run — no read-modify-write races between concurrent runs).
A SUCCESS row also carries the run's observed quality counters; they are
NULL on a FAILED row and in rows written before the columns existed.
"""

from __future__ import annotations

import datetime as dt
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from comix_etl_spark.schemas import ETL_RUN


@dataclass
class EtlRun:
    source_system: str
    # >> 64 keeps 64 random bits (the schema field is a Long): 32 bits
    # would hit ~50% collision odds near 77k runs — real at fleet scale
    run_id: int = field(default_factory=lambda: (uuid.uuid4().int >> 64)
                        - (1 << 63))
    started_at: dt.datetime = field(default_factory=lambda: dt.datetime.now(dt.timezone.utc))
    records_read: int = 0
    records_loaded: int = 0
    status: str = "STARTED"
    notes: str | None = None
    finished_at: dt.datetime | None = None
    null_onsale_date: int | None = None
    null_cover_url: int | None = None
    orphan_credits: int | None = None

    def finish(self, status: str = "SUCCESS", notes: str | None = None, *,
               null_onsale_date: int | None = None,
               null_cover_url: int | None = None,
               orphan_credits: int | None = None) -> "EtlRun":
        self.status = status
        self.notes = notes
        self.null_onsale_date = null_onsale_date
        self.null_cover_url = null_cover_url
        self.orphan_credits = orphan_credits
        self.finished_at = dt.datetime.now(dt.timezone.utc)
        return self

    def to_df(self, spark: SparkSession) -> DataFrame:
        """The row as literals over a one-partition range: one task in the
        JVM. ``createDataFrame`` over a Python list would run a
        Python-worker job (4 tasks) to write one row."""
        values = (
            self.run_id, self.source_system,
            self.started_at.replace(tzinfo=None),
            self.finished_at.replace(tzinfo=None) if self.finished_at else None,
            self.records_read, self.records_loaded, self.status, self.notes,
            self.null_onsale_date, self.null_cover_url, self.orphan_credits,
        )
        return spark.range(0, 1, 1, 1).select(*[
            F.lit(v).cast(f.dataType).alias(f.name)
            for v, f in zip(values, ETL_RUN.fields, strict=True)])

    def append_to(self, spark: SparkSession, path: str) -> None:
        self.to_df(spark).write.mode("append").parquet(path)


def read_audit(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(ETL_RUN).parquet(path)
