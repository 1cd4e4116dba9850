"""A4 — etl_run audit lifecycle (SURVEY.md §2.4).

The reference opens an EtlRun row (status=STARTED), accumulates
records_read/records_loaded, and closes with SUCCESS/FAILED + notes
(comixcatalog_starter.zip!etl/etl.py:20-45; sql/schema.sql:42-51).

Here the audit table is an append-only parquet directory: each run
appends exactly one immutable row at close (append-only keeps the write
atomic per run — no read-modify-write races between concurrent runs).
The driver already holds the row, so it writes the file itself with
pyarrow: no Spark job. A SUCCESS row also carries the run's observed
quality counters; they are NULL on a FAILED row and in rows written
before the columns existed.
"""

from __future__ import annotations

import datetime as dt
import os
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

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

    def append_to(self, path: str) -> None:
        """Append the row to the audit dir ``path`` as one parquet file,
        written on the driver: no Spark job. The arrow schema derives from
        ``ETL_RUN`` (timestamps as ``timestamp[us, tz=UTC]``).

        The file lands under a hidden temp name and is renamed into place,
        so a reader sees the whole row or none of it (Spark and pyarrow
        skip ``.``/``_`` names, and a crash leaves only a hidden
        ``.part-…tmp``), and a fresh uuid per file keeps concurrent runs
        from sharing a name. ``path`` must be a directory the driver can
        see, the contract ``sinks.safe_overwrite_parquet``'s rename and the
        pipeline's footer check already hold to."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.table({f.name: [getattr(self, f.name)] for f in ETL_RUN.fields},
                         schema=to_arrow_schema(ETL_RUN))
        os.makedirs(path, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(path, f".{name}.tmp")
        try:
            pq.write_table(table, tmp)
            os.replace(tmp, os.path.join(path, name))
        except BaseException:
            if os.path.exists(tmp):
                os.remove(tmp)
            raise


def read_audit(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(ETL_RUN).parquet(path)
