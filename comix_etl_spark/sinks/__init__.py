"""Sinks (SURVEY.md §2.1 S8–S13): parquet/csv/json/binary writers,
staged-swap overwrite, catalog and bucketed store tables."""

from comix_etl_spark.sinks.writers import (  # noqa: F401
    bootstrap_tables,
    safe_overwrite_parquet,
    save_as_table,
    write_binary_payloads,
    write_csv_report,
    write_json_records,
    write_table,
)
