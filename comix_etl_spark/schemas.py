"""Explicit StructTypes for the comix data model and ingest payloads.

Mirrors the reference's declared schemas (reference: etl/models.py:25-158,
sql/schema.sql:1-51) and its nested Marvel JSON ingest shape
(etl/seed/seed_from_marvel.py:181-204). Fixed schemas — never inferred —
so scans prune columns and reads fail loudly on drift.

Surrogate-id note: the reference uses DB auto-increment PKs. A distributed
engine can't hand out a global counter without serializing; we use the
natural key itself, or ``xxhash64(natural key)`` when a compact id is
needed (documented deviation, SURVEY.md §7 risk register).
"""

from __future__ import annotations

from pyspark.sql import types as T

PUBLISHER = T.StructType([
    T.StructField("publisher_id", T.LongType(), False),
    T.StructField("name", T.StringType(), False),  # unique natural key
])

SERIES = T.StructType([
    T.StructField("series_id", T.LongType(), False),
    T.StructField("title", T.StringType(), False),
    T.StructField("publisher_id", T.LongType(), True),
    T.StructField("start_year", T.IntegerType(), True),
    T.StructField("volume", T.IntegerType(), True),
    T.StructField("source_key", T.StringType(), True),
    T.StructField("source_system", T.StringType(), True),
])

# issue_number is deliberately STRING: "1.1"-style variant numbers must
# survive (reference: comixcatalog_starter.zip!etl/transform.py:4-12).
ISSUE = T.StructType([
    T.StructField("issue_id", T.LongType(), False),
    T.StructField("series_id", T.LongType(), False),
    T.StructField("issue_number", T.StringType(), True),
    T.StructField("title", T.StringType(), True),
    T.StructField("release_date", T.DateType(), True),
    T.StructField("price_cents", T.LongType(), True),  # money as integer cents
    T.StructField("isbn", T.StringType(), True),
    T.StructField("upc", T.StringType(), True),
    T.StructField("description", T.StringType(), True),
    T.StructField("cover_url", T.StringType(), True),
    T.StructField("marvel_series_id", T.LongType(), True),
    T.StructField("marvel_comic_id", T.LongType(), True),
    T.StructField("onsale_date", T.DateType(), True),
    T.StructField("is_variant", T.BooleanType(), False),
    T.StructField("variant_name", T.StringType(), True),
    T.StructField("issue_order", T.IntegerType(), True),
])

CREATOR = T.StructType([
    T.StructField("creator_id", T.LongType(), False),
    T.StructField("name", T.StringType(), False),
])

# role is part of the identity (reference: sql/schema.sql:35-40)
ISSUE_CREATOR = T.StructType([
    T.StructField("issue_id", T.LongType(), False),
    T.StructField("creator_id", T.LongType(), False),
    T.StructField("role", T.StringType(), False),
])

ETL_RUN = T.StructType([
    T.StructField("run_id", T.LongType(), False),
    T.StructField("source_system", T.StringType(), True),
    T.StructField("started_at", T.TimestampType(), True),
    T.StructField("finished_at", T.TimestampType(), True),
    T.StructField("records_read", T.LongType(), True),
    T.StructField("records_loaded", T.LongType(), True),
    T.StructField("status", T.StringType(), True),  # STARTED|SUCCESS|FAILED
    T.StructField("notes", T.StringType(), True),
    # the pipeline's observed quality counters; NULL on a FAILED row
    T.StructField("null_onsale_date", T.LongType(), True),
    T.StructField("null_cover_url", T.LongType(), True),
    T.StructField("orphan_credits", T.LongType(), True),
])

# Nested Marvel REST payload, as consumed by the reference's transform
# (etl/seed/seed_from_marvel.py:181-204; starter etl/transform.py:31-45).
RAW_MARVEL_COMIC = T.StructType([
    T.StructField("id", T.LongType(), True),
    T.StructField("title", T.StringType(), True),
    T.StructField("issueNumber", T.DoubleType(), True),
    T.StructField("description", T.StringType(), True),
    T.StructField("isbn", T.StringType(), True),
    T.StructField("upc", T.StringType(), True),
    T.StructField("variantDescription", T.StringType(), True),
    T.StructField("dates", T.ArrayType(T.StructType([
        T.StructField("type", T.StringType(), True),
        T.StructField("date", T.StringType(), True),
    ])), True),
    T.StructField("prices", T.ArrayType(T.StructType([
        T.StructField("type", T.StringType(), True),
        T.StructField("price", T.DoubleType(), True),
    ])), True),
    T.StructField("creators", T.StructType([
        T.StructField("items", T.ArrayType(T.StructType([
            T.StructField("name", T.StringType(), True),
            T.StructField("role", T.StringType(), True),
        ])), True),
    ]), True),
    T.StructField("thumbnail", T.StructType([
        T.StructField("path", T.StringType(), True),
        T.StructField("extension", T.StringType(), True),
    ]), True),
])

# CSV seed shape (reference: seeds/static_issues.csv header). Read with
# PERMISSIVE mode + _corrupt_record so the reference's real mid-file
# duplicated-header defect becomes a quality-filterable row, not silent data.
STATIC_ISSUES_CSV = T.StructType([
    T.StructField("series", T.StringType(), True),
    T.StructField("publisher", T.StringType(), True),
    T.StructField("issue_number", T.StringType(), True),
    T.StructField("issue_title", T.StringType(), True),
    T.StructField("cover_path", T.StringType(), True),
    T.StructField("notes", T.StringType(), True),
    T.StructField("_corrupt_record", T.StringType(), True),
])

LISTING = T.StructType([
    T.StructField("listing_id", T.LongType(), False),
    T.StructField("issue_id", T.LongType(), False),
    T.StructField("seller", T.StringType(), False),
    T.StructField("grade", T.StringType(), True),
    T.StructField("price_cents", T.LongType(), False),
    T.StructField("notes", T.StringType(), True),
])

# Raw on-disk shape of the driver's events.parquet when `ts` is parquet
# TIMESTAMP(NANOS), which Spark's reader rejects outright unless either
# (a) spark.sql.legacy.parquet.nanosAsLong is set, or (b) the read is
# given an explicit schema typing the column as LongType. We rely on (b)
# so loading works under ANY SparkSession — including ones we didn't
# build (the correctness driver constructs its own). The driver's
# generator has shipped BOTH nanos and micros revisions of this file, so
# never assume a unit: session.events_ts_unit() inspects the parquet
# footer and picks EVENTS_RAW (+ns→µs fix) or EVENTS accordingly.
EVENTS_RAW = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.LongType()),  # TIMESTAMP(NANOS) read as long nanos
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])

# On-disk shape of the TIMESTAMP(MICROS) revision: parquet stores it
# NTZ (isAdjustedToUTC=false), so an explicit read schema must say NTZ;
# loaders cast to TIMESTAMP (LTZ) after the scan — value-preserving
# under the pinned UTC session timezone.
EVENTS_NTZ = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampNTZType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])

# Multimodal column convention: payload is opaque binary + typed metadata
# struct (SURVEY.md §7 extensions). Decoders are pluggable; the engine only
# guarantees schema, partitioning, and Arrow batch shape.
MEDIA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),  # image|audio|video
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("meta", T.StructType([
        T.StructField("mime", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]), True),
])
