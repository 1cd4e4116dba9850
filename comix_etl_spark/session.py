"""SparkSession factory.

Local test boxes run ``local[$SPARK_GRAFT_CPUS]``; production is a real
cluster — every knob here is chosen to be correct for both:

- AQE on: runtime coalescing + skew-join splitting replace hand-tuned
  partition counts when data volume is 1000× the test scale.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  cluster AQE's coalescing makes the initial number a ceiling, not a target.
- Session timezone pinned to UTC so timestamp semantics are deterministic
  (and match the DuckDB oracle, whose timestamps are UTC-naive).
- Arrow enabled: every pandas_udf / toPandas hop is vectorized.
- Streaming state stays in the default (HDFS-backed) provider, which
  keeps every key in executor heap. Stream-stream join and sessionizer
  state at 100× volume belongs in the RocksDB provider: set
  ``spark.sql.streaming.stateStore.providerClass`` to
  ``org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider``
  in the Spark conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "comix_etl_spark") -> SparkSession:
    cores = default_parallelism()
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Managed tables (S13 saveAsTable) land in /tmp, not the repo cwd.
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/comix_etl_spark_warehouse"))
        # Parquet TIMESTAMP(NANOS) (events.ts) is unreadable by Spark's
        # vectorized reader; read as long nanos and convert at load.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Read the driver's parquet tables and register them as temp views.

    Returns {name: DataFrame}. Reading is lazy; registering the views lets
    operators be written in either DataFrame or SQL form over the same scan.
    """
    all_names = (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    )
    # events.ts has shipped as BOTH parquet TIMESTAMP(NANOS) (which
    # Spark's reader throws PARQUET_TYPE_ILLEGAL on without an explicit
    # LongType schema) and TIMESTAMP(MICROS) (which reads natively) —
    # the unit is a property of the file, so sniff the footer per sf_dir
    # instead of assuming either revision.
    out = {}
    for name in names or all_names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if name == "events" and events_ts_unit(sf_dir) == "ns":
            from comix_etl_spark.schemas import EVENTS_RAW

            df = spark.read.schema(EVENTS_RAW).parquet(path)
            # integer `div` (not double /): ns epoch values exceed
            # double's 53-bit mantissa and would round incorrectly
            df = df.withColumn("ts", F.timestamp_micros(F.expr("`ts` div 1000")))
        else:
            df = spark.read.parquet(path)
            if name == "events":
                # micros revision reads as TIMESTAMP_NTZ; operators are
                # written against TIMESTAMP (unix_micros, windows) — cast
                # preserves the value under the pinned UTC session tz
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def events_ts_unit(sf_dir: str) -> str:
    """Unit of events.parquet's `ts` column ('ns' or 'us'), read from the
    parquet footer (no data scan). Footer-level truth beats guessing: the
    testdata generator has shipped both revisions, and misreading one as
    the other shifts every timestamp by 1000×."""
    import pyarrow.parquet as pq

    t = pq.read_schema(os.path.join(sf_dir, "events.parquet")).field("ts").type
    unit = getattr(t, "unit", None)
    if unit not in ("ns", "us"):
        # fail loudly on a third revision (ms, plain INT64, ...): silently
        # taking either known path would shift timestamps by orders of
        # magnitude instead of surfacing the format change
        raise ValueError(
            f"events.parquet ts column is {t!r}; expected timestamp[ns] or "
            "timestamp[us] — the testdata format changed, update the loader")
    return unit


def events_stream_source(spark: SparkSession, sf_dir: str):
    """(schema, ts_fix) pair for building a file-source STREAM over the
    events table — readStream requires an explicit schema, and which
    schema is correct depends on the file's timestamp unit (see
    events_ts_unit). ``ts_fix`` is identity for native-timestamp files."""
    from comix_etl_spark.schemas import EVENTS_NTZ, EVENTS_RAW

    if events_ts_unit(sf_dir) == "ns":
        def fix(df):
            return df.withColumn("ts", F.timestamp_micros(F.expr("`ts` div 1000")))
        return EVENTS_RAW, fix

    def cast_fix(df):
        # NTZ on disk → LTZ for the operators (value-preserving: UTC session)
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return EVENTS_NTZ, cast_fix
