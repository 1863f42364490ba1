"""Fixture-table loading.

The driver provides deterministic parquet tables at
``/root/testdata/sf{0.001,0.01,0.1}/<name>.parquet`` (TESTDATA.md).
All engine queries read through these helpers so path handling and
view registration live in one place.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SMOKE_SF_DIR = "/root/testdata/sf0.001"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Parquet scans get Catalyst pushdown /
    pruning for free — callers should select/filter eagerly."""
    # Timestamp→string formatting in queries must agree with DuckDB's
    # UTC-naive timestamps regardless of the caller's session config.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to TimestampType regardless of
    how the fixture was written. Three parquet encodings have shipped:

    - TIMESTAMP(NANOS): read as LongType nanos (with nanosAsLong on)
      → truncate via integer division to micros. No double round-trip,
      which would lose precision at 1e18 nanos.
    - timestamp[us] without UTC adjustment: Spark 4 loads TIMESTAMP_NTZ,
      which `unix_micros`/`window`/watermarks reject. The session is
      pinned to UTC (load_table), so `cast("timestamp")` reinterprets
      the same wall-clock instant value-preservingly.
    - plain TimestampType: pass through.

    Batch (load_events) and streaming (streaming.tumbling.events_stream)
    both MUST go through this helper so the paths cannot diverge.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


# serializes load_events' session-wide flag set/read/restore: two
# interleaved callers would restore each other's "true" and leave it
# on for the whole session
_NANOS_FLAG_LOCK = threading.Lock()


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`events.ts` has been written as TIMESTAMP(NANOS) and as plain
    timestamp[us] (NTZ under Spark 4) by different fixture generations;
    normalize_ts handles both. nanosAsLong stays on so the NANOS
    variant loads at all instead of throwing."""
    with _NANOS_FLAG_LOCK:
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            # schema inference (where the flag matters) happens eagerly
            # in this call; restoring afterwards keeps the session-wide
            # default intact so UNRELATED parquet reads of
            # TIMESTAMP(NANOS) columns don't silently load them as
            # LongType forever after
            df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    return normalize_ts(df)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}

