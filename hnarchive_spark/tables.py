"""Loaders for the driver's synthetic parquet tables (TESTDATA.md).

All reads go through :func:`load` so every query in the library gets the
same scan path: plain `spark.read.parquet` — column pruning and predicate
pushdown then happen in Catalyst from whatever the query selects/filters.
"""

from __future__ import annotations

import os

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

# Dimension-sized tables that should always be broadcast in joins at any
# scale factor (region/nation/supplier/part stay tiny relative to facts).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part"})


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    # timestamp formatting/truncation queries assume UTC; pin it here so the
    # inventory is correct in any caller's session, not just ours
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts has shipped as both TIMESTAMP(NANOS) (which the Spark
        # reader only accepts as long under nanosAsLong) and TIMESTAMP(MICROS)
        # isAdjustedToUTC=false (-> TIMESTAMP_NTZ). Normalize either to a
        # session-TZ TIMESTAMP so downstream plans see one type, matching how
        # DuckDB reads the same file (naive timestamp, UTC session).
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # integer division: double `/` would round-to-nearest and drift
            # 1us from DuckDB's truncating nanos->micros conversion
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if isinstance(ts_type, TimestampNTZType):
            # wall-clock identical cast: session TZ is pinned to UTC above
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream twin of ``load(spark, sf_dir, "events")``.

    The streaming source needs an explicit schema, and events.ts has shipped
    in two physical variants (TIMESTAMP(NANOS) -> long under nanosAsLong,
    and TIMESTAMP(MICROS) isAdjustedToUTC=false -> TIMESTAMP_NTZ).  A
    hardcoded schema silently corrupts the other variant (micros div 1000
    collapses every timestamp to Jan 1970), so detect the variant from the
    parquet footer via a one-off batch read — a metadata-only operation —
    and declare the stream schema to match, then normalize to a session-TZ
    TIMESTAMP exactly like the batch path.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    ts_type = spark.read.parquet(path).schema["ts"].dataType
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    raw = (
        spark.readStream.schema(schema)
        # FileStreamSource needs a directory; glob-filter to the events file
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if isinstance(ts_type, LongType):
        # nanos-as-long: integer division (double `/` would drift 1us from
        # DuckDB's truncating nanos->micros conversion)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, TimestampNTZType):
        # wall-clock identical cast: session TZ pinned to UTC above
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw
