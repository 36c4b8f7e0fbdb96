"""Parquet table loaders for the driver testdata star schema + events.

At 100 TB these reads are the critical path: keep them as bare
`spark.read.parquet` scans so Catalyst's vectorized parquet reader,
predicate pushdown, and column pruning all apply. Do NOT cache or
materialize here — each query selects only the columns it needs and the
scan should show a pruned ReadSchema in `explain`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Timezone-independent epoch extraction from a TIMESTAMP_NTZ wall clock
# (interpreted as UTC, exactly matching DuckDB's epoch_us on its TIMESTAMP).
_NTZ_EPOCH_US = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to TimestampType holding the UTC
    instant, regardless of how the session read the parquet
    TIMESTAMP(NANOS) physical type:

    - TIMESTAMP_NTZ (vanilla Spark 4 read — what the driver's session
      sees): wall clock interpreted as UTC via timestampdiff from the
      NTZ epoch, which is timezone-independent.
    - BIGINT nanos (spark.sql.legacy.parquet.nanosAsLong sessions).
    - TimestampType already: left alone.

    timestamp_micros() builds the instant from epoch micros, so the
    result is identical under any session timezone.
    """
    from pyspark.sql.types import LongType, TimestampNTZType
    t = df.schema[col].dataType
    if isinstance(t, LongType):
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if isinstance(t, TimestampNTZType):
        return df.withColumn(
            col, F.timestamp_micros(F.expr(_NTZ_EPOCH_US.format(col=col))))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_ts(df, "ts")
    return df


def events_to_sensors(ev: DataFrame) -> DataFrame:
    """The reference's primary fixture (SensorReading: id, timestamp,
    temperature — reference util/SensorReading.scala:19) viewed over an
    `events` frame, batch or streaming, per FIXTURES.md §1.

    Mapping: id = 'sensor_' || (user_id % 10 + 1), event time = ts,
    temperature = value. Keeps both a TimestampType `ts` (required by
    window()/withWatermark) and an epoch-ms BIGINT `timestamp` for
    parity with the reference's Long timestamps.
    """
    return ev.select(
        F.concat(F.lit("sensor_"), ((F.col("user_id") % 10) + 1).cast("string")).alias("id"),
        F.col("ts"),
        F.expr("unix_micros(ts) div 1000").alias("timestamp"),
        F.col("value").alias("temperature"),
        F.col("event_id"),
    )


def sensor_readings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`events_to_sensors` over the driver `events` table."""
    return events_to_sensors(load_table(spark, sf_dir, "events"))


# DuckDB twin of sensor_readings() for use inside oracle SQL strings.
SENSOR_READINGS_SQL = (
    "SELECT 'sensor_' || ((user_id % 10) + 1)::VARCHAR AS id, "
    "ts, "
    "(epoch_us(ts) // 1000) AS timestamp, "
    "value AS temperature, "
    "event_id "
    "FROM events"
)
