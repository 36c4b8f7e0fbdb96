"""In-memory fixture literals (S6 twin of env.fromElements/fromCollection).

Rows mirror FIXTURES.md §5, which mirrors the reference's literal
rule stream (chapter7/BroadcastStateFunction.scala:37-42), and a
bounded smoke-level control table for the batch correlation queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def threshold_updates(spark: SparkSession) -> DataFrame:
    """Broadcast rule changelog (chapter7/BroadcastStateFunction.scala:37-42);
    threshold 0.0 = delete the rule; seq = stream order."""
    rows = [
        ("sensor_1", 5.0, 1),
        ("sensor_2", 0.9, 2),
        ("sensor_3", 0.5, 3),
        ("sensor_1", 1.2, 4),
        ("sensor_3", 0.0, 5),
    ]
    return spark.createDataFrame(rows, ["id", "threshold", "seq"])


def smoke_levels_batch(spark: SparkSession) -> DataFrame:
    """Deterministic bounded smoke-level control fixture: High for two
    known intervals of the events timeline (batch twin of S3 for J1
    correlation tests). Timestamps chosen inside the events table's
    2024-01 range."""
    rows = [
        ("2024-01-01 00:00:00", "Low"),
        ("2024-01-05 00:00:00", "High"),
        ("2024-01-10 00:00:00", "Low"),
        ("2024-01-20 00:00:00", "High"),
        ("2024-01-25 00:00:00", "Low"),
    ]
    df = spark.createDataFrame(rows, ["ts_str", "level"])
    return df.selectExpr("to_timestamp(ts_str) AS ts", "level")
