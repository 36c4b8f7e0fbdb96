"""Watermarks & late-data handling (SURVEY §2.6 T1-T7).

Streaming semantics live in Structured Streaming itself
(`withWatermark` = the reference's BoundedOutOfOrdernessTimestampExtractor,
util/SensorTimeAssigner.scala:25-31). This module provides the
*relational twins* that make late-data behavior testable on bounded
data, plus the helpers SS lacks (per-row late classification).

The watermark model: wm(t) = max(event_ts seen up to t) - delay. On
bounded data "seen up to t" is arrival order, which the driver events
table encodes as event_id — so the running watermark is a window-max
over arrival order, computable at scale with a single sort per
partition (arrival order is already partition-local in practice; for
the oracle twin we use a global ordering which is fine at test SF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def with_running_watermark(df: DataFrame, delay_ms: int = 5_000,
                           arrival_col: str = "event_id",
                           ts_ms_col: str = "timestamp") -> DataFrame:
    """T1/T2 twin: attach the running watermark (max seen ts - delay)
    as of each row's arrival."""
    w = Window.orderBy(arrival_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(
        "watermark_ms", F.max(ts_ms_col).over(w) - F.lit(delay_ms)
    )


def classify_late(df: DataFrame, delay_ms: int = 5_000,
                  arrival_col: str = "event_id",
                  ts_ms_col: str = "timestamp") -> DataFrame:
    """T5/T6 — LateReadingsFilter twin
    (chapter6/LateDataHandling.scala:60-76): is_late = ts < watermark at
    arrival. In streaming, SS drops such rows silently; this batch
    classifier is the 'side output' capture, and
    lastProgress.stateOperators.numRowsDroppedByWatermark is the
    streaming observability twin."""
    return with_running_watermark(df, delay_ms, arrival_col, ts_ms_col) \
        .withColumn("is_late", F.col(ts_ms_col) < F.col("watermark_ms"))
