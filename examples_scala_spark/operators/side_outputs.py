"""Side outputs / stream splitting (SURVEY §2.7 O1).

Flink's OutputTag gives one operator multiple typed outputs
(chapter6/SideOutputs.scala:33-67). Spark's model: branch the same
DataFrame — Catalyst reuses the scan; in streaming, foreachBatch writes
both branches from one pass (exactly-once per sink).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .transforms import is_freezing


def freezing_monitor(readings: DataFrame,
                     threshold: float = 32.0) -> tuple[DataFrame, DataFrame]:
    """O1 — FreezingMonitor: main output = all readings; side output =
    'Freezing Alarm' strings for temp < threshold
    (chapter6/SideOutputs.scala:50-67)."""
    main = readings
    side = readings.filter(is_freezing(threshold=threshold)).select(
        F.concat(F.lit("Freezing Alarm for "), F.col("id")).alias("alarm"),
        F.col("timestamp"),
        F.col("temperature"),
    )
    return main, side
