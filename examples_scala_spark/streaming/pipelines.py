"""End-to-end streaming pipelines mirroring the reference's example
mains — each returns an unstarted streaming DataFrame (callers attach a
sink + checkpoint and start it). These are the unbounded twins of the
oracle-checked batch queries in queries.py (SS's unified model:
same plan, streaming source).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.sensor import sensor_source_stream


def average_sensor_readings(spark: SparkSession,
                            rows_per_second: int = 100) -> DataFrame:
    """chapter1/AverageSensorReadings.scala:31-64 — the book's hello
    world: event-time 1 s tumbling window, per-sensor average Celsius,
    5 s watermark (util/SensorTimeAssigner.scala:26)."""
    s = sensor_source_stream(spark, rows_per_second)
    out = (
        s.withColumn("celsius", (F.col("temperature") - 32) * 5.0 / 9.0)
        .withWatermark("ts", "5 seconds")
        .groupBy(F.window("ts", "1 second"), "id")
        .agg(F.avg("celsius").alias("avg_temp"))
    )
    return out.select(F.col("window.end").alias("window_end"), "id", "avg_temp")


def stream_interval_join(left: DataFrame, right: DataFrame,
                         keys: list[str] | None,
                         left_ts: str, right_ts: str,
                         lookback: str, watermark: str = "10 seconds",
                         how: str = "inner") -> DataFrame:
    """Watermarked stream-stream interval join: pair each left row with
    right rows whose timestamp falls in (left_ts - lookback, left_ts],
    optionally equi-keyed. This is the relational form of the
    reference's connect-based two-stream correlation
    (chapter5/MultiStreamTransformations.scala:61-63) and the exact
    semantics of Flink's intervalJoin.

    Both sides carry a watermark and the join condition bounds event
    time on both sides, so Spark derives a state-retention horizon per
    side and evicts joined state as the watermark advances — state
    stays O(lookback x input-rate) at any scale, never unbounded.
    Outer variants emit the unmatched side once the watermark passes
    the join window (`how`='leftOuter'/...)."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = F.expr(
        f"{right_ts} > {left_ts} - INTERVAL {lookback} AND "
        f"{right_ts} <= {left_ts}")
    if keys:
        for k in keys:
            cond = (F.col(f"__l_{k}") == F.col(f"__r_{k}")) & cond
        lw = lw.withColumns({f"__l_{k}": F.col(k) for k in keys})
        rw = rw.select(*[F.col(c).alias(f"__r_{c}") if c in keys else F.col(c)
                         for c in rw.columns])
    out = lw.join(rw, cond, how)
    # Spark accepts many spellings for semi/anti ('leftSemi', 'semi',
    # 'left_semi', ...); normalize before deciding whether the right
    # side's columns survived the join — matching only the camelCase
    # spellings sent the alias forms into the key-restore step, where
    # F.col('__r_k') no longer exists (r11 review find)
    semi_anti = how.lower().replace("_", "") in ("leftsemi", "semi",
                                                 "leftanti", "anti")
    if keys and not semi_anti:
        # Right-side-preserving joins null the left's key columns on
        # unmatched right rows — restore the key from whichever side
        # has it before dropping the renamed copies. Semi/anti joins
        # emit left columns only, so there is nothing to restore.
        out = out.withColumns(
            {k: F.coalesce(F.col(k), F.col(f"__r_{k}")) for k in keys})
    return out.drop(*[c for c in out.columns if c.startswith("__l_")
                      or c.startswith("__r_")])
