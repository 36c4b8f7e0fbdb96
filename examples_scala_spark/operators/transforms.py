"""Row-level transforms — the reference's map/filter/flatMap surface
(SURVEY §2.2: P4-P6).

All are single narrow projections/filters: no shuffle, fully
whole-stage-codegen'd, predicate/projection pushed into the parquet
scan by Catalyst. At 100 TB these are scan-bound, which is optimal.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def filter_min_temperature(df: DataFrame, threshold: float = 25.0,
                           col: str = "temperature") -> DataFrame:
    """P4 — keep temperature >= threshold
    (chapter5/BasicTransformations.scala:46-47). Filter is pushed to the
    parquet scan (shows under PushedFilters in explain)."""
    return df.filter(F.col(col) >= threshold)


def split_ids(df: DataFrame, col: str = "id", sep: str = "_") -> DataFrame:
    """P5 — flatMap splitting 'sensor_7' -> ['sensor','7']
    (chapter5/BasicTransformations.scala:62-63). explode is the 1->N
    row generator; stays JVM-side (no Python UDTF needed)."""
    return df.select(F.explode(F.split(F.col(col), sep)).alias("token"))


def shuffle_timestamps(df: DataFrame, max_shift_ms: int = 7_000,
                       seed: int = 42) -> DataFrame:
    """P6 — TimestampShuffler: add 0..max_shift_ms to event time to
    force out-of-orderness (chapter6/LateDataHandling.scala:175-183).
    Shifts the epoch-ms `timestamp` every stateful port reads and `ts`
    with it. The shift is a hash of (id, timestamp), like the sensor
    source's noise, so a replay shifts each row the same way (F.rand
    draws anew per replay and per partition layout)."""
    shift = F.pmod(F.xxhash64("id", "timestamp", F.lit(seed)),
                   F.lit(max_shift_ms))
    return df.withColumns({
        "timestamp": F.col("timestamp") + shift,
        "ts": F.timestamp_micros(F.unix_micros("ts") + shift * 1000),
    })


def is_freezing(col: str = "temperature", threshold: float = 32.0) -> Column:
    """Predicate used by the side-output example (O1)."""
    return F.col(col) < threshold
