"""Keyed + windowed aggregation surface (SURVEY §2.3 A1-A12, §2.5 W1-W5).

Design for scale:
- Every groupBy here relies on Catalyst's partial aggregation
  (HashAggregate partial -> shuffle -> final): the map-side combine the
  reference implements by hand via AggregateFunction.merge
  (chapter6/WindowFunctions.scala:102-104) is automatic.
- Window bucketing uses the built-in `window()` expression — identical
  arithmetic to the reference's custom assigner
  (chapter6/CustomWindow.scala:67: `ts - (ts % windowSize)`), but
  vectorized and codegen'd.
- Aggregates over money-like doubles go through DECIMAL casts so
  results are exact and reproducible regardless of partitioning /
  summation order — essential when results are hash-compared across
  engines and runs.
- Window-start/end are emitted as BIGINT epoch seconds: engine-neutral,
  timezone-proof, cheap to hash.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dec(col: str | Column, prec: int = 12, scale: int = 2) -> Column:
    """Exact-arithmetic cast for money/measure doubles with <=2 dp."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({prec},{scale})")


def exact_sum(col: str | Column, alias: str) -> Column:
    """Order-independent exact sum of a 2-dp double, returned as DOUBLE."""
    return F.sum(dec(col)).cast("double").alias(alias)


def tumbling(ts_col: str, size: str) -> Column:
    """W1/W2/W3 — tumbling window bucket."""
    return F.window(F.col(ts_col), size)


def window_bounds(prefix: str = "window") -> list[Column]:
    """W5 — window metadata (reference ctx.window.getEnd) as epoch secs."""
    return [
        F.col(f"{prefix}.start").cast("long").alias("window_start"),
        F.col(f"{prefix}.end").cast("long").alias("window_end"),
    ]


# --- A4-A10: windowed aggregates --------------------------------------

def windowed_agg(df: DataFrame, size: str, *aggs: Column,
                 key: str | None = "id", ts_col: str = "ts",
                 watermark: str | None = None) -> DataFrame:
    """Generic keyed/global tumbling-window aggregation.

    Covers W1 (keyed tumbling), W2/A10 (global: key=None — note Spark
    still computes distributed partials where Flink's timeWindowAll
    forces parallelism 1), W3 (custom 30 s assigner == window('30 s')).
    `watermark` activates streaming semantics on unbounded input.
    """
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    keys = [tumbling(ts_col, size)] + ([F.col(key)] if key else [])
    out = df.groupBy(*keys).agg(*aggs)
    keep = window_bounds() + [c for c in out.columns if c != "window"]
    return out.select(*keep)


def min_max_window(df: DataFrame, size: str = "5 seconds",
                   key: str = "id", ts_col: str = "ts",
                   temp_col: str = "temperature") -> DataFrame:
    """A6/A7 — MinMaxTemp per key+window with window end
    (chapter6/WindowFunctions.scala:56-72,107-143). The reference's
    process-function materializes every window element; the incremental
    agg is strictly better and semantically identical."""
    return windowed_agg(
        df, size,
        F.min(temp_col).alias("min_temp"),
        F.max(temp_col).alias("max_temp"),
        key=key, ts_col=ts_col,
    )


def high_count(df: DataFrame, threshold: float = 100.0, key: str = "id",
               temp_col: str = "temperature") -> DataFrame:
    """A11/A12 — count readings above threshold. The reference keeps a
    per-subtask operator-state counter
    (chapter7/OperatorListStateFunction.scala:62-69); per-subtask counts
    are an execution artifact, so the Spark port is the keyed count."""
    return (
        df.filter(F.col(temp_col) > threshold)
        .groupBy(key)
        .agg(F.count("*").alias("high_count"))
    )


# --- trending top-k over sliding windows ------------------------------

def sliding_topk(events: DataFrame, size: str = "1 hour",
                 slide: str = "15 minutes", k: int = 3,
                 key_col: str = "event_type",
                 ts_col: str = "ts") -> DataFrame:
    """Top-k keys per sliding window (the trending-items shape).
    Two-stage plan: window(size, slide) expands each row to its
    covering windows BEFORE the partial aggregate (the first shuffle
    moves partial counts, not row copies), then row_number over
    (window) ranks the per-window key counts. The rank partition
    holds at most |key domain| rows per window; for unbounded key
    domains the TakeOrdered/bounded-heap pattern replaces the rank
    window — which is why the rank stage sits AFTER the count
    aggregation, never over raw events. Ties break on key_col.

    Output: (window_start BIGINT epoch-s, rnk, key_col, cnt)."""
    agg = (events.groupBy(F.window(ts_col, size, slide), key_col)
           .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    w = Window.partitionBy("window").orderBy(F.col("cnt").desc(), key_col)
    return (agg.withColumn("rnk", F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= k)
            .select(F.col("window.start").cast("long").alias("window_start"),
                    "rnk", key_col, "cnt"))
