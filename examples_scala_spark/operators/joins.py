"""Multi-stream correlation & enrichment (SURVEY §2.4 J1-J5) plus the
general join surface the reference lacks (equi/broadcast/as-of/interval)
— Spark gives these natively and they're required for a complete engine.

Scale notes:
- Enrichment dims (sensor locations, rule tables) are tiny at every SF:
  ALWAYS broadcast (`F.broadcast`) — no shuffle of the 100 TB fact side.
- The as-of join (J1's "latest control value at event time") is
  implemented as a union-merge + last_value window, which shuffles each
  side once by (key) and sorts within partitions — the standard
  scalable as-of strategy (no pairwise range-join blowup).
- Rule changelogs reduce to latest-per-key via max_by before the join,
  so the broadcast side stays one-row-per-key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def enrichment_join(stream: DataFrame, dim: DataFrame, on: str | list[str],
                    how: str = "left") -> DataFrame:
    """J3/J4 — the Derby lookup (chapter8/AsyncFunctionExample.scala:103-159)
    as a broadcast hash join. Micro-batch amortization replaces per-record
    async I/O; at 100 TB the dim broadcast costs O(dim) once per batch
    while the fact side never shuffles."""
    return stream.join(F.broadcast(dim), on=on, how=how)


def latest_rules(rules: DataFrame, key: str = "id", seq: str = "seq",
                 threshold: str = "threshold") -> DataFrame:
    """J5 — collapse a rule changelog to current state: latest update
    per key (max_by over seq), dropping deletes (threshold == 0.0,
    chapter7/BroadcastStateFunction.scala:92-98)."""
    latest = rules.groupBy(key).agg(
        F.max_by(threshold, F.col(seq)).alias(threshold)
    )
    return latest.filter(F.col(threshold) != 0.0)


def broadcast_rules_join(readings: DataFrame, rules: DataFrame,
                         key: str = "id") -> DataFrame:
    """J5 — KeyedBroadcastProcessFunction twin
    (chapter7/BroadcastStateFunction.scala:69-126): alert when
    |temperature| exceeds the sensor's current threshold. Rule updates
    apply per micro-batch instead of mid-stream (documented gap)."""
    rules_now = latest_rules(rules, key=key)
    joined = readings.join(F.broadcast(rules_now), on=key, how="inner")
    return joined.filter(F.col("temperature") > F.col("threshold"))


def asof_join_broadcast(left: DataFrame, right: DataFrame, ts: str = "ts",
                        right_cols: list[str] | None = None) -> DataFrame:
    """Un-keyed as-of join for a SMALL right side (control streams):
    each right row becomes a validity interval [ts, next_ts) via lead()
    over the (tiny) right side only, broadcast, and matched with a
    single interval predicate — a left-outer broadcast nested-loop join
    that touches each left row once. The big side is never shuffled or
    globally sorted (the union-merge strategy's un-keyed form would
    sort everything in ONE partition — a scale cliff this avoids).
    """
    right_cols = right_cols or [c for c in right.columns if c != ts]
    r2 = right.select(
        F.col(ts).alias("__r_ts"),
        *[F.col(c).alias(f"__r_{c}") for c in right_cols],
    ).withColumn(
        "__r_next",
        F.lead("__r_ts").over(Window.orderBy("__r_ts")),  # small side only
    )
    cond = (F.col(ts) >= F.col("__r_ts")) & (
        F.col("__r_next").isNull() | (F.col(ts) < F.col("__r_next")))
    out = left.join(F.broadcast(r2), cond, "left")
    return out.select(
        *[F.col(c) for c in left.columns],
        *[F.col(f"__r_{c}").alias(c) for c in right_cols],
    )


def asof_join(left: DataFrame, right: DataFrame, ts: str = "ts",
              right_cols: list[str] | None = None,
              key: str | None = None) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    right.ts <= left.ts (per key if given). Backs J1's 'current smoke
    level at reading time' correlation
    (chapter5/MultiStreamTransformations.scala:77-91) and is a
    first-class operator the reference cannot express relationally.

    Strategy by shape:
    - un-keyed (key=None): the right side is a control stream —
      broadcast validity intervals (`asof_join_broadcast`); the big
      side is never shuffled.
    - keyed: union the two sides tagged, single shuffle on (key),
      in-partition sort by (ts, tag), forward-fill the right columns
      with last_value(ignorenulls) — O(n log n) per partition, no
      range-join cross product, skew-safe under AQE.
    """
    if key is None:
        return asof_join_broadcast(left, right, ts=ts, right_cols=right_cols)
    right_cols = right_cols or [c for c in right.columns if c != ts and c != key]
    lcols = [c for c in left.columns]

    l_tagged = left.select(
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}") for c in right_cols],
        F.lit(1).alias("__tag"),
    )

    r_sel = []
    for c in lcols:
        if c == ts:
            r_sel.append(F.col(ts))
        elif key is not None and c == key:
            r_sel.append(F.col(key))
        else:
            r_sel.append(F.lit(None).cast(left.schema[c].dataType).alias(c))
    r_tagged = right.select(
        *r_sel,
        *[F.col(c).alias(f"__r_{c}") for c in right_cols],
        F.lit(0).alias("__tag"),
    )

    unioned = l_tagged.unionByName(r_tagged)
    parts = [key] if key else []
    w = (
        Window.partitionBy(*parts)
        .orderBy(F.col(ts).asc(), F.col("__tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        *[F.col(c) for c in lcols],
        F.col("__tag"),
        *[F.last(F.col(f"__r_{c}"), ignorenulls=True).over(w).alias(c) for c in right_cols],
    )
    return filled.filter(F.col("__tag") == 1).drop("__tag")


def range_join(left: DataFrame, right: DataFrame, value_col: str,
               lo_col: str, hi_col: str, granularity: float,
               extra_keys: list[str] | None = None,
               how: str = "inner") -> DataFrame:
    """Generic range join — match left rows whose `value_col` falls in
    the right side's [lo_col, hi_col) interval — executed as an EQUI
    join, never a cross product.

    The trick (Databricks' "bin the ranges" / interval-bucketing
    idiom): each interval explodes into the grid cells of width
    `granularity` it overlaps; each left row hashes to exactly ONE cell
    (floor(value/g)); join on cell (+ any extra equi keys), then filter
    exact containment. Cost is |left| + |right| x avg_cells_per_interval
    shuffled rows through a hash join — Catalyst alone would plan a
    broadcast-nested-loop (no equi condition), which is |left| x |right|
    compares and the 100 TB failure mode whenever the interval table
    outgrows a broadcast. Pick granularity near the median interval
    width so avg_cells_per_interval stays O(1); intervals spanning many
    cells duplicate only themselves (dimension-sized), never the fact.

    Works for numeric and epoch-time ranges alike; `extra_keys` adds
    equi predicates (e.g. per-type bands). Right-side intervals are
    half-open [lo, hi).

    `how` supports inner and the LEFT-preserving families (left/
    leftOuter, semi, anti). For those, containment lives in the JOIN
    CONDITION — as a post-join filter (the pre-r11 shape) it silently
    discarded every null-extended row, making how='left' behave
    exactly like 'inner' (r11 review find). Right/full outer are
    REFUSED: each interval is exploded once per overlapped grid cell,
    so an unmatched interval would null-extend once per CELL —
    duplicate phantom rows, not outer-join semantics."""
    how_n = how.lower().replace("_", "")
    cells = right.withColumn(
        "__cell",
        F.explode(F.sequence(
            F.floor(F.col(lo_col) / granularity).cast("long"),
            F.floor(F.col(hi_col) / granularity).cast("long"))))
    lb = left.withColumn(
        "__cell", F.floor(F.col(value_col) / granularity).cast("long"))
    if how_n == "inner":
        on = ["__cell"] + (extra_keys or [])
        out = lb.join(cells, on, how).filter(
            (F.col(value_col) >= F.col(lo_col))
            & (F.col(value_col) < F.col(hi_col)))
        return out.drop("__cell")
    if how_n not in ("left", "leftouter", "leftsemi", "semi",
                     "leftanti", "anti"):
        raise ValueError(
            f"range_join: how={how!r} unsupported — the cell explode "
            "makes right/full outer emit one null-extension per "
            "overlapped cell; use inner or a left-preserving join")
    # rename the right side so the expression condition (equi cell +
    # extra keys + containment) is unambiguous; the equi terms still
    # drive a hash join, never a nested loop
    ren = {"__cell": "__rcell"}
    ren.update({k: f"__r_{k}" for k in (extra_keys or [])})
    cells_r = cells.select(
        *[F.col(c).alias(ren.get(c, c)) for c in cells.columns])
    cond = (F.col("__cell") == F.col("__rcell"))
    for k in (extra_keys or []):
        cond = cond & (F.col(k) == F.col(f"__r_{k}"))
    cond = cond & (F.col(value_col) >= F.col(lo_col)) \
                & (F.col(value_col) < F.col(hi_col))
    out = lb.join(cells_r, cond, how)
    return out.drop("__cell", *[c for c in ren.values()
                                if c in out.columns])
