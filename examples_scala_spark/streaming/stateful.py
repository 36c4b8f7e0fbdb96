"""Stateful per-record streaming operators (SURVEY §2.8 F1-F6) on
Structured Streaming's arbitrary-state API.

Spark-first mapping: Flink's per-key ValueState + TimerService becomes
`applyInPandasWithState` — state is the per-group handle, timers are
group timeouts (processing- or event-time). Data crosses the
JVM<->Python boundary in Arrow batches, so per-key logic is vectorized
within each micro-batch, not row-at-a-time RPC.

At scale: state lives in the executor state store (RocksDB in prod
conf), keyed by the shuffle partitioning of groupBy — the same hash
partitioning Flink's keyBy declares. Nothing here collects to the
driver.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType, DoubleType, LongType, StringType, StructField, StructType,
)

def ordered_batch(pdfs: Iterable[pd.DataFrame],
                  by: "str | list[str]") -> "pd.DataFrame | None":
    """Materialize one key's whole micro-batch and sort it ONCE.

    applyInPandasWithState hands each key an *iterator* of Arrow
    chunks in shuffle-arrival order; when a key's batch exceeds
    spark.sql.execution.arrow.maxRecordsPerBatch the chunks arrive in
    arbitrary relative order, so sorting each chunk independently does
    NOT yield an ordered scan. Every event-ordered handler below must
    concat-then-sort via this helper — that is what makes the
    event-ordered-replay equivalence to the batch oracles hold for
    keys larger than one Arrow chunk. State per key stays O(1); only
    the current micro-batch's rows for that key are held, which is the
    same working set the per-chunk path already buffered for output.
    """
    chunks = [p for p in pdfs if len(p)]
    if not chunks:
        return None
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(
        chunks, ignore_index=True)
    return pdf.sort_values(by, kind="mergesort")


ALERT_SCHEMA = StructType([
    StructField("id", StringType()),
    StructField("temperature", DoubleType()),
    StructField("diff", DoubleType()),
])

_DELTA_STATE = StructType([StructField("last_temp", DoubleType())])


def temperature_delta_alerts(readings: DataFrame,
                             threshold: float = 1.7) -> DataFrame:
    """F2 — TemperatureAlertFunction (reference
    chapter7/KeyedStateFunction.scala:73-100): per key, keep lastTemp in
    ValueState; emit (id, temp, diff) when |temp - lastTemp| > threshold.

    Batch twin (oracle-checked): queries.alert_temp_delta via lag().
    """
    def fn(key: Tuple[str], pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        (sensor_id,) = key
        last = state.get[0] if state.exists else None
        out_t, out_d = [], []
        pdf = ordered_batch(pdfs, "timestamp")
        if pdf is not None:
            for t in pdf["temperature"]:
                if last is not None and abs(t - last) > threshold:
                    out_t.append(float(t))
                    out_d.append(float(t - last))
                last = float(t)
        state.update((last,))
        if out_t:
            yield pd.DataFrame({
                "id": [sensor_id] * len(out_t),
                "temperature": out_t,
                "diff": out_d,
            })

    return readings.groupBy("id").applyInPandasWithState(
        fn, outputStructType=ALERT_SCHEMA, stateStructType=_DELTA_STATE,
        outputMode="append", timeoutConf=GroupStateTimeout.NoTimeout,
    )


WARNING_SCHEMA = StructType([
    StructField("id", StringType()),
    StructField("message", StringType()),
])

_RISE_STATE = StructType([
    StructField("last_temp", DoubleType()),
    StructField("deadline_ms", LongType()),
])


def temperature_rise_warnings(readings: DataFrame,
                              rise_ms: int = 1_000) -> DataFrame:
    """F1 — TempIncreaseAlertFunction
    (chapter6/ProcessFunctionTimers.scala:42-97): warn when a sensor's
    temperature rises monotonically for `rise_ms` of processing time.

    The reference registers a processing-time timer at firstRise +
    rise_ms, deletes it on any fall, and RE-ARMS on the next rising
    element after a fire — so a long monotonic rise warns roughly once
    per rise_ms. GroupState timeouts alone cannot express that
    deadline: Spark cancels the previous timeout on EVERY invocation
    of the key, so naively calling setTimeoutDuration(rise_ms) per
    batch resets the clock whenever data keeps arriving and the
    warning never fires under a continuous rise (r11 review find).
    The port therefore stores the DEADLINE in state:
      - data path: a fall clears it; a first rise arms
        deadline = now + rise_ms; a batch observed past the deadline
        with the rise intact fires the warning inline (Flink's timer
        thread, played by the next micro-batch touching the key) and
        clears the deadline so the next rising row re-arms;
      - silent path: the group timeout is re-armed every invocation
        with the REMAINING duration (deadline - now), so a key whose
        data stops mid-rise still fires via state.hasTimedOut.
    Both paths share the firing cadence contract: expiry is evaluated
    at micro-batch boundaries, the documented difference vs Flink's
    exact timer thread.
    """
    import time as _time

    def fn(key: Tuple[str], pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        (sensor_id,) = key
        msg = (f"Temperature of sensor '{sensor_id}' "
               f"monotonically increased for {rise_ms} ms.")
        if state.hasTimedOut:
            last, deadline = state.get
            if deadline is not None:
                yield pd.DataFrame({"id": [sensor_id], "message": [msg]})
            state.update((last, None))
            return
        last, deadline = state.get if state.exists else (None, None)
        now = int(_time.time() * 1000)
        fired = False
        pdf = ordered_batch(pdfs, "timestamp")
        if pdf is not None:
            for _, row in pdf.iterrows():
                t = float(row["temperature"])
                if last is not None and t > last:
                    if deadline is None:
                        deadline = now + rise_ms
                else:
                    deadline = None
                last = t
        if deadline is not None and now >= deadline:
            fired = True
            deadline = None   # next rising row re-arms (Flink onTimer
            # clears currentTimer; the rise itself re-registers)
        state.update((last, deadline))
        if deadline is not None:
            state.setTimeoutDuration(max(1, deadline - now))
        if fired:
            yield pd.DataFrame({"id": [sensor_id], "message": [msg]})

    return readings.groupBy("id").applyInPandasWithState(
        fn, outputStructType=WARNING_SCHEMA, stateStructType=_RISE_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


_TTL_STATE = StructType([
    StructField("last_temp", DoubleType()),
    StructField("last_event_ms", LongType()),
])


def self_cleaning_delta_alerts(readings: DataFrame, threshold: float = 1.7,
                               ttl_ms: int = 3_600_000) -> DataFrame:
    """F4 — SelfCleaningTemperatureAlertFunction
    (chapter7/StatefulProcessFunction.scala:56-110): same delta alert,
    but state is dropped when a key is silent for ttl_ms of event time —
    the reference re-arms an event-time cleanup timer per record; here
    it's EventTimeTimeout with a timeout timestamp re-armed per batch.
    Requires a watermark on the input."""
    def fn(key: Tuple[str], pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        (sensor_id,) = key
        if state.hasTimedOut:
            state.remove()  # the reference's onTimer state.clear()
            return
        last, last_ms = state.get if state.exists else (None, None)
        out_t, out_d = [], []
        pdf = ordered_batch(pdfs, "timestamp")
        if pdf is not None:
            for _, row in pdf.iterrows():
                t = float(row["temperature"])
                if last is not None and abs(t - last) > threshold:
                    out_t.append(t)
                    out_d.append(t - last)
                last = t
                last_ms = int(row["timestamp"])
        state.update((last, last_ms))
        if last_ms is not None:
            state.setTimeoutTimestamp(last_ms + ttl_ms)
        if out_t:
            yield pd.DataFrame({
                "id": [sensor_id] * len(out_t),
                "temperature": out_t,
                "diff": out_d,
            })

    return readings.groupBy("id").applyInPandasWithState(
        fn, outputStructType=ALERT_SCHEMA, stateStructType=_TTL_STATE,
        outputMode="append", timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


FORWARD_SCHEMA = StructType([
    StructField("id", StringType()),
    StructField("timestamp", LongType()),
    StructField("temperature", DoubleType()),
])

_SWITCH_STATE = StructType([StructField("disable_at_ms", LongType())])


def switchable_forwarder(readings: DataFrame, switches: DataFrame,
                         cleanup_ttl_ms: int = 3_600_000) -> DataFrame:
    """J2 — ReadingFilter (chapter6/CoProcessFunctionTimers.scala:49-102):
    two-input keyed co-process as a union of tagged rows into one
    stateful operator. A switch row (tag='switch') arms forwarding of
    that sensor for duration_ms; reading rows (tag='data') pass while
    armed. The disable timer is the state value (checked per record,
    event-ms based for determinism where the reference uses
    processing time).

    State cleanup: every invocation re-arms a processing-time timeout
    of cleanup_ttl_ms; a key silent that long has its one-row state
    removed (the r11 review found the hasTimedOut branch was
    unreachable — ProcessingTimeTimeout was declared but no timeout
    was ever SET, so per-key state accumulated forever under key
    churn). Removal emits nothing, so query output is unchanged; the
    TTL is deliberately >> any switch duration — the reference's own
    timer disables forwarding after duration_ms of PROCESSING time,
    so dropping a key's disable_at after an hour of silence is
    strictly more permissive than Flink's semantics.

    Both inputs must share the schema: (id, timestamp, temperature,
    tag, duration_ms).
    """
    tagged_r = readings.select(
        "id", F.col("timestamp").cast("long").alias("timestamp"),
        "temperature", F.lit("data").alias("tag"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
    tagged_s = switches.select(
        "id", F.col("timestamp").cast("long").alias("timestamp"),
        F.lit(None).cast("double").alias("temperature"),
        F.lit("switch").alias("tag"),
        F.col("duration_ms").cast("long"),
    )
    unioned = tagged_r.unionByName(tagged_s)

    def fn(key: Tuple[str], pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        (sensor_id,) = key
        if state.hasTimedOut:
            state.remove()
            return
        disable_at = state.get[0] if state.exists else None
        out_ts, out_t = [], []
        pdf = ordered_batch(pdfs, "timestamp")
        if pdf is not None:
            for _, row in pdf.iterrows():
                if row["tag"] == "switch":
                    # arm forwarding: processing-time based in the
                    # reference; event-ms based here for determinism
                    disable_at = int(row["timestamp"]) + int(row["duration_ms"])
                elif disable_at is not None and int(row["timestamp"]) < disable_at:
                    out_ts.append(int(row["timestamp"]))
                    out_t.append(float(row["temperature"]))
        state.update((disable_at,))
        state.setTimeoutDuration(cleanup_ttl_ms)
        if out_ts:
            yield pd.DataFrame({
                "id": [sensor_id] * len(out_ts),
                "timestamp": out_ts,
                "temperature": out_t,
            })

    return unioned.groupBy("id").applyInPandasWithState(
        fn, outputStructType=FORWARD_SCHEMA, stateStructType=_SWITCH_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


COUNT_SCHEMA = StructType([
    StructField("id", StringType()),
    StructField("high_count", LongType()),
])

_COUNT_STATE = StructType([StructField("cnt", LongType())])


def high_temp_counter(readings: DataFrame, threshold: float = 100.0) -> DataFrame:
    """F5/A12 — HighTempCounter keyed half
    (chapter7/CheckpointedFunctionExample.scala:45-85): running per-key
    count of readings above threshold, emitted per micro-batch. The
    operator-state half (per-subtask count) is an execution artifact —
    its observability twin is a SparkListener/accumulator, not a query.
    Snapshot/restore hooks are unnecessary: the state store checkpoints
    this automatically (R1/R4)."""
    def fn(key: Tuple[str], pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        (sensor_id,) = key
        cnt = state.get[0] if state.exists else 0
        for pdf in pdfs:
            cnt += int((pdf["temperature"] > threshold).sum())
        state.update((cnt,))
        yield pd.DataFrame({"id": [sensor_id], "high_count": [cnt]})

    # Catalyst does not prune columns through the pandas-with-state
    # node: without the select every input column crosses to Python
    keyed = readings.select("id", "temperature").groupBy("id")
    return keyed.applyInPandasWithState(
        fn, outputStructType=COUNT_SCHEMA, stateStructType=_COUNT_STATE,
        outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout,
    )


def high_temp_counter_per_subtask(readings: DataFrame,
                                  threshold: float = 100.0) -> DataFrame:
    """F5/A12 — the OPERATOR-state half of HighTempCounter
    (chapter7/CheckpointedFunctionExample.scala:45-85): the reference
    keeps one running count per PARALLEL INSTANCE in operator
    ListState (`opHighTempCnt`, snapshotted per checkpoint). The
    structural Spark twin keys the running count by
    `spark_partition_id()` — the id of the input partition that
    processed the row, i.e. the parallel instance — maintained in the
    state store by an update-mode aggregation, so it survives
    micro-batches and checkpoints exactly as the ListState does.

    Same caveat class as Flink: the reference redistributes operator
    state on rescale (union/redistribute of the list), and here a
    repartitioned source reassigns partition ids — per-instance counts
    are an observability surface, not a stable key space. The KEYED
    half (per-sensor count, the `keyedCntState` ValueState) is
    high_temp_counter above; together they are the reference's two
    state stores."""
    high = readings.filter(F.col("temperature") > threshold)
    return (high.withColumn("subtask", F.spark_partition_id())
            .groupBy("subtask")
            .agg(F.count("*").alias("op_high_count")))


CUSUM_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("event_type", StringType()),
    StructField("cusum_cents", LongType()),
    StructField("drift", BooleanType()),
])

_CUSUM_STATE = StructType([
    StructField("p_sum", LongType()),   # prefix sum of excesses
    StructField("p_min", LongType()),   # min prefix sum incl. P_0 = 0
])


def cusum_trace_state(events: DataFrame, h_units: int,
                      slack_units: int = 0) -> DataFrame:
    """Streaming twin of operators/timeseries.py:cusum_flags — the
    per-key CUSUM recursion S = max(0, S + x − target − slack) held as
    real keyed streaming state across micro-batches, emitting the full
    per-event (cusum, drift) trace in append mode.

    State is the pair (prefix sum P, running min of P including the
    empty prefix) — the same closed form the batch window uses, so
    under an event-time-ordered replay the trace is BIT-IDENTICAL to
    the batch operator (that equality is this operator's oracle; the
    delta-alert family can't claim it because its replay is
    unordered). Input must carry integer `cents` and a per-key integer
    `target` column; within each micro-batch rows are processed in
    (ts, event_id) order, and cross-batch order is the staging
    harness' contract (range-partitioned, mtime-ordered files).

    Scale: identical to any keyed stateful op — state is 16 bytes per
    key in the state store, Arrow-batched per micro-batch, partitioned
    by the groupBy hash. Matches the reference's keyed-process-
    function state pattern (chapter7/KeyedStateFunction.scala:73-100)
    with a drift statistic instead of a last-value delta."""
    def fn(key: Tuple[str], pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        (etype,) = key
        p, m = state.get if state.exists else (0, 0)
        pdf = ordered_batch(pdfs, ["ts", "event_id"])
        if pdf is not None:
            ids, cus, drf = [], [], []
            for eid, cents, target in zip(
                    pdf["event_id"], pdf["cents"], pdf["target"]):
                p += int(cents) - int(target) - slack_units
                m = min(m, p)
                s = p - m
                ids.append(int(eid))
                cus.append(s)
                drf.append(bool(s > h_units))
            if ids:
                yield pd.DataFrame({
                    "event_id": ids,
                    "event_type": [etype] * len(ids),
                    "cusum_cents": cus,
                    "drift": drf,
                })
        state.update((p, m))

    return events.groupBy("event_type").applyInPandasWithState(
        fn, outputStructType=CUSUM_SCHEMA, stateStructType=_CUSUM_STATE,
        outputMode="append", timeoutConf=GroupStateTimeout.NoTimeout,
    )


TRACED_ALERT_SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("id", StringType()),
    StructField("temperature", DoubleType()),
    StructField("diff", DoubleType()),
])


def temperature_delta_alerts_traced(readings: DataFrame,
                                    threshold: float = 1.7) -> DataFrame:
    """F2's TemperatureAlertFunction with the emitted rows carrying
    event_id and the per-batch scan ordered by it — the hash-checkable
    form of temperature_delta_alerts: under an event_id-ordered replay
    (range-partitioned staging) the alert set is IDENTICAL to the
    batch lag() twin, so the gate can value-hash this stream against
    the same DuckDB oracle instead of recording rows-only. State and
    semantics are unchanged: one last_temp double per key — including
    the DEFAULT threshold (1.7, matching temperature_delta_alerts; it
    was 17.0 until the r11 review caught the silent 10x divergence —
    registry/gate call sites always pass threshold=17.0 explicitly)."""
    def fn(key: Tuple[str], pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        (sensor_id,) = key
        last = state.get[0] if state.exists else None
        ids, temps, diffs = [], [], []
        pdf = ordered_batch(pdfs, "event_id")
        if pdf is not None:
            for eid, t in zip(pdf["event_id"], pdf["temperature"]):
                if last is not None and abs(t - last) > threshold:
                    ids.append(int(eid))
                    temps.append(float(t))
                    diffs.append(float(t - last))
                last = float(t)
        state.update((last,))
        if ids:
            yield pd.DataFrame({
                "event_id": ids,
                "id": [sensor_id] * len(ids),
                "temperature": temps,
                "diff": diffs,
            })

    return readings.groupBy("id").applyInPandasWithState(
        fn, outputStructType=TRACED_ALERT_SCHEMA, stateStructType=_DELTA_STATE,
        outputMode="append", timeoutConf=GroupStateTimeout.NoTimeout,
    )
