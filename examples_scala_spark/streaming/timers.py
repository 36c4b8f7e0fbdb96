"""Event-time timer semantics (W4 early firing, T5/T6 late capture,
W6 watermark introspection) on `applyInPandasWithState`.

The reference's timer service multiplexes many event-time timers per
key; Spark's arbitrary-state API exposes ONE timeout per group — but a
timeout re-armed to the earliest pending timer IS a timer service, and
`GroupState.getCurrentWatermarkMs()` is the reference's
`ctx.timerService.currentWatermark()` (chapter6/LateDataHandling.scala:68).
Because SS advances the watermark only at micro-batch boundaries, all
timers that became due since the previous batch fire in the next
invocation — the same behavior Flink exhibits when a watermark jumps
past several timers at once.

Consecutive due interval ticks with no interleaving data would emit
identical partial counts; they are coalesced into one fire at the
latest due tick (documented delta: fewer duplicate partials, same
final results).

These run with no extra dependencies: Spark's one per-group state
operator with processing- and event-time timeouts carries every timer
the reference uses, so no second stateful API is needed.
"""

from __future__ import annotations

import json
from typing import Iterable, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType, DoubleType, LongType, StringType, StructField, StructType,
)

EARLY_FIRING_SCHEMA = StructType([
    StructField("id", StringType()),
    StructField("window_start", LongType()),
    StructField("window_end", LongType()),
    StructField("fire_ms", LongType()),
    StructField("cnt", LongType()),
    StructField("is_final", BooleanType()),
])

_EF_STATE = StructType([StructField("counts_json", StringType())])


def _decode_ef_state(raw: str) -> tuple[dict, dict]:
    """Decode early-firing persisted state. r11 changed the layout
    from a flat {start: count} dict to {"c": counts, "f": fired}; a
    checkpoint written by the pre-r11 code must restore, not
    KeyError('c') (r12 ADVICE fix). Legacy keys are stringified window
    starts, so "c" can never collide with a legacy key; a legacy
    restore starts with an empty fired map — worst case one
    re-emitted early partial on the first post-upgrade batch, never a
    wrong count."""
    st = json.loads(raw)
    counts = {int(k): int(v) for k, v in st.get("c", st).items()}
    fired = {int(k): int(v) for k, v in st.get("f", {}).items()}
    return counts, fired


def early_firing_window_counts(readings: DataFrame,
                               window_ms: int = 30_000,
                               interval_ms: int = 1_000,
                               watermark_delay: str = "5 seconds") -> DataFrame:
    """W4+A9+W6 — ThirtySecondsWindows + OneSecondIntervalTrigger +
    CountFunction (chapter6/CustomWindow.scala:56-168): per-key tumbling
    count windows that FIRE a partial result at every event-time
    interval tick and FIRE_AND_PURGE when the watermark passes window
    end.

    State: {window_start: count} (the window contents reduced to the
    count accumulator). The group's event-time timeout is re-armed to
    the next interval tick past the watermark, so closed windows fire
    even when the key receives no further data — the reference's
    per-window end timer.

    Late input: with EventTimeTimeout, SS drops rows not newer than the
    current watermark before they reach the operator — the same
    drop-late default as the reference's window operator (route rows
    through tag_late_rows first to capture them instead).

    readings: (id string, timestamp long event-ms, temperature double).
    """
    def fire(sensor_id: str, counts: dict, fired: dict,
             wm: int) -> list[tuple]:
        out = []
        for start in sorted(counts):
            end = start + window_ms
            if wm >= end:
                # FIRE_AND_PURGE (onEventTime t == window.getEnd)
                out.append((sensor_id, start, end, end, counts[start], True))
            elif wm >= start + interval_ms:
                # early FIRE at the latest due tick (coalesced); emit
                # only if the tick ADVANCED since this window's last
                # early fire — a data-arrival invocation under a
                # stalled watermark would otherwise re-emit a
                # byte-identical partial into the append output, a
                # duplicate the reference's timer-only trigger never
                # produces (r11 review find)
                tick = wm - (wm % interval_ms)
                if tick > fired.get(start, -1):
                    out.append((sensor_id, start, end, tick,
                                counts[start], False))
        for row in out:
            if row[5]:
                counts.pop(row[1], None)
                fired.pop(row[1], None)
            else:
                fired[row[1]] = row[3]
        return out

    def fn(key: Tuple[str], pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        (sensor_id,) = key
        wm = state.getCurrentWatermarkMs()
        if state.exists:
            counts, fired = _decode_ef_state(state.get[0])
        else:
            counts, fired = {}, {}
        for pdf in pdfs:
            for ts in pdf["timestamp"].astype("int64"):
                start = int(ts) - int(ts) % window_ms
                counts[start] = counts.get(start, 0) + 1
        rows = fire(sensor_id, counts, fired, wm)
        if counts:
            state.update((json.dumps({"c": counts, "f": fired}),))
            # next pending timer: the earliest of (next tick, any window
            # end) strictly beyond the current watermark
            next_tick = wm - (wm % interval_ms) + interval_ms
            pending = min([next_tick] +
                          [s + window_ms for s in counts
                           if s + window_ms > wm])
            state.setTimeoutTimestamp(pending)
        elif state.exists:
            state.remove()
        if rows:
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              EARLY_FIRING_SCHEMA.fields])

    wm_df = readings.withColumn(
        "event_time", F.timestamp_millis(F.col("timestamp"))
    ).withWatermark("event_time", watermark_delay)
    return wm_df.groupBy("id").applyInPandasWithState(
        fn, outputStructType=EARLY_FIRING_SCHEMA, stateStructType=_EF_STATE,
        outputMode="append", timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


TAGGED_SCHEMA = StructType([
    StructField("id", StringType()),
    StructField("timestamp", LongType()),
    StructField("temperature", DoubleType()),
    StructField("is_late", BooleanType()),
])

_NO_STATE = StructType([StructField("unused", LongType())])


def tag_late_rows(readings: DataFrame,
                  watermark_delay: str = "5 seconds") -> DataFrame:
    """T5/T6 — LateReadingsFilter (chapter6/LateDataHandling.scala:60-76):
    a row is late iff its event time < the current watermark
    (`ctx.timerService.currentWatermark`, here
    `GroupState.getCurrentWatermarkMs`). The reference routes late rows
    to a side output; here every row is emitted with an `is_late` tag
    and the two outputs are filter branches over one result (the O1
    DAG-reuse idiom) — late rows are CAPTURED, not silently dropped.

    Stateless; the stateful API is used only for watermark access (W6).
    """
    def fn(key: Tuple[str], pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        (sensor_id,) = key
        wm = state.getCurrentWatermarkMs()
        for pdf in pdfs:
            if len(pdf):
                yield pd.DataFrame({
                    "id": pdf["id"],
                    "timestamp": pdf["timestamp"].astype("int64"),
                    "temperature": pdf["temperature"],
                    "is_late": pdf["timestamp"].astype("int64") < wm,
                })

    wm_df = readings.withColumn(
        "event_time", F.timestamp_millis(F.col("timestamp"))
    ).withWatermark("event_time", watermark_delay)
    return wm_df.groupBy("id").applyInPandasWithState(
        fn, outputStructType=TAGGED_SCHEMA, stateStructType=_NO_STATE,
        outputMode="append", timeoutConf=GroupStateTimeout.NoTimeout,
    )


UPDATING_SCHEMA = StructType([
    StructField("id", StringType()),
    StructField("window_start", LongType()),
    StructField("window_end", LongType()),
    StructField("cnt", LongType()),
    StructField("tag", StringType()),
])

_UW_STATE = StructType([StructField("wins_json", StringType())])


def updating_window_counts_stream(readings: DataFrame,
                                  window_ms: int = 10_000,
                                  disorder: str = "5 seconds",
                                  lateness_ms: int = 5_000) -> DataFrame:
    """T7 — allowedLateness + UpdatingWindowCountFunction
    (chapter6/LateDataHandling.scala:112-172): a window fires once when
    the (reference) watermark passes its end — tagged 'first' — and
    re-fires tagged 'update' for every late arrival within
    `lateness_ms` after that.

    Mapping to SS: the stream's watermark delay is disorder + lateness,
    so SS itself drops rows later than the reference's total accept
    window; the reference watermark = SS watermark + lateness, i.e. a
    window's FIRST fire is due when SS-wm >= end - lateness (armed as
    the event-time timeout), and state purges when SS-wm >= end.

    Accept-rule delta (documented): SS's late filter is per-ROW
    (drop when ts < previous batch's watermark, i.e. when ref-wm >=
    ts + lateness) where the reference's is per-WINDOW (drop when
    ref-wm >= window end + lateness) — rows early within a window stop
    being update-eligible slightly sooner than in Flink.

    State: {window_start: [count, fired]}. Batch twin (oracle-checked):
    queries.late_window_updates.
    """
    delay_ms = lateness_ms  # reference wm = SS wm + lateness

    def fn(key: Tuple[str], pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        (sensor_id,) = key
        wm = state.getCurrentWatermarkMs()
        wins: dict[int, list[int]] = (
            {int(k): list(v) for k, v in json.loads(state.get[0]).items()}
            if state.exists else {})
        out: list[tuple] = []
        for pdf in pdfs:
            for ts in pdf["timestamp"].astype("int64"):
                start = int(ts) - int(ts) % window_ms
                cnt, fired = wins.get(start, [0, 0])
                wins[start] = [cnt + 1, fired]
                if fired:  # late arrival into an already-fired window
                    out.append((sensor_id, start, start + window_ms,
                                cnt + 1, "update"))
        # first fires: reference watermark (wm + lateness) passed end
        for start in sorted(wins):
            cnt, fired = wins[start]
            end = start + window_ms
            if not fired and wm + delay_ms >= end:
                out.append((sensor_id, start, end, cnt, "first"))
                wins[start][1] = 1
            if wm >= end:  # accept window over -> purge
                del wins[start]
        if wins:
            state.update((json.dumps(wins),))
            pending = min(
                max(s + window_ms - delay_ms, wm + 1) if not f[1]
                else s + window_ms
                for s, f in ((s, wins[s]) for s in wins))
            state.setTimeoutTimestamp(max(pending, wm + 1))
        elif state.exists:
            state.remove()
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in
                                             UPDATING_SCHEMA.fields])

    # parse disorder into ms and ADD the allowed lateness, whatever the
    # unit. The old shortcut (endswith("seconds") -> add whole seconds)
    # mis-parsed "500 milliseconds" as 500 SECONDS + lateness (state
    # held ~1000x too long) and silently DROPPED the lateness term for
    # any other unit ("1 minute"), making SS discard rows the
    # allowed-lateness contract promises to re-fire (r11 review find).
    _MS_PER = {"millisecond": 1, "milliseconds": 1,
               "second": 1_000, "seconds": 1_000,
               "minute": 60_000, "minutes": 60_000,
               "hour": 3_600_000, "hours": 3_600_000,
               "day": 86_400_000, "days": 86_400_000}
    parts = disorder.split()
    if len(parts) != 2 or parts[1].lower() not in _MS_PER:
        raise ValueError(
            f"updating_window_counts_stream: cannot parse disorder "
            f"{disorder!r} — use '<n> "
            f"{'/'.join(sorted(set(_MS_PER)))}'")
    disorder_ms = int(parts[0]) * _MS_PER[parts[1].lower()]
    total_delay = f"{disorder_ms + lateness_ms} milliseconds"
    wm_df = readings.withColumn(
        "event_time", F.timestamp_millis(F.col("timestamp"))
    ).withWatermark("event_time", total_delay)
    return wm_df.groupBy("id").applyInPandasWithState(
        fn, outputStructType=UPDATING_SCHEMA, stateStructType=_UW_STATE,
        outputMode="append", timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
