"""Timer-semantics ports: W4 early firing, T5 late capture and T7
updating windows (streaming/timers.py)."""

from __future__ import annotations

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from examples_scala_spark.streaming import timers
from examples_scala_spark.streaming.sinks import run_bounded


def _staged_stream(spark, tmpdir, batches):
    """One parquet file per batch + maxFilesPerTrigger=1 → one
    micro-batch per element of `batches` (watermark advances between)."""
    path = os.path.join(tmpdir, "in")
    os.makedirs(path, exist_ok=True)
    for rows in batches:
        spark.createDataFrame(rows, ["id", "timestamp", "temperature"]) \
            .coalesce(1).write.mode("append").parquet(path)
    return (
        spark.readStream.schema("id string, timestamp long, temperature double")
        .option("maxFilesPerTrigger", 1).parquet(path)
    )


def test_early_firing_window_fire_and_purge(spark, tmpdir):
    # 30 s window [0, 30000); batch 1 puts 3 rows in it (max ts 27000
    # → watermark 22000 for batch 2); batch 2's row at ts=40000 lifts
    # the watermark to 35000 > window end → final fire + purge in
    # batch 3.
    stream = _staged_stream(spark, tmpdir, [
        [("s1", 1_000, 1.0), ("s1", 5_000, 2.0), ("s1", 27_000, 3.0)],
        [("s1", 40_000, 4.0)],
        [("s1", 80_000, 5.0)],
    ])
    out = timers.early_firing_window_counts(stream, window_ms=30_000,
                                            interval_ms=1_000)
    run_bounded(out, lambda w: w.format("memory").queryName("early_firing"),
                os.path.join(tmpdir, "ck"))
    rows = spark.sql(
        "SELECT * FROM early_firing ORDER BY fire_ms, window_start").collect()
    w0 = [r for r in rows if r.window_start == 0]
    partials = [r for r in w0 if not r.is_final]
    finals = [r for r in w0 if r.is_final]
    # early fires emitted partial counts before the window closed,
    # stamped with the due event-time tick (not processing time)
    assert partials and all(r.cnt == 3 for r in partials)
    assert all(r.fire_ms % 1_000 == 0 and r.fire_ms < 30_000
               for r in partials)
    # exactly one FIRE_AND_PURGE with the full count at window end
    assert [(r.cnt, r.fire_ms) for r in finals] == [(3, 30_000)]


def test_early_firing_closes_window_without_new_key_data(spark, tmpdir):
    # s2's window [0,30000) gets data only in batch 1; the watermark
    # advance comes from s1's rows — the re-armed event-time timeout
    # must still final-fire s2's window (the per-window end timer).
    stream = _staged_stream(spark, tmpdir, [
        [("s2", 2_000, 1.0), ("s2", 3_000, 1.0), ("s1", 1_000, 1.0)],
        [("s1", 50_000, 2.0)],
        [("s1", 99_000, 3.0)],
    ])
    out = timers.early_firing_window_counts(stream, window_ms=30_000,
                                            interval_ms=1_000)
    run_bounded(out, lambda w: w.format("memory").queryName("early_firing_timer"),
                os.path.join(tmpdir, "ck"))
    finals = [r for r in spark.sql(
        "SELECT * FROM early_firing_timer").collect()
        if r.is_final and r.id == "s2"]
    assert [(r.window_start, r.cnt) for r in finals] == [(0, 2)]


def test_late_rows_tagged_not_dropped(spark, tmpdir):
    # batch 1 lifts the watermark to 55000 (60000 - 5 s delay);
    # batch 2 delivers ts=10000 (< wm → late) and ts=70000 (on time).
    stream = _staged_stream(spark, tmpdir, [
        [("s1", 60_000, 1.0)],
        [("s1", 10_000, 2.0), ("s1", 70_000, 3.0)],
    ])
    out = timers.tag_late_rows(stream, watermark_delay="5 seconds")
    run_bounded(out, lambda w: w.format("memory").queryName("late_tagged"),
                os.path.join(tmpdir, "ck"))
    rows = {r.timestamp: r.is_late
            for r in spark.sql("SELECT * FROM late_tagged").collect()}
    assert rows[10_000] is True      # captured AND tagged, not dropped
    assert rows[70_000] is False
    assert rows[60_000] is False     # first batch: watermark still 0


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(
    st.tuples(st.sampled_from(["a", "b", "c"]),
              # >= 1: with EventTimeTimeout, SS pre-filters rows not
              # newer than the watermark — an epoch-0 row at the
              # initial watermark 0 is dropped as late (the same
              # drop-late default as the reference's window operator)
              st.integers(min_value=1, max_value=100_000)),
    min_size=1, max_size=50))
def test_early_firing_finals_equal_batch_window_counts(spark, rows):
    """Property: once the watermark passes every window, the timer
    path's FIRE_AND_PURGE counts must equal a plain batch
    groupBy(window) — the two implementations of the same semantics
    cross-check each other on arbitrary event sequences. All rows
    arrive in one batch (watermark 0), so none are dropped as late."""
    from examples_scala_spark.session import scratch_dir

    d = scratch_dir("sgs_prop_")
    try:
        path = os.path.join(d, "in")
        batches = [
            [(i, t, 0.0) for i, t in rows],
            [("z", 10_000_000, 0.0)],   # lifts watermark past all windows
            [("z", 20_000_000, 0.0)],   # lets the final-fire batch run
        ]
        for b in batches:
            spark.createDataFrame(b, "id string, timestamp long, temperature double") \
                .coalesce(1).write.mode("append").parquet(path)
        stream = (spark.readStream
                  .schema("id string, timestamp long, temperature double")
                  .option("maxFilesPerTrigger", 1).parquet(path))
        out = timers.early_firing_window_counts(stream, window_ms=30_000,
                                                interval_ms=1_000)
        run_bounded(out, lambda w: w.format("memory").queryName("prop_ef"),
                    os.path.join(d, "ckpt"))
        finals = {(r.id, r.window_start): r.cnt for r in spark.sql(
            "SELECT * FROM prop_ef WHERE is_final AND id != 'z'").collect()}
        expected = {}
        for i, t in rows:
            k = (i, t - t % 30_000)
            expected[k] = expected.get(k, 0) + 1
        assert finals == expected
    finally:
        spark.catalog.dropTempView("prop_ef")


def test_updating_window_counts_first_then_update(spark, tmpdir):
    """T7: window [0,10000) fires 'first' when the reference watermark
    (SS wm + lateness) passes 10000, then a late row within lateness
    re-fires it tagged 'update' with the corrected count.

    Watermark delay = disorder 5 s + lateness 5 s = 10 s. SS's late
    filter uses the PREVIOUS batch's watermark, so the staging keeps
    wm below the late row's ts until after the first fire."""
    stream = _staged_stream(spark, tmpdir, [
        [("s1", 1_000, 1.0), ("s1", 9_000, 2.0)],   # window 0: cnt 2; wm->0
        [("s1", 16_000, 3.0)],   # during: wm 0 (no fire); after: wm 6000
        [("s1", 17_500, 4.0)],   # during: wm 6000 -> ref wm 11000 >= end
                                 # -> FIRST fire cnt 2; after: wm 7500
        [("s1", 9_500, 5.0),     # late (ref wm 12500 > end) but within
                                 # lateness and >= prev wm -> UPDATE cnt 3
         ("s1", 18_000, 6.0)],
    ])
    out = timers.updating_window_counts_stream(
        stream, window_ms=10_000, disorder="5 seconds", lateness_ms=5_000)
    run_bounded(out, lambda w: w.format("memory").queryName("upd_windows"),
                os.path.join(tmpdir, "ck"))
    rows = [(r.window_start, r.cnt, r.tag) for r in spark.sql(
        "SELECT * FROM upd_windows WHERE id='s1' AND window_start=0"
    ).collect()]
    assert (0, 2, "first") in rows
    assert (0, 3, "update") in rows
    assert len([r for r in rows if r[2] == "first"]) == 1


def test_early_firing_state_survives_restart(spark, tmpdir):
    """Recovery (R4/R5 for the timer operator): stop the query after
    the first batches, add more data, restart from the SAME checkpoint
    — window counts and the re-armed timer must come back from the
    state store and produce the same final fire as an uninterrupted
    run."""
    path = os.path.join(tmpdir, "in")
    ckpt = os.path.join(tmpdir, "ckpt_restart")
    got: list = []

    def collect_rows(batch_df, batch_id):
        got.extend(tuple(r) for r in batch_df.collect())

    def run():
        stream = (spark.readStream
                  .schema("id string, timestamp long, temperature double")
                  .option("maxFilesPerTrigger", 1).parquet(path))
        out = timers.early_firing_window_counts(stream, window_ms=30_000,
                                                interval_ms=1_000)
        run_bounded(out, lambda w: w.foreachBatch(collect_rows), ckpt)

    # run 1: two batches fill window [0, 30000) — no final fire yet
    for rows in [[("s1", 1_000, 1.0), ("s1", 5_000, 2.0)],
                 [("s1", 27_000, 3.0)]]:
        spark.createDataFrame(rows, "id string, timestamp long, temperature double") \
            .coalesce(1).write.mode("append").parquet(path)
    run()
    assert not [r for r in got if r[5]]  # no finals yet

    # run 2 (fresh query, same checkpoint): watermark passes the window
    for rows in [[("s1", 40_000, 4.0)], [("s1", 80_000, 5.0)]]:
        spark.createDataFrame(rows, "id string, timestamp long, temperature double") \
            .coalesce(1).write.mode("append").parquet(path)
    run()
    finals = [r for r in got if r[5] and r[1] == 0]
    # (id, window_start, window_end, fire_ms, cnt, is_final); the count
    # includes the two pre-restart rows recovered from the state store
    assert [(r[4], r[3]) for r in finals] == [(3, 30_000)]
