"""Structured Streaming tests: stateful operators (F1/F2/F4, J2),
windowed aggregation with watermark, sinks (memory/queryable state,
idempotent foreachBatch), and checkpoint recovery (R5).

Strategy: bounded file streams (readStream over a temp parquet dir) +
Trigger.availableNow — deterministic, fast, and exactly SS's unified
batch/stream model.
"""

from __future__ import annotations

import ast
import os
import pathlib

import pyspark.sql.functions as F
import pytest

from examples_scala_spark.streaming import sinks, stateful
from examples_scala_spark.streaming.sinks import RUN_TIMEOUT_S, run_bounded


def _sensor_stream(spark, tmpdir, rows):
    """Bounded streaming source with schema (id, timestamp, temperature)."""
    path = os.path.join(tmpdir, "in")
    df = spark.createDataFrame(rows, ["id", "timestamp", "temperature"])
    df.repartition(1).write.mode("overwrite").parquet(path)
    return (
        spark.readStream.schema("id string, timestamp long, temperature double")
        .parquet(path)
    )


def test_temperature_delta_alerts_stream(spark, tmpdir):
    rows = [("s1", 1, 10.0), ("s1", 2, 10.5), ("s1", 3, 20.0),
            ("s2", 1, 5.0), ("s2", 2, 5.1)]
    out = stateful.temperature_delta_alerts(_sensor_stream(spark, tmpdir, rows),
                                            threshold=1.7)
    assert out.columns == ["timestamp", "id", "temperature", "diff"]
    run_bounded(out, lambda w: w.format("memory").queryName("delta_alerts"),
                os.path.join(tmpdir, "ck"))
    got = [(r.id, r.temperature, round(r.diff, 3))
           for r in spark.sql("SELECT * FROM delta_alerts").collect()]
    assert got == [("s1", 20.0, 9.5)]


def test_delta_alerts_state_survives_batches(spark, tmpdir):
    # second file arrives as a second micro-batch: state (lastTemp)
    # must carry across batches via the state store
    path = os.path.join(tmpdir, "in")
    spark.createDataFrame([("s1", 1, 10.0)],
                          ["id", "timestamp", "temperature"]) \
        .repartition(1).write.mode("overwrite").parquet(path)
    stream = (
        spark.readStream.schema("id string, timestamp long, temperature double")
        .option("maxFilesPerTrigger", 1).parquet(path)
    )
    out = stateful.temperature_delta_alerts(stream, threshold=1.7)
    ckpt = os.path.join(tmpdir, "ckpt2")
    got: list = []

    def collect_rows(batch_df, batch_id):
        got.extend((r.id, r.temperature, r.diff) for r in batch_df.collect())

    run_bounded(out, lambda w: w.foreachBatch(collect_rows), ckpt)
    # batch 2 (new file) after restart from the same checkpoint:
    # state (lastTemp=10.0) must be restored from the state store
    spark.createDataFrame([("s1", 2, 30.0)],
                          ["id", "timestamp", "temperature"]) \
        .repartition(1).write.mode("append").parquet(path)
    run_bounded(stateful.temperature_delta_alerts(
            spark.readStream.schema("id string, timestamp long, temperature double")
            .option("maxFilesPerTrigger", 1).parquet(path), threshold=1.7),
        lambda w: w.foreachBatch(collect_rows), ckpt)
    assert ("s1", 30.0, 20.0) in got  # diff vs state from batch 1


def test_high_temp_counter_update_mode(spark, tmpdir):
    rows = [("s1", 1, 150.0), ("s1", 2, 50.0), ("s1", 3, 200.0),
            ("s2", 1, 99.0)]
    out = stateful.high_temp_counter(_sensor_stream(spark, tmpdir, rows))
    run_bounded(out, lambda w: (
        w.format("memory").queryName("high_counts").outputMode("update")),
        os.path.join(tmpdir, "ck"))
    got = {r.id: r.high_count
           for r in spark.sql("SELECT * FROM high_counts").collect()}
    assert got == {"s1": 2, "s2": 0}


def test_switchable_forwarder(spark, tmpdir):
    readings = _sensor_stream(spark, tmpdir, [
        ("s1", 100, 1.0), ("s1", 500, 2.0), ("s1", 20_000, 3.0),
        ("s2", 200, 9.0)])
    sw_path = os.path.join(tmpdir, "sw")
    spark.createDataFrame([("s1", 0, 10_000)], ["id", "timestamp", "duration_ms"]) \
        .repartition(1).write.mode("overwrite").parquet(sw_path)
    switches = (
        spark.readStream.schema("id string, timestamp long, duration_ms long")
        .parquet(sw_path)
    )
    out = stateful.switchable_forwarder(readings, switches)
    # A ProcessingTimeTimeout query never ends under availableNow (the
    # timeout keeps scheduling no-data batches), so run_bounded cannot
    # run it. Trigger.Once processes all input in one batch and ends.
    q = (out.writeStream.format("memory").queryName("forwarded")
         .option("checkpointLocation", os.path.join(tmpdir, "ck"))
         .trigger(once=True).start())
    assert q.awaitTermination(RUN_TIMEOUT_S), "forwarder still running"
    got = {(r.id, r.timestamp) for r in spark.sql("SELECT * FROM forwarded").collect()}
    # s1 armed 0..10000: rows at 100 and 500 pass, 20000 blocked; s2 never armed
    assert got == {("s1", 100), ("s1", 500)}


def test_self_cleaning_alert_emits_and_expires(spark, tmpdir):
    rows = [("s1", 1_000, 10.0), ("s1", 2_000, 30.0)]
    stream = _sensor_stream(spark, tmpdir, rows).withColumn(
        "event_ts", F.timestamp_millis(F.col("timestamp")))
    out = stateful.self_cleaning_delta_alerts(
        stream.withWatermark("event_ts", "1 second"), threshold=1.7,
        ttl_ms=3_600_000)
    run_bounded(out, lambda w: w.format("memory").queryName("ttl_alerts"),
                os.path.join(tmpdir, "ck"))
    got = [(r.id, r.temperature, r.diff)
           for r in spark.sql("SELECT * FROM ttl_alerts").collect()]
    assert got == [("s1", 30.0, 20.0)]


def test_windowed_average_stream(spark, tmpdir):
    # chapter1 pipeline on a bounded stream: 1 s windows, avg celsius.
    # Append mode only emits once the watermark (max ts - 5 s) passes a
    # window end, so a second batch carries a flush row at t=20 s.
    path = os.path.join(tmpdir, "in")
    spark.createDataFrame(
        [("s1", 0, 32.0), ("s1", 500, 212.0), ("s1", 1500, 32.0)],
        ["id", "timestamp", "temperature"]) \
        .repartition(1).write.mode("overwrite").parquet(path)
    spark.createDataFrame([("s9", 20_000, 0.0)],
                          ["id", "timestamp", "temperature"]) \
        .repartition(1).write.mode("append").parquet(path)
    stream = (
        spark.readStream.schema("id string, timestamp long, temperature double")
        .option("maxFilesPerTrigger", 1).parquet(path)
    ).withColumn("ts", F.timestamp_millis(F.col("timestamp")))
    out = (
        stream.withColumn("celsius", (F.col("temperature") - 32) * 5.0 / 9.0)
        .withWatermark("ts", "5 seconds")
        .groupBy(F.window("ts", "1 second"), "id")
        .agg(F.avg("celsius").alias("avg_temp"))
        .select(F.col("window.start").cast("long").alias("ws"), "id", "avg_temp")
    )
    run_bounded(out, lambda w: w.format("memory").queryName("win_avg"),
                os.path.join(tmpdir, "ck"))
    got = {(r.ws, r.avg_temp) for r in spark.sql("SELECT * FROM win_avg").collect()}
    assert got == {(0, 50.0), (1, 0.0)}


def test_streams_run_one_state_store_batch_keeps_the_cores(spark, tmpdir):
    """`tune` sets two partition counts. From the vanilla session
    default of 200 shuffle partitions, a stream's stateful operator
    runs STREAM_STATE_PARTITIONS state stores, while a batch shuffle
    still starts from the core count (AQE's initial partition
    number)."""
    import re

    from examples_scala_spark.session import STREAM_STATE_PARTITIONS, tune

    spark.conf.set("spark.sql.shuffle.partitions", "200")
    spark.conf.unset(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    tune(spark)
    stream = _sensor_stream(spark, tmpdir, [("s1", 1_000, 50.0),
                                            ("s2", 1_500, 60.0)])
    out = (stream.withColumn("ts", F.timestamp_millis(F.col("timestamp")))
           .withWatermark("ts", "5 seconds")
           .groupBy(F.window("ts", "1 second"), "id").count())
    q = run_bounded(out, lambda w: (
        w.format("memory").queryName("one_store").outputMode("append")),
        os.path.join(tmpdir, "ck"))
    store = q.lastProgress["stateOperators"][0]
    assert store["numShufflePartitions"] == STREAM_STATE_PARTITIONS

    batch = (spark.range(100).withColumn("k", F.col("id") % 7)
             .groupBy("k").count())
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert re.findall(r"hashpartitioning\(k#\d+L?, (\d+)\)", plan) == [
        os.environ["SPARK_GRAFT_CPUS"]], plan


def test_session_reads_every_runtime_conf_tune_sets(spark):
    """`get_spark` leaves the runtime SQL confs (timezone, AQE, Arrow,
    both partition counts) to `tune`, which sets each once: the
    fixture session reads tune's value for every key it sets."""
    from unittest import mock

    from examples_scala_spark.session import tune

    tuned = dict(c.args for c in tune(mock.Mock()).conf.set.call_args_list)
    assert len(tuned) == 8, tuned
    assert {k: spark.conf.get(k) for k in tuned} == tuned


def test_high_temp_counter_ships_only_read_columns(spark, tmpdir):
    """Catalyst does not prune columns through the pandas-with-state
    node, so the counter projects its input itself: only the key and
    the temperature cross the Arrow boundary."""
    stream = _sensor_stream(spark, tmpdir, [("s1", 1, 150.0)]).withColumn(
        "ts", F.timestamp_millis(F.col("timestamp")))
    plan = stateful.high_temp_counter(stream)._jdf.queryExecution().analyzed()

    def find(node):
        if node.nodeName() == "FlatMapGroupsInPandasWithState":
            return node
        kids = node.children()
        for i in range(kids.size()):
            hit = find(kids.apply(i))
            if hit is not None:
                return hit
        return None

    child = find(plan).children().apply(0)
    out = child.output()
    assert [out.apply(i).name() for i in range(out.size())] == [
        "id", "temperature"]


def test_memory_sink_queryable_state(spark, tmpdir):
    # R3 — asQueryableState twin: windowed max queryable via SQL
    rows = [("s1", 1, 10.0), ("s1", 2, 99.0)]
    out = stateful.high_temp_counter(_sensor_stream(spark, tmpdir, rows),
                                     threshold=50.0)
    run_bounded(out, lambda w: (w.format("memory").queryName("maxTemperature")
                                .outputMode("update")),
                os.path.join(tmpdir, "ck"))
    assert spark.sql("SELECT high_count FROM maxTemperature").collect()[0][0] == 1


def test_idempotent_batch_writer_skips_replay(spark, tmpdir):
    target = os.path.join(tmpdir, "out")
    calls = []
    w = sinks.IdempotentBatchWriter(target, write_fn=lambda df, bid: calls.append(bid))
    df = spark.range(3)
    w(df, 0)
    w(df, 1)
    w(df, 0)  # replayed after simulated recovery
    assert calls == [0, 1]


def test_parquet_upsert_writer_merges_without_driver_collect(spark, tmpdir):
    """K3 scale path: hash-bucketed parquet upsert. Three micro-batches
    of keyed updates (with overlapping keys) must converge to
    last-write-wins state; replaying a batch (at-least-once redelivery)
    must not change the result; buckets untouched by a batch survive."""
    table = os.path.join(tmpdir, "state")
    w = sinks.parquet_upsert_writer(table, "k", "v", buckets=4)
    b0 = spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)], ["k", "v"])
    b1 = spark.createDataFrame([(2, 21.0), (4, 40.0)], ["k", "v"])
    w(b0, 0)
    w(b1, 1)
    w(b1, 1)  # redelivered after simulated recovery — must converge
    got = {(r.k, r.v) for r in
           spark.read.parquet(table).select("k", "v").collect()}
    assert got == {(1, 10.0), (2, 21.0), (3, 30.0), (4, 40.0)}
    # end-to-end: bounded stream of update-mode aggregates through the
    # writer equals the batch aggregate
    path = os.path.join(tmpdir, "in")
    for i in range(3):
        spark.createDataFrame([(i % 2, float(i))], ["k", "x"]) \
            .repartition(1).write.mode("append").parquet(path)
    agg = (spark.readStream.schema("k long, x double")
           .option("maxFilesPerTrigger", 1).parquet(path)
           .groupBy("k").agg(F.sum("x").alias("v")))
    table2 = os.path.join(tmpdir, "state2")
    run_bounded(agg, lambda w: (
        w.foreachBatch(sinks.parquet_upsert_writer(table2, "k", "v", 4))
        .outputMode("update")), os.path.join(tmpdir, "ck2"))
    got2 = {(r.k, r.v) for r in
            spark.read.parquet(table2).select("k", "v").collect()}
    assert got2 == {(0, 2.0), (1, 1.0)}


def test_parquet_upsert_writer_runs_upstream_once(spark, tmpdir):
    """The merge runs several actions on the batch (bucket collect,
    anti-join, union, write); each must read one materialization, not
    re-run the stateful upstream and its state-store update per action.
    The cache entry must not outlive its micro-batch."""
    path = os.path.join(tmpdir, "in")
    rows = [(k, float(10 * i + k)) for i in range(3) for k in range(5)]
    for i in range(3):
        spark.createDataFrame(rows[5 * i:5 * i + 5], ["k", "x"]) \
            .repartition(1).write.mode("append").parquet(path)
    agg = (spark.readStream.schema("k long, x double")
           .option("maxFilesPerTrigger", 1).parquet(path)
           .groupBy("k").agg(F.sum("x").alias("v")))
    table = os.path.join(tmpdir, "state")
    q = run_bounded(agg, lambda w: (
        w.foreachBatch(sinks.parquet_upsert_writer(table, "k", "v", 4))
        .outputMode("update")), os.path.join(tmpdir, "ck"))
    updated = [p["stateOperators"][0]["numRowsUpdated"]
               for p in q.recentProgress if p["numInputRows"] > 0]
    assert updated == [5, 5, 5]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    got = {(r.k, r.v) for r in
           spark.read.parquet(table).select("k", "v").collect()}
    want = {(r.k, r.v) for r in
            spark.read.parquet(path).groupBy("k")
            .agg(F.sum("x").alias("v")).collect()}
    assert got == want


def test_parquet_upsert_writer_writes_one_file_per_bucket(spark, tmpdir):
    """Each batch rewrites a touched bucket as exactly one parquet file,
    whatever the partitioning of the merged rows; the table stays
    last-write-wins across overlapping batches."""
    table = os.path.join(tmpdir, "state")
    w = sinks.parquet_upsert_writer(table, "k", "v", buckets=16)
    want: dict[int, float] = {}
    for i in range(5):
        rows = [(k, float(100 * i + k)) for k in range(100 * i, 100 * i + 250)]
        want.update(rows)
        w(spark.createDataFrame(rows, "k long, v double").repartition(4), i)
        per_bucket = {d: [f for f in os.listdir(os.path.join(table, d))
                          if f.endswith(".parquet")]
                      for d in os.listdir(table) if d.startswith("bucket=")}
        assert len(per_bucket) == 16
        assert {d: len(fs) for d, fs in per_bucket.items()
                if len(fs) != 1} == {}, f"batch {i}"
        got = {(r.k, r.v) for r in
               spark.read.parquet(table).select("k", "v").collect()}
        assert got == set(want.items()), f"batch {i}"


def test_recovery_from_checkpoint_exactly_once(spark, tmpdir):
    """R5 — FailingMapper-style recovery: sink fails mid-stream, the
    restarted query resumes from the checkpoint and the idempotent
    writer produces each batch exactly once."""
    path = os.path.join(tmpdir, "in")
    for i in range(3):
        spark.createDataFrame([(i, float(i))], ["k", "v"]) \
            .repartition(1).write.mode("append").parquet(path)
    stream = lambda: (  # noqa: E731
        spark.readStream.schema("k long, v double")
        .option("maxFilesPerTrigger", 1).parquet(path)
    )
    target = os.path.join(tmpdir, "out")
    seen: list[tuple[int, list]] = []
    failed = {"done": False}

    def flaky_write(batch_df, batch_id):
        rows = sorted(r.k for r in batch_df.collect())
        if batch_id == 1 and not failed["done"]:
            failed["done"] = True
            raise RuntimeError("injected sink failure")
        seen.append((batch_id, rows))

    writer = sinks.IdempotentBatchWriter(target, write_fn=flaky_write)
    ckpt = os.path.join(tmpdir, "ckpt")
    with pytest.raises(Exception, match="injected sink failure"):
        run_bounded(stream(), lambda w: w.foreachBatch(writer), ckpt)
    # restart from the same checkpoint — batch 1 replays, batch 0 must not
    run_bounded(stream(), lambda w: w.foreachBatch(writer), ckpt)
    batch_ids = [b for b, _ in seen]
    assert sorted(batch_ids) == [0, 1, 2]          # each batch delivered once
    assert len(batch_ids) == len(set(batch_ids))   # no duplicates


def test_ordered_trace_survives_multi_chunk_groups(spark, tmpdir):
    """ADVICE r3 item 1 regression test: applyInPandasWithState yields
    one key's micro-batch as MULTIPLE Arrow chunks (in shuffle-arrival
    order) once the batch exceeds arrow.maxRecordsPerBatch. The
    event-ordered handlers must concat-then-sort the whole group
    (streaming/stateful.py:ordered_batch); sorting each chunk
    independently produces a garbled trace. Forced here with a tiny
    chunk size and rows staged in REVERSED event order."""
    import pandas as pd


    n = 200
    # deterministic zig-zag per event: alternating spikes so the alert
    # set depends on exact scan order
    rows = [("s1", i, i, 50.0 + (25.0 if i % 3 == 0 else 0.0) + i * 0.01)
            for i in range(n)]
    # expected alerts from an ordered scan (the batch lag() semantics)
    expected = []
    last = None
    for _, _, eid, t in sorted(rows, key=lambda r: r[2]):
        if last is not None and abs(t - last) > 17.0:
            expected.append((eid, round(t - last, 6)))
        last = t
    assert len(expected) > 50  # the fixture genuinely exercises order

    path = os.path.join(tmpdir, "in")
    df = spark.createDataFrame(
        [(r[0], r[1], r[2], r[3]) for r in sorted(
            rows, key=lambda r: -r[2])],  # stage REVERSED
        ["id", "timestamp", "event_id", "temperature"])
    df.coalesce(1).write.mode("overwrite").parquet(path)
    stream = (spark.readStream
              .schema("id string, timestamp long, event_id long, "
                      "temperature double")
              .parquet(path))

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        out = stateful.temperature_delta_alerts(stream, threshold=17.0,
                                                order="event_id")
        run_bounded(out, lambda w: (
            w.format("memory").queryName("multi_chunk_trace")),
            os.path.join(tmpdir, "ck"))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    got = sorted((r.event_id, round(r.diff, 6)) for r in
                 spark.sql("SELECT * FROM multi_chunk_trace").collect())
    assert got == sorted(expected)


def test_high_temp_counter_per_subtask_operator_state(spark, tmpdir):
    """F5's operator-state half: running high-temp counts per parallel
    instance (spark_partition_id), held in the state store across
    micro-batches — the structural twin of the reference's
    opHighTempCnt ListState. The partition-id keying means per-subtask
    counts must (a) sum to the total high count, (b) accumulate across
    batches (update mode re-emits grown counts)."""
    path = os.path.join(tmpdir, "in")
    rows1 = [("s1", 1, 150.0), ("s2", 2, 50.0), ("s3", 3, 160.0),
             ("s4", 4, 170.0)]
    spark.createDataFrame(rows1, ["id", "timestamp", "temperature"]) \
        .repartition(2).write.mode("overwrite").parquet(path)
    stream = (
        spark.readStream.schema("id string, timestamp long, temperature double")
        .option("maxFilesPerTrigger", 2).parquet(path)
    )
    out = stateful.high_temp_counter_per_subtask(stream, threshold=100.0)
    run_bounded(out, lambda w: (
        w.format("memory").queryName("subtask_counts").outputMode("update")),
        os.path.join(tmpdir, "ck_sub"))
    got = {r.subtask: r.op_high_count for r in
           spark.sql("SELECT * FROM subtask_counts").collect()}
    assert sum(got.values()) >= 3  # every high reading counted somewhere
    # second batch: counts must grow from state, not restart
    spark.createDataFrame([("s5", 5, 180.0)],
                          ["id", "timestamp", "temperature"]) \
        .repartition(1).write.mode("append").parquet(path)
    run_bounded(stateful.high_temp_counter_per_subtask(
            spark.readStream
            .schema("id string, timestamp long, temperature double")
            .option("maxFilesPerTrigger", 2).parquet(path), threshold=100.0),
        lambda w: (w.format("memory").queryName("subtask_counts2")
                   .outputMode("complete")),
        os.path.join(tmpdir, "ck_sub2"))
    total = sum(r.op_high_count for r in
                spark.sql("SELECT * FROM subtask_counts2").collect())
    assert total == 4  # 3 from batch files + 1 appended, accumulated


# ---------------------------------------------------- registry replay harness

N_REPLAY = 1000


@pytest.mark.parametrize("make_parts, per_trigger, check", [
    # one range-ordered part of 4 sorted files, one file per batch: the
    # replay streams the ids in ascending order across 4 batches
    (lambda df: [df.repartitionByRange(4, "id").sortWithinPartitions("id")],
     1, lambda bs: len(bs) == 4 and sum(bs, []) == list(range(N_REPLAY))),
    # 4 one-file slices: batch k is exactly slice k
    (lambda df: [df.filter(df.id % 4 == k).coalesce(1) for k in range(4)],
     1, lambda bs: [sorted(b) for b in bs]
     == [list(range(k, N_REPLAY, 4)) for k in range(4)]),
    # one part of 8 files at 4 files per trigger: 2 batches of 4 files
    (lambda df: [df.repartition(8)],
     4, lambda bs: len(bs) == 2
     and sorted(sum(bs, [])) == list(range(N_REPLAY))),
], ids=["ordered", "slices", "parallel"])
def test_replay_streams_part_k_as_batch_k(spark, make_parts, per_trigger,
                                          check):
    """The staging contract of the registry replay harness: parts
    stream in list order, files within a part in partition order, and
    per_trigger files make one micro-batch."""
    from examples_scala_spark.queries import _replay, _run_replay

    batches: list[list[int]] = []
    src = _replay(spark, make_parts(spark.range(N_REPLAY)), per_trigger)
    _run_replay(src, lambda w: w.foreachBatch(
        lambda b, _: batches.append([r.id for r in b.collect()])))
    assert check(batches), [len(b) for b in batches]


def test_run_replay_stops_and_raises_on_timeout(spark, monkeypatch):
    """A replay that outlives RUN_TIMEOUT_S must not return as if it
    had finished: the query is stopped and the run raises."""
    import time

    from examples_scala_spark import queries

    monkeypatch.setattr(sinks, "RUN_TIMEOUT_S", 1)
    src = queries._replay(spark, [spark.range(3).coalesce(1)])
    with pytest.raises(TimeoutError, match="slow_replay"):
        queries._run_replay(src, lambda w: (
            w.foreachBatch(lambda b, _: time.sleep(4))
            .queryName("slow_replay")))
    assert spark.streams.active == []


#: Every awaitTermination call outside perfbench/, keyed by file and
#: the top-level function that makes it, with why it may wait there.
#: Any other wait can return False on a live query and let a test read
#: its partial output; a bounded run goes through run_bounded.
WAIT_SITES = {
    ("examples_scala_spark/streaming/sinks.py", "run_bounded"):
        "the bounded run: a timeout stops the query and raises",
    ("examples_scala_spark/programs.py", "run_program"):
        "live source: runs for the caller's duration, then stops",
    ("tests/test_programs.py", "test_program_runs_live"):
        "live source: waits for two micro-batches, then stops",
    ("tests/test_streaming.py", "test_switchable_forwarder"):
        "processing-time timeout: only Trigger.Once ends the query",
    ("tests/test_streaming_extras.py", "test_temperature_rise_warning_fires"):
        "processing-time timeout: only Trigger.Once ends the query",
}


def _call_sites(method, subdirs):
    """(file, top-level function) of each `<x>.<method>(...)` call."""
    root = pathlib.Path(__file__).resolve().parents[1]
    found = set()
    for sub in subdirs:
        for path in sorted((root / sub).rglob("*.py")):
            rel = path.relative_to(root).as_posix()
            for top in ast.parse(path.read_text()).body:
                found |= {(rel, getattr(top, "name", "<module>"))
                          for node in ast.walk(top)
                          if isinstance(node, ast.Call)
                          and isinstance(node.func, ast.Attribute)
                          and node.func.attr == method}
    return found


def test_bounded_runs_go_through_one_function():
    """No module or test waits on a streaming query except at the
    sites named in WAIT_SITES."""
    assert _call_sites("awaitTermination",
                       ("examples_scala_spark", "tests")) == set(WAIT_SITES)


def test_scratch_comes_from_one_function():
    """Every directory the package and the tools make is session
    scratch: `session.scratch_dir` is the one `mkdtemp` caller."""
    assert _call_sites("mkdtemp", ("examples_scala_spark", "tools")) == {
        ("examples_scala_spark/session.py", "scratch_dir")}


SCRATCH_LIFETIME = """
import json, os, tempfile
made, mkdtemp = [], tempfile.mkdtemp
def recording_mkdtemp(*args, **kwargs):
    made.append(mkdtemp(*args, **kwargs))
    return made[-1]
tempfile.mkdtemp = recording_mkdtemp
from examples_scala_spark import queries
from examples_scala_spark.session import get_spark, scratch_dir
spark = get_spark("scratch-lifetime")
src = queries._replay(spark, [spark.range(k, 10, 2).coalesce(1)
                              for k in range(2)])
queries._run_to_memory(spark, src, "lifetime")
scratch_dir("sgs_lifetime_")
spark.stop()
print(json.dumps({"made": made,
                  "left": [d for d in made if os.path.exists(d)]}))
"""


def test_scratch_is_gone_after_the_session_stops():
    """A session stages a two-part replay, runs it to memory, takes one
    more scratch directory and stops: no directory mkdtemp made in the
    process is left, the replay's staging and checkpoint included."""
    import json
    import subprocess
    import sys

    root = pathlib.Path(__file__).resolve().parents[1]
    env = dict(os.environ, SPARK_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="2")
    run = subprocess.run([sys.executable, "-c", SCRATCH_LIFETIME], env=env,
                         cwd=root, capture_output=True, text=True,
                         timeout=300)
    assert run.returncode == 0, run.stderr[-2000:]
    out = json.loads(run.stdout.splitlines()[-1])
    for prefix in ("sgs_replay_", "sgs_ckpt_", "sgs_lifetime_"):
        assert any(os.path.basename(d).startswith(prefix)
                   for d in out["made"]), (prefix, out["made"])
    assert out["left"] == [], out["left"]
