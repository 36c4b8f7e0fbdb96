"""Runnable programs — one per reference main().

The reference's user-facing surface is 20+ runnable example programs
(one `main` per concept, printing to stdout). This module mirrors that
surface on live rate sources so a user of the reference can run the
same program here:

    python -m examples_scala_spark.programs                   # list
    python -m examples_scala_spark.programs average_sensor_readings
    python -m examples_scala_spark.programs custom_window --duration 20

Each program declares the streaming DataFrame (and optionally a
foreachBatch writer); the runner attaches a console sink, runs for
--duration seconds, and stops. The semantics of every program are
oracle-verified through its batch twin in queries.py — this layer is
the interactive parity surface, not the correctness gate.
"""

from __future__ import annotations

import argparse
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import aggregations as agg
from .operators import joins, transforms
from .operators.side_outputs import freezing_monitor
from .session import scratch_dir
from .sources.sensor import (
    count_source_stream, sensor_source_stream, smoke_level_stream,
)
from .streaming import pipelines, stateful, timers
from .streaming.sinks import IdempotentBatchWriter


@dataclass
class Program:
    build: Callable[[SparkSession], DataFrame]
    reference: str
    output_mode: str = "append"
    doc: str = ""
    # Zero-arg FACTORY returning the foreachBatch writer, called in
    # run_program: importing this module (tests, registry listings)
    # makes no scratch directory and starts no poller thread.
    foreach_batch: Optional[Callable[[], Callable]] = None


PROGRAMS: dict[str, Program] = {}


def program(name: str, reference: str, output_mode: str = "append",
            foreach_batch: Optional[Callable[[], Callable]] = None):
    def deco(fn):
        PROGRAMS[name] = Program(build=fn, reference=reference,
                                 output_mode=output_mode,
                                 doc=(fn.__doc__ or "").strip(),
                                 foreach_batch=foreach_batch)
        return fn
    return deco


# ------------------------------------------------------------------ ch1

@program("average_sensor_readings", "chapter1/AverageSensorReadings.scala:31-64")
def average_sensor_readings(spark):
    """Per-sensor 1 s tumbling average Celsius, 5 s watermark."""
    return pipelines.average_sensor_readings(spark)


# ------------------------------------------------------------------ ch5

@program("basic_transformations", "chapter5/BasicTransformations.scala:40-66")
def basic_transformations(spark):
    """filter(>=25F) -> project -> flatMap(split id) chain."""
    s = sensor_source_stream(spark)
    return transforms.split_ids(
        transforms.filter_min_temperature(s, 25.0).select("id"))


@program("keyed_transformations", "chapter5/KeyedTransformations.scala:44-52",
         output_mode="update")
def keyed_transformations(spark):
    """Running per-key max temperature (rolling reduce)."""
    s = sensor_source_stream(spark)
    return s.groupBy("id").agg(
        F.max("temperature").alias("max_temp"))


@program("rolling_sum", "chapter5/RollingSum.scala:28-33", output_mode="update")
def rolling_sum(spark):
    """Running per-key sum over the counter stream (key = value % 3)."""
    c = count_source_stream(spark, rows_per_second=100)
    return c.groupBy((F.col("value") % 3).alias("k")).agg(
        F.sum("value").alias("running_sum"))


@program("multi_stream_transformations",
         "chapter5/MultiStreamTransformations.scala:40-91")
def multi_stream_transformations(spark):
    """Fire alert: temp > 100F while the smoke control stream reads
    High within the last 10 s (stream-stream interval join — the
    relational form of the reference's CoFlatMap shared variable).

    SS requires an equality predicate between the two streams, so both
    sides carry a literal join key: the smoke level is a GLOBAL control
    signal (the reference shares one variable across all subtasks), so
    every reading joins the same low-rate smoke state. The single key
    routes join state through one partition — correct here because the
    state is O(10 s of a 1 Hz control stream); a per-region control
    signal would use the region as the key instead."""
    readings = (sensor_source_stream(spark)
                .withWatermark("ts", "5 seconds")
                .withColumn("glob", F.lit(1)))
    smoke = (smoke_level_stream(spark)
             .select(F.col("ts").alias("s_ts"), "level")
             .withColumn("s_glob", F.lit(1))
             .withWatermark("s_ts", "5 seconds"))
    j = readings.join(
        smoke,
        (F.col("glob") == F.col("s_glob"))
        & F.expr("s_ts BETWEEN ts - INTERVAL 10 SECONDS AND ts")
        & (F.col("level") == "High"),
    )
    return j.filter(F.col("temperature") > 100.0).select(
        F.concat(F.lit("Risk of fire! "), F.col("id")).alias("message"),
        "timestamp", "temperature")


# ------------------------------------------------------------------ ch6

@program("window_functions", "chapter6/WindowFunctions.scala:30-72")
def window_functions(spark):
    """Per-key 5 s (min, max, window-end) — the reference's
    reduce+process combo as one incremental aggregate."""
    s = sensor_source_stream(spark).withWatermark("ts", "5 seconds")
    return agg.min_max_window(s, "5 seconds")


@program("session_windows", "book ch6 window discussion (sessions; "
                            "no runnable example in the reference repo)")
def session_windows(spark):
    """Hot-streak sessionization on the live sensor stream: readings
    above 85 group into per-sensor sessions closed by a 2 s quiet
    gap (native `session_window` state merging; at 10 Hz/sensor and
    a ~16% tail, streaks of consecutive hot readings start and close
    continuously). Emits (id, streak bounds, n readings, peak) once
    per session when the watermark passes its end."""
    s = sensor_source_stream(spark).withWatermark("ts", "2 seconds")
    hot = s.filter(F.col("temperature") > 85.0)
    return (hot.groupBy(F.session_window("ts", "2 seconds"), "id")
            .agg(F.count(F.lit(1)).alias("n_readings"),
                 F.max("temperature").alias("peak"))
            .select("id",
                    F.col("session_window.start").alias("streak_start"),
                    F.col("session_window.end").alias("streak_end"),
                    "n_readings", "peak"))


@program("pii_scrub", "curation-pipeline scrub stage (no reference main; "
                      "operators/text.py:pii_redact, oracle-proven by the "
                      "pii_redaction_stats batch twin)")
def pii_scrub(spark):
    """Live PII scrub on a rate-source feed: every 3rd record embeds
    an email, every 5th a phone, every 4th an IPv4 (the same
    modulus scheme as the pii_redaction_stats oracle), and each
    record emits its per-kind counts plus the redacted text — the
    streaming form of the batch scrub stage. Stateless narrow
    projection: runs at source speed at any rate."""
    from .operators.text import pii_redact

    r = (spark.readStream.format("rate")
         .option("rowsPerSecond", "20").load())
    v = F.col("value")
    txt = F.concat(
        F.lit("record "), v.cast("string"),
        F.when(v % 3 == 0,
               F.concat(F.lit(" contact u"), v.cast("string"),
                        F.lit("@ex.org"))).otherwise(F.lit("")),
        F.when(v % 5 == 0,
               F.concat(F.lit(" call +1-"),
                        F.lpad((v % 1000).cast("string"), 3, "0"),
                        F.lit("-555-0199"))).otherwise(F.lit("")),
        F.when(v % 4 == 0,
               F.concat(F.lit(" from 10.0.0."),
                        (v % 250).cast("string"))).otherwise(F.lit("")))
    docs = r.select(v.alias("doc_id"), txt.alias("text"))
    return pii_redact(docs)


@program("process_function_timers", "chapter6/ProcessFunctionTimers.scala:14-97")
def process_function_timers(spark):
    """Warn when a sensor rises monotonically for 1 s of processing
    time (keyed state + timer). Append output: the operator emits each
    warning once (applyInPandasWithState append mode — an update sink
    mode is rejected at stream start)."""
    s = sensor_source_stream(spark)
    return stateful.temperature_rise_warnings(s, rise_ms=1_000)


@program("co_process_function_timers",
         "chapter6/CoProcessFunctionTimers.scala:14-102")
def co_process_function_timers(spark):
    """Dynamic filter switch: a control event enables forwarding of one
    sensor's readings for 10 s (union-tagged keyed co-process)."""
    readings = sensor_source_stream(spark)
    # a switch every 5 s for a rotating sensor
    switches = (
        count_source_stream(spark, rows_per_second=1)
        .filter(F.col("value") % 5 == 0)
        .select(
            F.concat(F.lit("sensor_"), ((F.col("value") % 10) + 1)
                     .cast("string")).alias("id"),
            F.expr("unix_micros(ts) div 1000").alias("timestamp"),
            F.lit(10_000).cast("long").alias("duration_ms"),
        )
    )
    r = readings.select("id", F.col("timestamp"), "temperature")
    return stateful.switchable_forwarder(r, switches)


@program("side_outputs", "chapter6/SideOutputs.scala:26-67")
def side_outputs(spark):
    """Freezing alarms (the side output; the main output is the input
    stream — print the alarm branch)."""
    s = sensor_source_stream(spark)
    _, side = freezing_monitor(s, threshold=32.0)
    return side


@program("late_data_handling", "chapter6/LateDataHandling.scala:36-183")
def late_data_handling(spark):
    """Timestamps shuffled by up to 7 s of disorder, then every row
    tagged late/on-time against the running watermark (the reference's
    side-output split as a tag column)."""
    s = transforms.shuffle_timestamps(sensor_source_stream(spark))
    return timers.tag_late_rows(
        s.select("id", "timestamp", "temperature"),
        watermark_delay="5 seconds")


@program("late_data_updating_window", "chapter6/LateDataHandling.scala:112-172")
def late_data_updating_window(spark):
    """Allowed lateness on the same shuffled timestamps: 10 s count
    windows fire once ('first') when the watermark passes their end
    and re-fire ('update') for each late row within 5 s after that."""
    s = transforms.shuffle_timestamps(sensor_source_stream(spark))
    return timers.updating_window_counts_stream(
        s.select("id", "timestamp", "temperature"), window_ms=10_000,
        disorder="5 seconds", lateness_ms=5_000)


@program("custom_window", "chapter6/CustomWindow.scala:32-168")
def custom_window(spark):
    """30 s tumbling count windows with 1 s early firing and
    FIRE_AND_PURGE at window end (event-time timer service)."""
    s = sensor_source_stream(spark)
    return timers.early_firing_window_counts(
        s.select("id", "timestamp", "temperature"),
        window_ms=30_000, interval_ms=1_000)


@program("watermark_generation", "chapter6/WatermarkGeneration.scala:14-86")
def watermark_generation(spark):
    """The periodic-assigner variant: 1 min bounded disorder on the
    same windowed average (punctuated assignment is documented as
    non-expressible in SS)."""
    s = sensor_source_stream(spark)
    return agg.windowed_agg(s, "10 seconds",
                            F.avg("temperature").alias("avg_temp"),
                            watermark="1 minute")


# ------------------------------------------------------------------ ch7

@program("keyed_state_function", "chapter7/KeyedStateFunction.scala:26-100")
def keyed_state_function(spark):
    """Delta alert: |temp - lastTemp| > 1.7 per key (ValueState)."""
    s = sensor_source_stream(spark)
    return stateful.temperature_delta_alerts(
        s.select("id", "timestamp", "temperature"), threshold=1.7
    ).select("id", "temperature", "diff")


@program("stateful_process_function",
         "chapter7/StatefulProcessFunction.scala:30-110")
def stateful_process_function(spark):
    """Self-cleaning delta alert: state dropped after 1 h of key
    silence (event-time TTL timer). The watermarked `ts` column must
    SURVIVE the projection: dropping it strips the watermark and
    EventTimeTimeout is rejected at stream start."""
    s = sensor_source_stream(spark).withWatermark("ts", "5 seconds")
    return stateful.self_cleaning_delta_alerts(
        s.select("id", "timestamp", "temperature", "ts"), threshold=1.7)


@program("broadcast_state_function",
         "chapter7/BroadcastStateFunction.scala:16-126")
def broadcast_state_function(spark):
    """Per-sensor alert thresholds from a rule changelog: latest rule
    per key broadcast-joined to the stream (re-resolved per batch)."""
    from .sources.fixtures import threshold_updates

    s = sensor_source_stream(spark)
    return joins.broadcast_rules_join(
        s.select("id", "timestamp", "temperature"),
        threshold_updates(spark))


@program("checkpointed_function",
         "chapter7/CheckpointedFunctionExample.scala:22-85",
         output_mode="update")
def checkpointed_function(spark):
    """Running count of readings above threshold per key; state is
    checkpointed automatically (the reference's snapshot hooks)."""
    s = sensor_source_stream(spark)
    return stateful.high_temp_counter(
        s.select("id", "timestamp", "temperature"), threshold=100.0)


@program("operator_list_state",
         "chapter7/OperatorListStateFunction.scala:15-90",
         output_mode="update")
def operator_list_state(spark):
    """HighTempCounterOpState: running count of >120F readings per
    PARALLEL INSTANCE, emitted as (subtask, op_high_count) — the
    operator-ListState example. Here the instance id is
    spark_partition_id() and the running count lives in the state
    store (update mode re-emits each grown count, the reference's
    per-record emission at micro-batch granularity); restore-by-sum
    and list redistribution are the state store's job."""
    s = sensor_source_stream(spark)
    return stateful.high_temp_counter_per_subtask(
        s.select("id", "timestamp", "temperature"), threshold=120.0)


@program("queryable_state", "chapter7/QueryableState.scala:28-113",
         output_mode="complete")
def queryable_state(spark):
    """Per-key max temperature; run with the memory sink and poll
    `SELECT * FROM <queryName>` — the dashboard side of R3."""
    s = sensor_source_stream(spark)
    return s.groupBy("id").agg(F.max("temperature").alias("maxTemperature"))


def _external_dashboard_writer():
    """State snapshots to parquet + an EXTERNAL poll loop: the
    dashboard half of QueryableState.scala:84-113 (the
    QueryableStateClient's async per-sensor reads + tab-separated
    print). The reader is a separate DuckDB process-space poller — it
    shares nothing with the Spark session, exactly like the
    reference's out-of-process client; any SQL engine (or another
    Spark job) can read the same snapshot dir. Each micro-batch
    replaces the snapshot atomically (tmp dir + rename), so readers
    never see a torn table."""
    import glob
    import os
    import shutil
    import sys
    import threading
    import time

    snap = scratch_dir("sgs_qstate_snap_")
    state_dir = os.path.join(snap, "current")
    stop = threading.Event()

    def poll():
        try:
            import duckdb
        except ImportError:  # dashboard degrades to a no-op
            return
        while not stop.is_set():
            time.sleep(2.0)
            if not glob.glob(os.path.join(state_dir, "*.parquet")):
                continue
            try:
                rows = duckdb.sql(
                    f"SELECT id, maxTemperature FROM "
                    f"'{state_dir}/*.parquet' ORDER BY id").fetchall()
            except Exception:
                continue  # snapshot mid-swap; next tick reads it
            if not rows:
                continue
            line = "\t| ".join(f"{t:1.3f}" for _, t in rows)
            print(f"DASH>> {line}", file=sys.stderr)

    threading.Thread(target=poll, daemon=True).start()

    def write(batch_df: DataFrame, batch_id: int) -> None:
        tmp = os.path.join(snap, f"tmp-{batch_id}")
        batch_df.coalesce(1).write.mode("overwrite").parquet(tmp)
        old = state_dir + ".old"
        # a crash between the two renames below leaves a stale
        # non-empty '.old'; clear it first or the next batch's
        # os.rename raises ENOTEMPTY and kills the query
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(state_dir):
            os.rename(state_dir, old)
        os.rename(tmp, state_dir)
        shutil.rmtree(old, ignore_errors=True)

    return write


@program("queryable_state_external", "chapter7/QueryableState.scala:84-113",
         output_mode="complete", foreach_batch=_external_dashboard_writer)
def queryable_state_external(spark):
    """R3 with the dashboard OUT of process: per-key max temperature
    snapshotted to parquet each micro-batch (atomic dir swap); a
    detached DuckDB poller — no Spark session, no shared JVM — reads
    and prints the per-sensor line the reference's
    QueryableStateClient loop prints. Complete-mode output = the full
    keyed state every batch, which is exactly what the reference's
    queryable state store exposes."""
    s = sensor_source_stream(spark)
    return s.groupBy("id").agg(F.max("temperature").alias("maxTemperature"))


# ------------------------------------------------------------------ ch8

@program("source_function", "chapter8/SourceFunctionExample.scala:14-81")
def source_function(spark):
    """The counter source; replay/exactly-once comes from checkpointed
    rate-source offsets."""
    return count_source_stream(spark, rows_per_second=1_000)


@program("sink_function", "chapter8/SinkFunctionExample.scala:14-74")
def sink_function(spark):
    """Socket sink: readings stream into SocketWriter (one line per
    row over TCP). The program spins an in-process echo listener so it
    is runnable standalone; point SocketWriter at any host:port in
    production."""
    import socket
    import sys
    import threading

    from .streaming.sinks import SocketWriter

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(64)
    port = srv.getsockname()[1]

    def listen():
        while True:
            try:
                conn, _ = srv.accept()
            except OSError:
                return
            def drain(c):
                with c, c.makefile() as f:
                    for line in f:
                        print(f"socket<< {line}", end="", file=sys.stderr)
            threading.Thread(target=drain, args=(conn,), daemon=True).start()

    threading.Thread(target=listen, daemon=True).start()
    s = sensor_source_stream(spark, rows_per_second=10)
    # attach the writer via foreach in the runner
    df = s.select("id", "timestamp", "temperature")
    df.__socket_writer__ = SocketWriter("127.0.0.1", port)  # type: ignore[attr-defined]
    return df


@program("async_function", "chapter8/AsyncFunctionExample.scala:40-204")
def async_function(spark):
    """Room-lookup enrichment: broadcast dimension join per micro-batch
    replaces the reference's per-record async JDBC lookup."""
    s = sensor_source_stream(spark)
    dim = spark.createDataFrame(
        [(f"sensor_{i}", f"room{(i - 1) // 2 + 1}") for i in range(1, 11)],
        ["sensor", "room"])
    return joins.enrichment_join(s, dim, on=[s.id == dim.sensor])


def _wal_writer():
    return IdempotentBatchWriter(scratch_dir("sgs_txn_sink_"))


@program("transactional_sink", "chapter8/TransactionalSinkExample.scala:38-197",
         foreach_batch=_wal_writer)
def transactional_sink(spark):
    """Global 1 s average through the batchId-idempotent committer —
    the reference's WAL/2PC sinks collapse to idempotent-by-batchId
    writes aligned to checkpoints."""
    s = sensor_source_stream(spark).withWatermark("ts", "5 seconds")
    return agg.windowed_agg(
        s, "1 second", F.avg("temperature").alias("avg_temp"), key=None)


def _wal_stdout_writer():
    import sys

    def to_stdout(batch_df: DataFrame, batch_id: int) -> None:
        for row in batch_df.collect():  # demo sink: tiny 1-row windows
            print(f"WAL>> batch={batch_id} {tuple(row)}", file=sys.stderr)

    return IdempotentBatchWriter(scratch_dir("sgs_wal_stdout_"),
                                 write_fn=to_stdout)


@program("write_ahead_sink", "chapter8/WriteAheadSinkExample.scala:59-193",
         foreach_batch=_wal_stdout_writer)
def write_ahead_sink(spark):
    """StdOutWriteAheadSink: the global 1 s average (ISO window-end
    string, like the reference's collector) reaches stdout only when
    its micro-batch COMMITS — the committed-batchId log skips batches
    replayed after recovery, so output is duplicate-free where a plain
    print sink would re-emit (the comparison the reference program
    stages). The FailingMapper chaos half is proven by the dedicated
    recovery test (injected sink failure + restart-from-checkpoint);
    wiring it into the live demo would only kill the query."""
    from .functions.scalar import iso_datetime

    s = sensor_source_stream(spark).withWatermark("ts", "5 seconds")
    avg = agg.windowed_agg(
        s, "1 second", F.avg("temperature").alias("avg_temp"), key=None)
    return avg.select(
        iso_datetime(F.timestamp_seconds(F.col("window_end"))).alias("t"),
        "avg_temp")


def _derby_style_upserter():
    """Keyed upsert with the reference's read-back loop: every batch
    upserts (sensor -> latest celsius temp) into the bucketed parquet
    table and prints the full 10-row table ordered by sensor — the
    DerbyReader poll thread (IdempotentSinkFunctionExample.scala:33-36)
    as a per-commit readback."""
    import sys

    from .streaming.sinks import parquet_upsert_writer

    table_dir = scratch_dir("sgs_upsert_table_")
    upsert = parquet_upsert_writer(table_dir, "sensor", "temp", buckets=4)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        upsert(batch_df, batch_id)
        spark = batch_df.sparkSession
        try:  # empty until the first non-empty batch lands
            table = spark.read.parquet(table_dir)
        except Exception:
            return
        rows = table.select("sensor", "temp").orderBy("sensor").collect()
        for row in rows:
            print(f"TABLE>> {row['sensor']} {row['temp']:.2f}",
                  file=sys.stderr)

    return write


@program("idempotent_sink", "chapter8/IdempotentSinkFunctionExample.scala:30-109",
         output_mode="update", foreach_batch=_derby_style_upserter)
def idempotent_sink(spark):
    """DerbyUpsertSink: Fahrenheit→Celsius readings upserted into a
    table keyed on sensor id — last write per key wins, so
    at-least-once redelivery converges to exactly-once state (the
    reference's UPDATE-then-INSERT, here a bucketed-parquet MERGE that
    rewrites only touched buckets). The stream stage keeps the latest
    reading per sensor per batch so the sink sees <=1 row per key."""
    from .functions.scalar import fahrenheit_to_celsius_col

    s = sensor_source_stream(spark).withWatermark("ts", "5 seconds")
    c = s.select(F.col("id").alias("sensor"),
                 fahrenheit_to_celsius_col(F.col("temperature"))
                 .alias("temp"), "ts")
    return (c.groupBy("sensor")
            .agg(F.max_by("temp", "ts").alias("temp")))


# ------------------------------------------------- beyond-parity flagship

# corpus the batch layer trains the frozen curation model on; sf0.001
# keeps program startup ~seconds (the production analogue is the last
# curated snapshot)
CURATION_CORPUS = "/root/testdata/sf0.001"


@program("curation_v4",
         "beyond-parity flagship; batch twin queries.py:"
         "pipeline_curation_v4 (reference chapter-1 demo role)")
def curation_v4(spark):
    """Live LLM-data curation — the streaming face of the curation-v4
    recipe (rewrite -> gate -> DSIR -> Gumbel). At startup the BATCH
    layer trains the 512-bucket DSIR importance model on the corpus
    against the 'de' target (the corpus-level ExactSubstr rewrite
    lives in that layer too: pipeline_curation_v4 full,
    substring_dedup_incremental per batch). The STREAM then scores a
    rate-source 'crawl' (replaying corpus texts) entirely STATELESSLY
    per row: boilerplate gate (len >= 50) -> frozen-model logweight
    (map-literal fold, no state store, no stream-static join) ->
    deterministic Gumbel selection key; in-domain docs
    (logweight > 0) flow to the sink with their selection score —
    downstream, a per-window top-k over `score` is the online
    Gumbel-top-k draw."""
    from .operators.sampling import (_dsir_doc_buckets,
                                     dsir_model_from_buckets)
    from .sources.tables import load_table

    docs = load_table(spark, CURATION_CORPUS, "documents")
    fb = _dsir_doc_buckets(docs, F.col("lang") == "de", 512,
                           "text", "doc_id").localCheckpoint(eager=False)
    model = dsir_model_from_buckets(fb, 512).collect()  # <= 512 rows
    du_map = F.create_map(
        *[F.lit(x) for r in model for x in (r["b"], r["du"])])
    sample = (docs.orderBy("doc_id").limit(256)
              .select("text", "lang").collect())  # bounded replay pool
    texts = F.array(*[F.lit(r["text"]) for r in sample])
    langs = F.array(*[F.lit(r["lang"]) for r in sample])

    rate = (spark.readStream.format("rate")
            .option("rowsPerSecond", 50).load())
    idx = (F.col("value") % len(sample) + 1).cast("int")
    doc = rate.select(F.col("value").alias("doc_id"),
                      F.element_at(texts, idx).alias("text"),
                      F.element_at(langs, idx).alias("lang"))
    gated = doc.filter(F.length("text") >= 50)
    grams = F.expr(
        "CASE WHEN size(ws) >= 2 THEN transform(sequence(1, size(ws)-1), "
        "i -> concat(element_at(ws, i), ' ', element_at(ws, i+1))) "
        "ELSE CAST(array() AS array<string>) END")
    feats = (gated
             .select("doc_id", "lang",
                     F.expr("regexp_extract_all(lower(text), "
                            "'[a-z0-9]+', 0)").alias("ws"))
             .select("doc_id", "lang",
                     F.concat(F.col("ws"), grams).alias("fs")))
    bucket = lambda f: (  # noqa: E731
        F.conv(F.substring(F.md5(f), 1, 15), 16, 10).cast("long") % 512)
    units = F.aggregate(
        "fs", F.lit(0).cast("long"),
        lambda acc, f: acc + F.coalesce(F.element_at(du_map, bucket(f)),
                                        F.lit(0).cast("long")))
    # same md5-uniform Gumbel noise as operators/sampling.py:gumbel_topk
    gumbel = F.round(-F.log(-F.log(
        (F.conv(F.substring(
            F.md5(F.concat(F.lit("gumbel:"),
                           F.col("doc_id").cast("string"))), 1, 13),
            16, 10).cast("long") + 1)
        / F.lit(4503599627370498.0))) * 1e9).cast("long")
    scored = feats.select(
        "doc_id", "lang", F.size("fs").cast("long").alias("n_feats"),
        F.round(units / 1e9, 6).alias("logweight"),
        F.round((units + gumbel) / 1e9, 6).alias("score"))
    return scored.filter(F.col("logweight") > 0)


# ------------------------------------------------------------------ runner

def run_program(spark: SparkSession, name: str, duration: int = 10,
                sink: str = "console") -> None:
    """Run a program on its live source for `duration` seconds, then
    stop it; its checkpoint is session scratch. A query that fails
    within `duration` re-raises its error."""
    p = PROGRAMS[name]
    df = p.build(spark)
    writer = getattr(df, "__socket_writer__", None)
    if writer is not None:
        w = df.writeStream.foreach(writer).outputMode(p.output_mode)
    elif p.foreach_batch is not None:
        w = (df.writeStream.foreachBatch(p.foreach_batch())
             .outputMode(p.output_mode))
    elif sink == "memory":
        w = (df.writeStream.format("memory").queryName(name)
             .outputMode(p.output_mode))
    else:
        w = (df.writeStream.format("console")
             .option("truncate", "false").option("numRows", "20")
             .outputMode(p.output_mode))
    ckpt = scratch_dir(f"sgs_prog_{name}_")
    q = w.option("checkpointLocation", ckpt).start()
    try:
        q.awaitTermination(duration)
    finally:
        q.stop()
    if sink == "memory":
        spark.sql(f"SELECT * FROM {name}").show(20, truncate=False)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("name", nargs="?", help="program to run")
    ap.add_argument("--duration", type=int, default=10)
    ap.add_argument("--sink", choices=["console", "memory"], default="console")
    args = ap.parse_args()
    if not args.name:
        for n, p in PROGRAMS.items():
            print(f"{n:32s} {p.reference}")
        return
    from .session import get_spark

    spark = get_spark(f"program-{args.name}")
    spark.sparkContext.setLogLevel("ERROR")
    run_program(spark, args.name, args.duration, args.sink)


if __name__ == "__main__":
    main()
