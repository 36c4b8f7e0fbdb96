"""The streaming workloads, `sensor_window` and `sensor_keyed_upsert`.

Both stage seeded `sensor_source_batch` readings as event-time-ordered
parquet files and stream them through a repo pipeline into a repo sink,
in two phases over one checkpoint:

- drain: a closed loop over a pre-staged backlog with the `availableNow`
  trigger and one file per trigger; the engine pulls the next file when
  the last batch commits;
- paced: an open loop. A single feeder thread publishes one small file
  per fixed interval, by atomic rename with the mtime set at publish,
  on a schedule that does not slow when Spark slows. Each file's
  latency runs from the moment it was due to the return of the sink
  writer for the micro-batch that read it.

A traced sensor_window run then ends with one pass of the registry
queries (`suite.query_phase`), so the queries layer is measured on a
declared workload.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from pathlib import Path
from statistics import median
from unittest import mock

import suite
from harness import SETUP_REPEATS, quantile
from sparkprobe import (executor_totals, group_jobs, job_shape, plan_metrics,
                        progress_start, source_batches)

# durationMs keys in the order MicroBatchExecution runs them, with the
# layer each one belongs to
_PHASES = (("latestOffset", "sources.latest_offset"),
           ("walCommit", "engine.wal_commit"),
           ("getBatch", "sources.get_batch"),
           ("queryPlanning", "engine.planning"),
           ("addBatch", "engine.add_batch"),
           ("commitOffsets", "engine.commit_offsets"))
# pythonDataSent is exposed by the node but never updated for the
# pandas-with-state runner, so it is left out
_PY_METRICS = ("pythonDataReceived", "pythonNumRowsReceived", "pythonTotalTime")


def _schema():
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType, TimestampType)
    return StructType([StructField("id", StringType()),
                       StructField("ts", TimestampType()),
                       StructField("timestamp", LongType()),
                       StructField("temperature", DoubleType())])


class Staged:
    """One staged input: the drain files (file 0 is the warm-up batch),
    written at set-up, and the rows of the paced files, written after
    the drain, outside the timed phases. Files are written to `staged/`
    and published into `input/`."""

    def __init__(self, root: Path, w: dict) -> None:
        self.root = root
        self.staged = root / "staged"
        self.input = root / "input"
        self.checkpoint = root / "checkpoint"
        self.file_rows = w["paced_file_rows"]
        self.drain: list[str] = []
        self.paced: list[str] = []
        self.paced_rows = None
        self.bytes = 0

    def write_paced(self) -> None:
        import pyarrow.parquet as pq

        for i in range(self.paced_rows.num_rows // self.file_rows):
            name = f"p-{i:05d}.parquet"
            pq.write_table(self.paced_rows.slice(i * self.file_rows, self.file_rows),
                           self.staged / name)
            self.paced.append(name)

    def publish(self, name: str, mtime: float) -> None:
        src = self.staged / name
        os.utime(src, (mtime, mtime))
        os.replace(src, self.input / name)


def stage(spark, root: Path, w: dict, seed: int, paced_s: float) -> Staged:
    """Generate the readings with `sensor_source_batch` and cut them, in
    event-time order, into 1 + drain_files drain files, followed by the
    rows of a paced phase of `paced_s` seconds."""
    import pyarrow.parquet as pq
    from examples_scala_spark.sources.sensor import sensor_source_batch

    st = Staged(root, w)
    for d in (st.staged, st.input):
        d.mkdir(parents=True)
    dr, n_drain = w["drain_file_rows"], 1 + w["drain_files"]
    paced = math.ceil(paced_s * w["paced_rows_per_s"] / st.file_rows) * st.file_rows
    table = sensor_source_batch(spark, num_rows=n_drain * dr + paced,
                                num_sensors=w["num_sensors"],
                                seed=seed).toArrow()
    for i in range(n_drain):
        name = f"d-{i:05d}.parquet"
        pq.write_table(table.slice(i * dr, dr), st.staged / name)
        st.bytes += (st.staged / name).stat().st_size
        st.drain.append(name)
    st.paced_rows = table.slice(n_drain * dr)
    return st


class SinkProbe:
    """The foreachBatch callable: wraps the repo sink and times each
    call. Traced, it also counts the Spark jobs the sink ran, the files
    it wrote, and the Python SQL metrics of the batch's plan."""

    def __init__(self, spark, writer, out_dirs: list[Path], traced: bool) -> None:
        self.spark = spark  # the session that started the query
        self.writer = writer
        self.out_dirs = out_dirs
        self.traced = traced
        self.calls: dict[int, dict] = {}

    def _files(self) -> dict[str, tuple[int, float]]:
        out = {}
        for d in self.out_dirs:
            for p in d.rglob("*.parquet"):
                st = p.stat()
                out[str(p)] = (st.st_size, st.st_mtime)
        return out

    def __call__(self, batch_df, batch_id: int) -> None:
        call = {"start": time.time()}
        if self.traced:
            import pyarrow.parquet as pq
            sc = batch_df.sparkSession.sparkContext
            group = sc.getLocalProperty("spark.jobGroup.id")
            jobs0, files0 = group_jobs(sc, group), self._files()
            log = Path(self.writer.commit_log)
            call["skipped"] = int(log.exists() and batch_id in json.loads(
                log.read_text()))
        self.writer(batch_df, batch_id)
        call["end"] = time.time()
        if self.traced:
            new = group_jobs(sc, group) - jobs0
            call["jobs"] = len(new)
            written = [p for p, v in self._files().items() if files0.get(p) != v]
            call["bytes"] = sum(os.path.getsize(p) for p in written)
            call["rows"] = sum(pq.read_metadata(p).num_rows for p in written)
            # batch_df carries a cloned session that does not list the query
            active = self.spark._jsparkSession.streams().active()
            call["python"] = plan_metrics(
                active[0].streamingQuery().lastExecution().executedPlan(),
                "PandasWithState", _PY_METRICS) if len(active) else {}
        self.calls[batch_id] = call


def _build(spark, st: Staged, w: dict, max_files: int | None):
    """The repo pipeline over the staged-file stream. For the window
    workload the file stream is swapped in at the
    `pipelines.sensor_source_stream` seam, so the repo function itself
    runs."""
    from examples_scala_spark.streaming import pipelines, stateful

    reader = spark.readStream.schema(_schema())
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    src = reader.parquet(str(st.input))
    if w["pipeline"] == "window":
        with mock.patch.object(pipelines, "sensor_source_stream",
                               lambda spark, rows_per_second=100: src):
            return pipelines.average_sensor_readings(spark), "append"
    return stateful.high_temp_counter(src, threshold=w["threshold"]), "update"


def _sink(spark, st: Staged, w: dict, traced: bool) -> SinkProbe:
    from examples_scala_spark.streaming import sinks

    if w["pipeline"] == "window":
        writer = sinks.IdempotentBatchWriter(str(st.root / "sink"))
    else:
        writer = sinks.IdempotentBatchWriter(
            str(st.root / "sink"),
            write_fn=sinks.parquet_upsert_writer(str(st.root / "table"),
                                                 key_col="id",
                                                 val_col="high_count"))
    return SinkProbe(spark, writer, [st.root / "sink", st.root / "table"], traced)


def _start(spark, st: Staged, w: dict, probe: SinkProbe, name: str,
           max_files: int | None):
    df, mode = _build(spark, st, w, max_files)
    ws = (df.writeStream.queryName(name).foreachBatch(probe)
          .outputMode(mode)
          .option("checkpointLocation", str(st.checkpoint)))
    return ws.trigger(availableNow=True).start() if max_files else ws.start()


def _drain(spark, st: Staged, w: dict, probe: SinkProbe, files: list[str],
           name: str) -> tuple[float, list[dict]]:
    """Publish `files` as a backlog, then run them one per trigger."""
    base = time.time() - len(files)
    for i, f in enumerate(files):
        st.publish(f, base + i * 0.01)  # distinct mtimes keep the order
    t0 = time.time()
    q = _start(spark, st, w, probe, name, max_files=1)
    q.awaitTermination()
    wall = time.time() - t0
    return wall, _query_record(spark, q)


def _query_record(spark, q) -> dict:
    sc = spark.sparkContext
    return {"progress": [json.loads(p.json) for p in q.recentProgress],
            "jobs": job_shape(sc, group_jobs(sc, str(q.runId)))}


class Feeder(threading.Thread):
    """Publishes file i at t0 + i * interval; never waits for Spark."""

    def __init__(self, st: Staged, interval_s: float, t0: float) -> None:
        super().__init__(daemon=True)
        self.st, self.interval_s, self.t0 = st, interval_s, t0
        self.due: dict[str, float] = {}
        self.lag_s: list[float] = []

    def run(self) -> None:
        for i, f in enumerate(self.st.paced):
            due = self.t0 + i * self.interval_s
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            now = time.time()
            self.st.publish(f, now)
            self.due[f] = due
            self.lag_s.append(now - due)


def _paced(spark, st: Staged, w: dict, probe: SinkProbe, name: str):
    q = _start(spark, st, w, probe, name, max_files=None)
    ready = time.time() + 30
    while "Waiting" not in q.status["message"] and time.time() < ready:
        time.sleep(0.02)
    interval = w["paced_file_rows"] / w["paced_rows_per_s"]
    feeder = Feeder(st, interval, time.time() + 0.05)
    feeder.start()
    feeder.join()
    # wait for the last published files, up to the latency limit; then
    # let a running batch finish, since stopping the query mid-batch can
    # leave the upsert sink with some buckets rewritten and others not
    want = len(st.paced) * w["paced_file_rows"]
    deadline = feeder.t0 + len(st.paced) * interval + w["latency_limit_ms"] / 1e3
    while time.time() < deadline:
        if sum(p.numInputRows for p in q.recentProgress) >= want:
            break
        time.sleep(0.25)
    while q.status["isTriggerActive"] and time.time() < deadline + 60:
        time.sleep(0.05)
    stopped_at = time.time()
    q.stop()
    return feeder, stopped_at, _query_record(spark, q)


def _check(st: Staged, w: dict, consumed: list[str], last_progress: dict) -> dict:
    """Compare the sink's final contents with DuckDB over the files the
    stream consumed."""
    import duckdb

    files = [str(st.input / f) for f in consumed]
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE VIEW r AS SELECT * FROM read_parquet({files!r})")
    if w["pipeline"] == "window":
        wm = last_progress["eventTime"]["watermark"]
        wm_us = int(progress_start({"timestamp": wm}) * 1e6)
        got = con.execute(
            f"SELECT epoch_us(window_end), id, avg_temp FROM "
            f"read_parquet('{st.root}/sink/batch-*/*.parquet')").fetchall()
        exp = con.execute(
            "SELECT epoch_us(time_bucket(INTERVAL 1 second, ts)) + 1000000 AS we,"
            " id, avg((temperature - 32) * 5.0 / 9.0) FROM r GROUP BY 1, 2"
            f" HAVING we <= {wm_us}").fetchall()
        g = {(a, b): c for a, b, c in got}
        e = {(a, b): c for a, b, c in exp}
        bad = [k for k in e if k not in g or abs(g[k] - e[k]) > 1e-9 * max(1.0, abs(e[k]))]
        # a run whose watermark closed no window would check nothing
        return {"ok": len(got) == len(g) == len(e) > 0 and not bad,
                "rows": len(got), "expected": len(e), "mismatched": len(bad),
                "watermark": wm}
    got = con.execute(
        f"SELECT id, high_count FROM read_parquet('{st.root}/table/*/*.parquet')"
    ).fetchall()
    exp = dict(con.execute(
        f"SELECT id, count(*) FILTER (WHERE temperature > {w['threshold']})"
        " FROM r GROUP BY id").fetchall())
    g = dict(got)
    return {"ok": len(got) == len(g) and g == exp, "rows": len(got),
            "expected": len(exp),
            "mismatched": sum(g.get(k) != v for k, v in exp.items())}


def _engine_spans(tracer, progress: list[dict], phase: str,
                  calls: dict[int, dict]) -> None:
    """Engine spans rebuilt from each progress event's durationMs, laid
    out in execution order from the trigger start; the sink's measured
    call is attached under addBatch."""
    for p in progress:
        t = progress_start(p)
        d = p["durationMs"]
        trace = f"{phase}/batch-{p['batchId']}"
        root = tracer.add("engine.trigger", trace, t,
                          t + d.get("triggerExecution", 0) / 1e3)
        for key, name in _PHASES:
            dt = d.get(key, 0) / 1e3
            sid = tracer.add(name, trace, t, t + dt, parent=root)
            if key == "addBatch" and p["batchId"] in calls:
                c = calls[p["batchId"]]
                tracer.add("sinks.write", trace, c["start"], c["end"], parent=sid)
            t += dt


def run(ctx, name: str) -> dict:
    from examples_scala_spark.session import get_spark

    w = ctx.cfg["workloads"][name]
    tracer = ctx.tracer

    # -- set-up, repeated: session, staging, one warm-up micro-batch
    setups, get_spark_s, stage_s = [], [], []
    spark = None
    for rep in range(SETUP_REPEATS):
        t0 = time.time()
        with tracer.span("setup", f"setup-{rep}"):
            with tracer.span("session.get_spark", f"setup-{rep}"):
                if spark is not None:
                    spark.stop()
                spark = get_spark("perfbench")
                spark.sparkContext.setLogLevel("ERROR")
            get_spark_s.append(time.time() - t0)
            t1 = time.time()
            with tracer.span("sources.stage", f"setup-{rep}"):
                st = stage(spark, ctx.work / f"setup-{rep}", w, ctx.seed, ctx.seconds)
            stage_s.append(time.time() - t1)
            with tracer.span("engine.warmup", f"setup-{rep}"):
                probe = _sink(spark, st, w, ctx.trace)
                _drain(spark, st, w, probe, st.drain[:1], f"{name}-warmup")
        setups.append(time.time() - t0)

    # -- measured phases, on the last set-up's input and checkpoint
    cpu0, t_meas0 = ctx.proc.cpu_s(), time.time()
    drain_s, drain_rec = _drain(spark, st, w, probe, st.drain[1:], f"{name}-drain")
    cpu_s = ctx.proc.cpu_s() - cpu0
    drain_p = [p for p in drain_rec["progress"] if p["numInputRows"] > 0]
    drain_batch_s = median([p["durationMs"]["triggerExecution"] for p in drain_p]) / 1e3
    interval = w["paced_file_rows"] / w["paced_rows_per_s"]
    # the paced phase publishes for --seconds however fast the drain
    # ran, so its rows, and the CPU they cost, are the same in every run
    st.write_paced()  # untimed
    cpu0 = ctx.proc.cpu_s()
    feeder, stopped_at, paced_rec = _paced(spark, st, w, probe, f"{name}-paced")
    cpu_s, t_meas1 = cpu_s + ctx.proc.cpu_s() - cpu0, time.time()
    peak_rss = ctx.proc.peak_rss
    # the queries layer: one pass of the registry queries, traced
    # sensor_window runs only, after everything the end-to-end metrics time
    queries = (suite.query_phase(spark, ctx, w["query_scale"])
               if ctx.trace and w["pipeline"] == "window" else None)
    spark.stop()  # flushes the event log

    # -- latency per paced file, due time -> sink return of its batch
    batch_of = source_batches(st.checkpoint)
    limit_s = w["latency_limit_ms"] / 1e3
    lat, late = [], 0
    for f in st.paced:
        b = batch_of.get(f)
        done = probe.calls.get(b, {}).get("end") if b is not None else None
        due = feeder.due.get(f, stopped_at)
        val = (done if done is not None else stopped_at) - due
        lat.append(val * 1e3)
        late += done is None or val > limit_s

    paced_p = [p for p in paced_rec["progress"] if p["numInputRows"] > 0]
    data_p = drain_p + paced_p
    # files of micro-batches whose sink call returned
    consumed = sorted(f for f, b in batch_of.items() if "end" in probe.calls.get(b, {}))
    last = (paced_rec["progress"] or drain_rec["progress"])[-1]
    check = _check(st, w, consumed, last)

    ops = len(data_p)
    state = [p["stateOperators"][0] for p in data_p if p.get("stateOperators")]
    dropped = sum(s.get("numRowsDroppedByWatermark", 0) for s in state)
    correct = check["ok"] and dropped == 0
    failed = 0 if correct else max(1, ops)
    if queries is not None:
        correct = correct and queries["check"]["ok"]
        check = {"ok": check["ok"] and queries["check"]["ok"], "stream": check,
                 "queries": queries["check"]}
        failed += queries["failed"]

    # paced backlog: files published before a batch started and not
    # yet read by an earlier batch
    pub = sorted((feeder.due[f] + lag, batch_of.get(f, 1 << 62))
                 for f, lag in zip(st.paced, feeder.lag_s))
    backlog = [sum(1 for t, b in pub if t <= progress_start(p) and b >= p["batchId"])
               for p in paced_p] or [0]

    def dur(key: str, ps=data_p) -> float:
        return median([p["durationMs"].get(key, 0) for p in ps]) if ps else 0.0

    def st_med(key: str) -> float:
        return median([s.get(key, 0) for s in state]) if state else 0.0

    e2e = {
        "setup_s": median(setups),
        "cpu_s": cpu_s,
        "peak_rss_mb": peak_rss / 2**20,
    }
    # wall-clock readings of the whole query; unbounded, since on a
    # shared host they follow the CPU the hypervisor takes
    layers = {
        "drain_rows_per_s": w["drain_file_rows"] / drain_batch_s,
        "latency_p50_ms": quantile(lat, 0.5),
        "latency_p90_ms": quantile(lat, 0.9),
        "session.get_spark_s": median(get_spark_s),
        "sources.stage_s": median(stage_s),
        "sources.stage_bytes": st.bytes,
        "sources.latest_offset_ms": dur("latestOffset"),
        "sources.get_batch_ms": dur("getBatch"),
        "sources.rows_per_batch": median([p["numInputRows"] for p in paced_p]) if paced_p else 0,
        "sources.backlog_files_max": max(backlog),
        "feeder.lag_ms_max": max(feeder.lag_s) * 1e3,
        "engine.batches": ops,
        "engine.trigger_ms": dur("triggerExecution"),
        "engine.planning_ms": dur("queryPlanning"),
        "engine.wal_commit_ms": dur("walCommit"),
        "engine.commit_offsets_ms": dur("commitOffsets"),
        "engine.add_batch_ms": dur("addBatch"),
        "state.rows_total_max": max((s.get("numRowsTotal", 0) for s in state), default=0),
        "state.memory_bytes_max": max((s.get("memoryUsedBytes", 0) for s in state), default=0),
        "state.update_ms": st_med("allUpdatesTimeMs"),
        "state.removal_ms": st_med("allRemovalsTimeMs"),
        "state.commit_ms": st_med("commitTimeMs"),
        "state.rows_dropped_by_watermark": dropped,
        "late_batch_frac": late / len(st.paced),
    }
    if ctx.trace:
        calls = [c for b, c in probe.calls.items()
                 if any(p["batchId"] == b for p in data_p)]
        jobs, stages, tasks = (a + b for a, b in zip(drain_rec["jobs"], paced_rec["jobs"]))
        n = max(1, len(calls))
        py = {k: sum(c["python"].get(k, 0) for c in calls) for k in _PY_METRICS}
        ex = executor_totals(ctx.eventlog, t_meas0, t_meas1)
        layers.update({
            "engine.jobs_per_batch": jobs / max(1, ops),
            "engine.tasks_per_batch": tasks / max(1, ops),
            "stateful.python_time_ms": py["pythonTotalTime"] / n,
            "stateful.python_bytes_received": py["pythonDataReceived"] / n,
            "stateful.python_rows_received": py["pythonNumRowsReceived"] / n,
            "stateful.groups_per_batch": (st_med("numRowsUpdated")
                                          if w["pipeline"] != "window" else 0),
            "sinks.write_ms": median([(c["end"] - c["start"]) * 1e3 for c in calls]),
            "sinks.jobs_per_batch": sum(c["jobs"] for c in calls) / n,
            "sinks.rows_written": sum(c["rows"] for c in calls),
            "sinks.bytes_written": sum(c["bytes"] for c in calls),
            "sinks.skipped_batches": sum(c["skipped"] for c in calls),
            "executor.run_s": ex["run_s"],
            "executor.cpu_s": ex["cpu_s"],
            "executor.gc_s": ex["gc_s"],
            "exchange.shuffle_read_bytes": ex["shuffle_read_bytes"],
            "exchange.shuffle_write_bytes": ex["shuffle_write_bytes"],
            "exchange.spill_bytes": ex["spill_bytes"],
        })
        layers.update(queries["layers"] if queries else suite.query_layers({}))
        _engine_spans(tracer, drain_rec["progress"], "drain", probe.calls)
        _engine_spans(tracer, paced_rec["progress"], "paced", probe.calls)
    attempted = max(1, ops) + (queries["attempted"] if queries else 0)
    layers["failed_frac"] = failed / attempted
    return {
        "e2e": e2e, "layers": layers, "correct": correct,
        "attempted": attempted, "failed": failed,
        "details": {
            "check": check, "drain_files": len(st.drain) - 1,
            "paced_files": len(st.paced), "latency_samples": len(lat),
            "paced_interval_ms": interval * 1e3, "paced_batches": len(paced_p),
            "drain_s": drain_s, "setups_s": setups,
            "latency_ms": lat,
        },
    }
