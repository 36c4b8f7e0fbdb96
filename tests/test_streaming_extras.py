"""Timer firing (F1), socket sink (K2) and late-drop observability
(T5 streaming twin)."""

from __future__ import annotations

import os
import socket
import socketserver
import threading
import time

import pyspark.sql.functions as F
import pytest

from examples_scala_spark.streaming import sinks, stateful
from examples_scala_spark.streaming.sinks import RUN_TIMEOUT_S, run_bounded


def test_temperature_rise_warning_fires(spark, tmpdir):
    """F1 — the ProcessingTimeTimeout 'timer' fires in a later batch
    once the rise has persisted for rise_ms of wall-clock."""
    path = os.path.join(tmpdir, "in")
    ckpt = os.path.join(tmpdir, "ckpt")
    got: list = []

    def run_once():
        stream = (
            spark.readStream.schema("id string, timestamp long, temperature double")
            .parquet(path)
        )
        out = stateful.temperature_rise_warnings(stream, rise_ms=500)
        # A ProcessingTimeTimeout query never ends under availableNow
        # (the timeout keeps scheduling no-data batches), so
        # run_bounded cannot run it. Trigger.Once processes all new
        # input in one batch, fires expired timeouts, and ends.
        q = (out.writeStream.foreachBatch(
                lambda df, bid: got.extend((r.id, r.message) for r in df.collect()))
             .outputMode("append").option("checkpointLocation", ckpt)
             .trigger(once=True).start())
        assert q.awaitTermination(RUN_TIMEOUT_S), "rise warnings still running"

    # batch 1: monotonically rising temperatures for s1 -> timer armed
    spark.createDataFrame([("s1", 1, 10.0), ("s1", 2, 20.0)],
                          ["id", "timestamp", "temperature"]) \
        .repartition(1).write.mode("overwrite").parquet(path)
    run_once()
    time.sleep(1.0)   # let the 500 ms processing-time timeout expire
    # batch 2: data for a different key; s1 has no new data -> its
    # timed-out state is invoked (hasTimedOut=True) -> warning
    spark.createDataFrame([("s2", 3, 5.0)],
                          ["id", "timestamp", "temperature"]) \
        .repartition(1).write.mode("append").parquet(path)
    run_once()
    assert ("s1", "Temperature of sensor 's1' monotonically increased "
                  "for 500 ms.") in got


class _LineCollector(socketserver.StreamRequestHandler):
    def handle(self):
        for line in self.rfile:
            self.server.lines.append(line.decode().strip())


def test_socket_writer(spark, tmpdir):
    """K2 — SimpleSocketSink twin: rows arrive as lines on a TCP socket."""
    srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), _LineCollector)
    srv.lines = []
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        host, port = srv.server_address
        path = os.path.join(tmpdir, "in")
        spark.createDataFrame([("s1", 1, 10.0), ("s2", 2, 20.0)],
                              ["id", "timestamp", "temperature"]) \
            .repartition(1).write.mode("overwrite").parquet(path)
        stream = (
            spark.readStream.schema("id string, timestamp long, temperature double")
            .parquet(path)
        )
        run_bounded(stream, lambda w: w.foreach(sinks.SocketWriter(host, port)),
                    os.path.join(tmpdir, "ck"))
        deadline = time.time() + 10
        while len(srv.lines) < 2 and time.time() < deadline:
            time.sleep(0.1)
        assert sorted(srv.lines) == ["('s1', 1, 10.0)", "('s2', 2, 20.0)"]
    finally:
        srv.shutdown()


def test_watermark_drop_observability(spark, tmpdir):
    """T5/T6 streaming twin: SS drops late rows silently; the count is
    observable via numRowsDroppedByWatermark in the progress metrics."""
    path = os.path.join(tmpdir, "in")
    # SS only drops a late row once its window's state has been EVICTED
    # (append correctness would otherwise duplicate output); watermark
    # advancement lags one batch, hence the 4-batch choreography:
    # b0: row in window [0,10); b1: t=100 s (wm after b1 -> 99 s);
    # b2: filler (eviction of [0,10) happens with wm=99 s);
    # b3: late row t=6 s for the evicted window -> DROPPED.
    batches = [[("s1", 5_000, 1.0)], [("s1", 100_000, 1.0)],
               [("s1", 101_000, 1.0)], [("s1", 6_000, 2.0)]]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, ["id", "timestamp", "temperature"]) \
            .repartition(1).write.mode("append" if i else "overwrite").parquet(path)
        time.sleep(1.05)  # keep file mtimes ordered => batch order
    stream = (
        spark.readStream.schema("id string, timestamp long, temperature double")
        .option("maxFilesPerTrigger", 1).parquet(path)
        .withColumn("ts", F.timestamp_millis(F.col("timestamp")))
    )
    agg = (
        stream.withWatermark("ts", "1 second")
        .groupBy(F.window("ts", "10 seconds"), "id")
        .agg(F.count("*").alias("cnt"))
    )
    q = run_bounded(agg, lambda w: w.format("memory").queryName("wm_drop"),
                    os.path.join(tmpdir, "ck"))
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress for op in p["stateOperators"]
    )
    assert dropped >= 1
    # and append output has exactly one (non-duplicated) [0,10) row
    out = spark.sql("SELECT * FROM wm_drop").collect()
    assert len([r for r in out if r.window.start.second == 0]) == 1


def test_stream_interval_join_matches_batch(spark, tmpdir):
    """Stream-stream interval join (J1's relational form): keyed,
    right rows in (left_ts - 60s, left_ts]. Boundary semantics: a
    click exactly at err_ts matches; one exactly 60s before does not
    (strict >). Streaming result must equal the batch join."""
    from examples_scala_spark.streaming.pipelines import stream_interval_join

    def write(rows, cols, sub):
        path = os.path.join(tmpdir, sub)
        df = spark.createDataFrame(rows, cols)
        ts_col = cols[-1]
        df = df.withColumn(ts_col, F.timestamp_seconds(F.col(ts_col)))
        df.repartition(1).write.mode("overwrite").parquet(path)
        return path

    errors = [("u1", 100), ("u2", 200)]
    clicks = [("u1", 50), ("u1", 40), ("u1", 100), ("u2", 199),
              ("u2", 290), ("u3", 100)]
    epath = write(errors, ["user_id", "err_ts"], "errors")
    cpath = write(clicks, ["user_id", "click_ts"], "clicks")

    left = spark.readStream.schema("user_id string, err_ts timestamp").parquet(epath)
    right = spark.readStream.schema("user_id string, click_ts timestamp").parquet(cpath)
    out = stream_interval_join(left, right, keys=["user_id"],
                               left_ts="err_ts", right_ts="click_ts",
                               lookback="60 seconds")
    run_bounded(out, lambda w: w.format("memory").queryName("sij"),
                os.path.join(tmpdir, "ckpt_sij"))

    got = sorted(
        (r.user_id, int(r.err_ts.timestamp()), int(r.click_ts.timestamp()))
        for r in spark.sql("SELECT * FROM sij").collect())
    # u1@100 matches clicks at 50 (40 < 50 <= 100) and 100 (inclusive
    # upper bound); the click at 40 sits exactly on the open lower
    # bound; u2@200 matches 199 only; u3 has no error row.
    assert got == [("u1", 100, 50), ("u1", 100, 100), ("u2", 200, 199)]

    batch_l = spark.read.parquet(epath)
    batch_r = spark.read.parquet(cpath).withColumnRenamed("user_id", "u2_")
    expected = sorted(
        (r.user_id, int(r.err_ts.timestamp()), int(r.click_ts.timestamp()))
        for r in batch_l.join(
            batch_r,
            (F.col("user_id") == F.col("u2_"))
            & (F.col("click_ts") > F.col("err_ts") - F.expr("INTERVAL 60 SECONDS"))
            & (F.col("click_ts") <= F.col("err_ts"))).collect())
    assert got == expected


def test_stream_left_outer_join_watermark_conditioned(spark, tmpdir):
    """Left-outer interval join: the null-extended row for an unmatched
    left element is emitted only once the global watermark passes the
    end of its join window. Far-future rows on BOTH sides (the global
    watermark is the min across inputs) push the watermark past the
    real rows; the sentinel error itself stays inside its own open join
    window, so it is withheld — which is itself the semantics under
    test."""
    from examples_scala_spark.streaming.pipelines import stream_interval_join

    def write(rows, cols, sub):
        path = os.path.join(tmpdir, sub)
        df = spark.createDataFrame(rows, cols)
        df = df.withColumn(cols[-1], F.timestamp_seconds(F.col(cols[-1])))
        df.repartition(1).write.mode("overwrite").parquet(path)
        return path

    epath = write([("u1", 100), ("u2", 200), ("zz", 10_000)],
                  ["user_id", "err_ts"], "errors")
    cpath = write([("u1", 50), ("zz", 9_000)],
                  ["user_id", "click_ts"], "clicks")
    left = spark.readStream.schema("user_id string, err_ts timestamp").parquet(epath)
    right = spark.readStream.schema("user_id string, click_ts timestamp").parquet(cpath)
    out = stream_interval_join(left, right, keys=["user_id"],
                               left_ts="err_ts", right_ts="click_ts",
                               lookback="60 seconds", how="leftOuter")
    run_bounded(out, lambda w: w.format("memory").queryName("sloj"),
                os.path.join(tmpdir, "ckpt_sloj"))

    got = sorted(
        (r.user_id, int(r.err_ts.timestamp()),
         None if r.click_ts is None else int(r.click_ts.timestamp()))
        for r in spark.sql("SELECT * FROM sloj").collect())
    # u1@100 matches the click at 50; u2@200 has no click in (140, 200]
    # -> null row, emitted because the watermark (9990 s) passed 200;
    # zz@10_000's window is still open at end of stream -> withheld
    # (its click at 9_000 is outside (9940, 10000] so no inner row).
    assert got == [("u1", 100, 50), ("u2", 200, None)]


def test_stream_full_outer_join_coalesces_right_key(spark, tmpdir):
    """Full-outer: a right-only row flushes once the watermark passes
    its reachability horizon (click_ts + lookback), and it keeps its
    equi-key (the helper coalesces the key from whichever side is
    present — without that, right-only rows would surface key=null)."""
    from examples_scala_spark.streaming.pipelines import stream_interval_join

    def write(rows, cols, sub):
        path = os.path.join(tmpdir, sub)
        df = spark.createDataFrame(rows, cols)
        df = df.withColumn(cols[-1], F.timestamp_seconds(F.col(cols[-1])))
        df.repartition(1).write.mode("overwrite").parquet(path)
        return path

    epath = write([("u1", 100), ("zz", 10_000)],
                  ["user_id", "err_ts"], "fo_errors")
    cpath = write([("u1", 50), ("u9", 70), ("zy", 9_000)],
                  ["user_id", "click_ts"], "fo_clicks")
    left = spark.readStream.schema("user_id string, err_ts timestamp").parquet(epath)
    right = spark.readStream.schema("user_id string, click_ts timestamp").parquet(cpath)
    out = stream_interval_join(left, right, keys=["user_id"],
                               left_ts="err_ts", right_ts="click_ts",
                               lookback="60 seconds", how="fullOuter")
    run_bounded(out, lambda w: w.format("memory").queryName("sfoj"),
                os.path.join(tmpdir, "ckpt_sfoj"))

    got = sorted(
        (r.user_id,
         None if r.err_ts is None else int(r.err_ts.timestamp()),
         None if r.click_ts is None else int(r.click_ts.timestamp()))
        for r in spark.sql("SELECT * FROM sfoj").collect())
    # u1 matches; u9@70 is right-only (wm 8990 > 70+60) and keeps its
    # key; zz@10_000 (left) and zy@9_000 (right, horizon 9_060 > wm)
    # are both still open at end of stream -> withheld.
    assert got == [("u1", 100, 50), ("u9", None, 70)]

def test_metrics_collector_captures_progress_and_state(spark, tmpdir):
    from examples_scala_spark.streaming.monitor import MetricsCollector

    path = os.path.join(tmpdir, "mon_in")
    spark.createDataFrame(
        [("s1", 0, 10.0), ("s2", 500, 20.0), ("s1", 1500, 30.0)],
        ["id", "timestamp", "temperature"]) \
        .repartition(1).write.mode("overwrite").parquet(path)
    stream = (
        spark.readStream.schema("id string, timestamp long, temperature double")
        .parquet(path)
        .withColumn("ts", F.timestamp_millis(F.col("timestamp"))))
    agg = (stream.withWatermark("ts", "1 second")
           .groupBy(F.window("ts", "1 second"), "id").count())

    c = MetricsCollector()
    spark.streams.addListener(c)
    try:
        run_bounded(agg, lambda w: (
            w.format("memory").queryName("mon_q").outputMode("update")),
            os.path.join(tmpdir, "mon_ckpt"))
        # listener delivery is async on the listener bus
        deadline = time.time() + 15
        while time.time() < deadline and not c.progress:
            time.sleep(0.5)
        t = c.totals("mon_q")
        assert t["batches"] >= 1
        assert t["input_rows"] == 3
        assert t["peak_state_rows"] >= 1   # windowed agg keeps keyed state
        assert t["dropped_by_watermark"] == 0
    finally:
        spark.streams.removeListener(c)


def test_rocksdb_state_store_matches_default_provider(spark, tmpdir):
    """The production state backend: at 100 TB-scale state (dedup keys,
    join buffers, window partials) the default HDFS-backed in-memory
    provider OOMs; RocksDB spills to local disk with the same
    semantics. Run the same watermarked dedup with both providers and
    require identical output — the provider is a storage swap, never a
    semantics change."""
    rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    conf = "spark.sql.streaming.stateStore.providerClass"
    src_path = os.path.join(tmpdir, "in")
    rows = [(i % 7, i) for i in range(100)]  # heavy duplication
    spark.createDataFrame(rows, ["k", "seq"]) \
        .repartition(1).write.mode("overwrite").parquet(src_path)

    def run(tag, provider):
        prev = spark.conf.get(conf, None)
        try:
            if provider:
                spark.conf.set(conf, provider)
            stream = (spark.readStream.schema("k long, seq long")
                      .parquet(src_path)
                      .withColumn("ts", F.timestamp_millis(F.col("seq") * 1000))
                      .withWatermark("ts", "10 seconds")
                      .dropDuplicatesWithinWatermark(["k"]))
            run_bounded(stream, lambda w: w.format("memory").queryName(tag),
                        os.path.join(tmpdir, f"ckpt_{tag}"))
            return sorted((r.k,) for r in
                          spark.table(tag).select("k").collect())
        finally:
            if prev is None:
                spark.conf.unset(conf)
            else:
                spark.conf.set(conf, prev)

    got_rocks = run("rocks_dedup", rocks)
    got_default = run("default_dedup", None)
    assert got_rocks == got_default
    assert len(got_rocks) == 7


# ---------------------------------------------- round-5 real BMP decode

def test_bmp_roundtrip_every_padding_residue():
    """encode->decode is the identity for widths covering all four
    4-byte row-padding residues, and dimensions survive the headers."""
    import numpy as np

    from examples_scala_spark.operators.multimodal import (
        decode_bmp, encode_bmp)

    rng = np.random.default_rng(7)
    for w in (1, 2, 3, 4, 5, 8, 13):
        for h in (1, 3, 6):
            px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            got_w, got_h, got = decode_bmp(encode_bmp(px))
            assert (got_w, got_h) == (w, h)
            assert np.array_equal(got, px)


def test_bmp_decode_is_orientation_and_channel_sensitive():
    """A hand-built asymmetric image: the decoder must undo BOTH the
    bottom-up row order and the BGR channel order (a decoder that
    skips either returns a different array)."""
    import numpy as np

    from examples_scala_spark.operators.multimodal import (
        decode_bmp, encode_bmp)

    px = np.zeros((2, 1, 3), np.uint8)
    px[0, 0] = (255, 0, 0)   # top row pure red
    px[1, 0] = (0, 0, 255)   # bottom row pure blue
    data = encode_bmp(px)
    # on disk: bottom row first, channels BGR -> first pixel bytes
    # after the 54-byte headers are (255, 0, 0) = blue in BGR
    assert data[54:57] == bytes((255, 0, 0))
    _, _, got = decode_bmp(data)
    assert np.array_equal(got, px)


def test_bmp_decode_rejects_unsupported():
    import numpy as np
    import pytest

    from examples_scala_spark.operators.multimodal import (
        decode_bmp, encode_bmp)

    with pytest.raises(ValueError):
        decode_bmp(b"PNG\x00notbmp")
    data = bytearray(encode_bmp(np.zeros((2, 2, 3), np.uint8)))
    data[28] = 8  # claim 8 bpp
    with pytest.raises(ValueError):
        decode_bmp(bytes(data))


def test_decode_media_routes_bmp_to_real_decoder(spark, sf_dir):
    from examples_scala_spark.operators.multimodal import (
        bmp_media_table, decode_media)
    from examples_scala_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(40)
    decoded = {r.doc_id: r for r in
               decode_media(bmp_media_table(docs)).collect()}
    assert len(decoded) == 40
    for d, r in decoded.items():
        # real header dims, not the fake's length-derived ones
        assert r.width == 8 + d % 9
        assert r.height == 5 + d % 7
        assert r.n_frames == 1


def test_multibatch_oracle_data_invariants():
    """stream_early_firing_multibatch's oracle models 'every live key
    fires every batch', exact iff (a) every key has rows in every
    time-quartile AND (b) consecutive-quartile watermark jumps exceed
    the 10-min tick interval (so every armed event-time timer has
    expired by the next batch). Pin both properties of the driver
    corpora so a future data regen can't silently invalidate the
    closed form."""
    import duckdb

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/events.parquet"
        rows = duckdb.sql(f"""
            WITH e AS (
              SELECT ((user_id % 10) + 1) AS key,
                     (epoch_us(ts) // 1000) AS ms,
                     ((row_number() OVER (ORDER BY epoch_us(ts), event_id)
                       - 1) * 4) // (SELECT count(*) FROM '{path}') AS b
              FROM '{path}')
            SELECT b, count(DISTINCT key), max(ms)
            FROM e GROUP BY b ORDER BY b""").fetchall()
        assert [r[0] for r in rows] == [0, 1, 2, 3]
        assert all(r[1] == 10 for r in rows), f"{sf}: key missing a quartile"
        maxes = [r[2] for r in rows]
        gaps = [maxes[i] - maxes[i - 1] for i in range(1, 4)]
        assert all(g > 600_000 for g in gaps), f"{sf}: wm jump <= interval"


def test_wav_roundtrip_and_chunk_walk():
    """encode->decode identity for odd/even lengths, and the decoder
    must WALK chunks: an unknown odd-sized chunk (with its pad byte)
    inserted before fmt/data must be skipped per the RIFF spec."""
    import struct

    import numpy as np

    from examples_scala_spark.operators.multimodal import (
        decode_wav, encode_wav)

    rng = np.random.default_rng(11)
    for n in (1, 2, 63, 64, 97):
        s = rng.integers(-32768, 32768, size=n, dtype=np.int16)
        rate, ch, got = decode_wav(encode_wav(s, 12_345))
        assert (rate, ch) == (12_345, 1)
        assert np.array_equal(got, s)
    # splice a 3-byte LIST chunk (odd size -> 1 pad byte) after WAVE
    s = rng.integers(-32768, 32768, size=10, dtype=np.int16)
    data = encode_wav(s, 8000)
    extra = b"LIST" + struct.pack("<I", 3) + b"abc\x00"
    spliced = data[:12] + extra + data[12:]
    rate, ch, got = decode_wav(spliced)
    assert rate == 8000 and np.array_equal(got, s)


def test_wav_decode_rejects_unsupported():
    import numpy as np
    import pytest

    from examples_scala_spark.operators.multimodal import (
        decode_wav, encode_wav)

    with pytest.raises(ValueError):
        decode_wav(b"OggS\x00notwav")
    data = bytearray(encode_wav(np.zeros(4, np.int16)))
    data[20] = 3  # claim IEEE-float format
    with pytest.raises(ValueError):
        decode_wav(bytes(data))


def test_decode_media_routes_riff_wav_to_real_decoder(spark, sf_dir):
    from examples_scala_spark.operators.multimodal import (
        decode_media, wav_media_table)
    from examples_scala_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(30)
    decoded = {r.doc_id: r for r in
               decode_media(wav_media_table(docs)).collect()}
    assert len(decoded) == 30
    for d, r in decoded.items():
        # real chunk-walked sample count, not the fake's n_bytes*100
        assert r.n_frames == 64 + d % 97
        assert (r.width, r.height) == (0, 0)


def test_resample_nearest_identity_and_midpoints():
    """Same-size resample is the identity; 2x downscale picks the
    midpoint-rule source pixels ((2*ox+1)*w)//(2*tw)."""
    import numpy as np

    from examples_scala_spark.operators.multimodal import resample_nearest

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(6, 8, 3), dtype=np.uint8)
    assert np.array_equal(resample_nearest(px, 8, 6), px)
    t = resample_nearest(px, 4, 3)
    for oy in range(3):
        for ox in range(4):
            sx = ((2 * ox + 1) * 8) // 8
            sy = ((2 * oy + 1) * 6) // 6
            assert np.array_equal(t[oy, ox], px[sy, sx])
