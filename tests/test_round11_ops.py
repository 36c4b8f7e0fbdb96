"""Round-11 changes: the sqrt-corpus centroid budget becomes
semantic_dedup's / semantic_dedup_sweep's DEFAULT (VERDICT r10 #1),
and the nearest_ref_vec kernel closes the three ADVICE r10 items —
ref-axis slicing (executor-memory bound) and the streaming-safe
empty-refs fallback."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from examples_scala_spark.operators import similarity as sim
from examples_scala_spark.streaming.sinks import run_bounded
from references import argmax_by


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


# ------------------------------------------------ sqrt-budget default flip

class TestSqrtBudgetDefault:
    def test_semantic_dedup_default_equals_auto(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        flipped = sorted(map(tuple, sim.semantic_dedup(emb).collect()))
        auto = sorted(map(tuple, sim.semantic_dedup_auto(emb).collect()))
        assert flipped == auto
        # and the flip genuinely binds: the sqrt budget differs from
        # the old fixed default at test SF
        assert sim.sqrt_budget(emb.count()) != 256

    def test_sweep_default_equals_explicit_sqrt_budget(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        nlist = sim.sqrt_budget(emb.count())
        flipped = sorted(map(tuple, sim.semantic_dedup_sweep(emb).collect()))
        explicit = sorted(map(tuple, sim.semantic_dedup_sweep(
            emb, max_centroids=nlist).collect()))
        assert flipped == explicit

    def test_sqrt_budget_clamps(self):
        assert sim.sqrt_budget(0) == 16          # min clamp
        assert sim.sqrt_budget(100) == 16        # floor(10) < 16
        assert sim.sqrt_budget(10_000) == 100
        assert sim.sqrt_budget(10_001) == 100    # floor
        assert sim.sqrt_budget(10 ** 12) == 65536  # max clamp

    def test_recall_gate_subset_invariant_survives_flip(self, spark, sf_dir):
        # the gate pins max_centroids=256 on BOTH variants, so
        # dropped_snm <= dropped_plain must still hold post-flip
        from examples_scala_spark.queries import REGISTRY
        row = REGISTRY["semantic_dedup_snm_recall"].fn(
            spark, sf_dir).collect()[0]
        assert row.dropped_snm <= row.dropped_plain
        assert row.dropped_both <= row.dropped_snm


# ------------------------------------------- kernel ref-axis slicing

class TestKernelRefSlicing:
    def _base_refs(self, spark, n=60, nref=11, dim=8):
        import math
        rows = [(i, [math.sin(0.37 * (i + 1) * (j + 1)) + 0.05
                     for j in range(dim)]) for i in range(n)]
        base = sim.with_norm(_emb(spark, rows)).select("vec_id", "v", "norm")
        # refs include an EXACT duplicate pair (ids 3 and 7 share a
        # vector) so the smallest-id tie-break is exercised across a
        # slice boundary at tiny budgets
        ref_rows = [(i, rows[i * 3 % n][1]) for i in range(nref)]
        if nref > 7:
            ref_rows[7] = (7, ref_rows[3][1])
        refs = sim.with_norm(_emb(spark, ref_rows)).select(
            F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"),
            F.col("norm").alias("cnorm"))
        return base, refs

    def test_sliced_equals_unsliced_bit_exact(self, spark):
        base, refs = self._base_refs(spark)
        old = sim._KERNEL_CELL_BUDGET
        try:
            sim._KERNEL_CELL_BUDGET = 1 << 30   # one slice
            want = sorted(map(tuple,
                              sim.nearest_ref_vec(base, refs).collect()))
            # width = max(1, 2//rows) = 1 -> one slice PER REFERENCE,
            # the most adversarial slicing possible
            sim._KERNEL_CELL_BUDGET = 2
            got = sorted(map(tuple,
                             sim.nearest_ref_vec(base, refs).collect()))
        finally:
            sim._KERNEL_CELL_BUDGET = old
        assert got == want  # bit-exact: ccos doubles compare equal

    def test_sliced_carry_vec_and_tie_break(self, spark):
        base, refs = self._base_refs(spark)
        old = sim._KERNEL_CELL_BUDGET
        try:
            sim._KERNEL_CELL_BUDGET = 3
            out = sim.nearest_ref_vec(base, refs, carry_vec=True)
            rows = out.collect()
        finally:
            sim._KERNEL_CELL_BUDGET = old
        assert len(rows) == 60
        assert set(out.columns) == {"vec_id", "cent_id", "ccos", "v",
                                    "norm"}
        # the duplicated reference (ids 3 == 7) can only ever win as
        # id 3: first-max argmax == smallest ref id on exact ties
        assert all(r.cent_id != 7 for r in rows)

    def test_sliced_kernel_matches_relational_argmax(self, spark):
        # moderate-nlist regime (ADVICE r10: prior tests only small
        # nlist): 4k rows x 300 refs with the budget forcing ~8
        # slices, checked against the RELATIONAL argmax (max_by over
        # the broadcast affinity) — the independent implementation,
        # not the kernel itself
        import math
        dim = 16
        rows = [(i, [math.sin(0.11 * (i + 3) * (j + 1)) + 0.02
                     for j in range(dim)]) for i in range(4000)]
        base = sim.with_norm(_emb(spark, rows)).select("vec_id", "v",
                                                       "norm")
        refs = sim.with_norm(_emb(spark, rows[::13][:300])).select(
            F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"),
            F.col("norm").alias("cnorm"))
        want = sorted(map(tuple, argmax_by(
            sim.cell_affinity(base, refs), "vec_id", "ccos", "cent_id",
            ("cent_id", "ccos")).select(
                "vec_id", "cent_id", "ccos").collect()))
        old = sim._KERNEL_CELL_BUDGET
        try:
            sim._KERNEL_CELL_BUDGET = 4000 * 40   # ~8 slices per batch
            got = sorted(map(tuple, sim.nearest_ref_vec(
                base, refs).collect()))
        finally:
            sim._KERNEL_CELL_BUDGET = old
        assert got == want

    def test_default_callers_fit_one_slice(self):
        # the budget contract: 10k-row Arrow batches x 256 refs must
        # stay a single slice so default callers see zero change
        assert sim._KERNEL_CELL_BUDGET // 10_000 >= 256
        # and the OOM case the slicing exists for: at the collect
        # bound the per-slice accumulator stays <= the budget cells
        assert sim._KERNEL_CELL_BUDGET * 8 <= 64 << 20  # <=64 MB/array


# --------------------------------------- streaming empty-refs fallback

class TestStreamingEmptyRefs:
    def test_empty_refs_on_streaming_base(self, spark, tmpdir):
        import math
        path = os.path.join(tmpdir, "in")
        rows = [(i, [math.cos(0.1 * i * (j + 1)) + 0.2 for j in range(4)])
                for i in range(20)]
        _emb(spark, rows).repartition(1).write.parquet(path)
        stream = (spark.readStream
                  .schema("vec_id long, embedding array<double>")
                  .parquet(path))
        base = sim.with_norm(stream).select("vec_id", "v", "norm")
        refs = spark.createDataFrame(
            [], "cent_id bigint, cv array<double>, cnorm double")
        out = sim.nearest_ref_vec(base, refs)
        # ADVICE r10: must stay a STREAMING plan (a batch
        # createDataFrame under writeStream raises AnalysisException)
        assert out.isStreaming
        run_bounded(out, lambda w: w.format("memory").queryName("r11_empty_refs"),
                    os.path.join(tmpdir, "ckpt"))
        got = spark.sql("SELECT * FROM r11_empty_refs")
        assert got.count() == 0
        assert got.columns == ["vec_id", "cent_id", "ccos"]

    def test_empty_refs_on_batch_base_unchanged(self, spark):
        base = sim.with_norm(_emb(spark, [(1, [1.0, 0.0])])).select(
            "vec_id", "v", "norm")
        refs = spark.createDataFrame(
            [], "cent_id bigint, cv array<double>, cnorm double")
        out = sim.nearest_ref_vec(base, refs)
        assert not out.isStreaming and out.count() == 0


# ---------------------------------------- streaming review fixes (r11)

class TestStreamingReviewFixes:
    def test_rise_warning_fires_under_continuous_data(self, spark, tmpdir):
        # the r11 fix: a monotonic rise with data arriving in EVERY
        # micro-batch must still warn once rise_ms of processing time
        # has passed. The old code called setTimeoutDuration(rise_ms)
        # on every data batch, and Spark cancels + re-arms the group
        # timeout per invocation — so a continuous rise reset the
        # clock forever and the warning needed the data to STOP. Here
        # the data never stops: one continuous query, a rising file
        # appended every ~0.4 s for ~4 s, rise_ms=2500 — the new
        # deadline-in-state data path must fire mid-stream.
        import time

        from examples_scala_spark.streaming import stateful
        path = os.path.join(tmpdir, "in")
        spark.createDataFrame([("s1", 0, 10.0)],
                              ["id", "timestamp", "temperature"]) \
            .repartition(1).write.mode("overwrite").parquet(path)
        stream = (spark.readStream
                  .schema("id string, timestamp long, temperature double")
                  .option("maxFilesPerTrigger", "1").parquet(path))
        out = stateful.temperature_rise_warnings(stream, rise_ms=2_500)
        q = (out.writeStream.format("memory").queryName("rise_cont")
             .outputMode("append")
             .option("checkpointLocation", os.path.join(tmpdir, "ck_rc"))
             .start())
        try:
            for i in range(10):
                spark.createDataFrame(
                    [("s1", i + 1, 10.0 + i + 1)],
                    ["id", "timestamp", "temperature"]) \
                    .repartition(1).write.mode("append").parquet(path)
                time.sleep(0.4)
            deadline = time.time() + 30
            while time.time() < deadline:
                got = spark.sql("SELECT * FROM rise_cont").collect()
                if got:
                    break
                time.sleep(0.5)
        finally:
            q.stop()
        assert any(r.id == "s1" and "monotonically increased" in r.message
                   for r in got)

    def test_early_firing_no_duplicate_partial_on_stalled_wm(
            self, spark, tmpdir):
        # same key gets data for a LATER window while the watermark
        # holds still: the already-fired early partial for window 0
        # must not be re-emitted byte-identically
        from examples_scala_spark.streaming import timers
        path = os.path.join(tmpdir, "in2")
        ckpt = os.path.join(tmpdir, "ck_ef")
        got: list = []
        # batch 1: window 0 data + a row lifting wm to 15000 (20s - 5s)
        spark.createDataFrame(
            [("s1", 1_000, 1.0), ("s1", 5_000, 2.0), ("s1", 20_000, 3.0)],
            ["id", "timestamp", "temperature"]) \
            .repartition(1).write.mode("overwrite").parquet(path)

        def run_once():
            stream = (spark.readStream
                      .schema("id string, timestamp long, "
                              "temperature double").parquet(path))
            out = timers.early_firing_window_counts(
                stream, window_ms=30_000, interval_ms=1_000)
            run_bounded(out, lambda w: w.foreachBatch(
                lambda df, bid: got.extend(map(tuple, df.collect()))), ckpt)

        run_once()
        # batch 2: data for window 30000 only; max ts unchanged -> wm
        # stalls at 15000; window 0's tick=15000 partial already fired
        spark.createDataFrame([("s1", 20_500, 4.0)],
                              ["id", "timestamp", "temperature"]) \
            .repartition(1).write.mode("append").parquet(path)
        run_once()
        partials = [r for r in got if r[1] == 0 and not r[5]]
        assert partials, "window 0 must early-fire at tick 15000"
        assert len(partials) == len(set(partials)), \
            f"duplicate partials: {partials}"

    def test_updating_window_delay_parser_units(self, spark, tmpdir):
        # withWatermark is a no-op on batch plans, so assert on a
        # STREAMING plan's EventTimeWatermark delay (no query started)
        from examples_scala_spark.streaming import timers
        path = os.path.join(tmpdir, "in3")
        spark.createDataFrame(
            [("s1", 1_000, 1.0)], ["id", "timestamp", "temperature"]) \
            .repartition(1).write.mode("overwrite").parquet(path)
        base = (spark.readStream
                .schema("id string, timestamp long, temperature double")
                .parquet(path))

        def wm_delay(df) -> str:
            plan = df._jdf.queryExecution().analyzed()
            node = plan
            while True:
                if node.nodeName() == "EventTimeWatermark":
                    # CalendarInterval canonical rendering
                    return node.delay().toString()
                if node.children().size() == 0:
                    raise AssertionError("no EventTimeWatermark node")
                node = node.children().head()

        # 500 ms disorder + 5000 ms lateness = 5.5 s, NOT 505 s
        out = timers.updating_window_counts_stream(
            base, disorder="500 milliseconds", lateness_ms=5_000)
        assert wm_delay(out) == "5.5 seconds"
        # non-'seconds' units must still ADD the lateness term
        out2 = timers.updating_window_counts_stream(
            base, disorder="1 minute", lateness_ms=5_000)
        assert wm_delay(out2) == "1 minutes 5 seconds"
        with pytest.raises(ValueError, match="cannot parse"):
            timers.updating_window_counts_stream(base,
                                                 disorder="1 fortnight")

    def test_interval_join_semi_anti_aliases(self, spark):
        from examples_scala_spark.streaming.pipelines import (
            stream_interval_join,
        )
        left = spark.createDataFrame(
            [(1, "2024-01-01 00:00:10"), (2, "2024-01-01 00:01:00")],
            ["user_id", "lts"]).select(
                "user_id", F.col("lts").cast("timestamp").alias("lts"))
        right = spark.createDataFrame(
            [(1, "2024-01-01 00:00:05")], ["user_id", "rts"]).select(
                "user_id", F.col("rts").cast("timestamp").alias("rts"))
        for how in ("semi", "left_semi", "leftSemi"):
            got = stream_interval_join(left, right, ["user_id"],
                                       "lts", "rts", "10 seconds",
                                       how=how)
            assert [r.user_id for r in got.collect()] == [1], how
        for how in ("anti", "left_anti", "leftAnti"):
            got = stream_interval_join(left, right, ["user_id"],
                                       "lts", "rts", "10 seconds",
                                       how=how)
            assert [r.user_id for r in got.collect()] == [2], how


# ------------------------------------- operator review fixes (r11)

class TestOperatorReviewFixes:
    def test_delta_cold_start_keeps_batch(self, spark):
        # empty history: the quantizer bootstraps from the batch —
        # the pre-r11 code returned 0 rows (silent loss of the whole
        # first ingestion batch)
        import math
        history = _emb(spark, [])
        rows = [(i, [math.sin(0.3 * (i + 1) * (j + 1))
                     for j in range(8)]) for i in range(40)]
        incoming = _emb(spark, rows)
        out = sim.semantic_dedup_delta(history, incoming, threshold=0.99)
        got = {r.vec_id: r.kept for r in out.collect()}
        assert len(got) == 40               # batch-sized output
        # with empty history, delta == the batch dedup of the batch
        # under the same bootstrapped quantizer
        want = {r.vec_id: r.kept for r in sim.semantic_dedup(
            incoming, threshold=0.99, max_centroids=256).collect()}
        assert got == want
        assert any(got.values())            # and nothing vanished

    def test_delta_cold_start_no_candidates(self, spark):
        # batch whose ids all miss the centroid modulo: no quantizer
        # anywhere -> everything kept with null cell, still batch-sized
        history = _emb(spark, [])
        incoming = _emb(spark, [(2, [1.0, 0.0]), (4, [0.0, 1.0])])
        out = sim.semantic_dedup_delta(history, incoming,
                                       centroid_mod=23).collect()
        assert {(r.vec_id, r.kept, r.cell) for r in out} == \
            {(2, True, None), (4, True, None)}

    def test_delta_threshold_boundary_matches_batch(self, spark):
        # a pair at cosine EXACTLY the threshold (identical vectors,
        # threshold 1.0): the batch family drops the higher id with
        # >=; the delta path used strict > and kept it (r11 fix)
        v = [3.0, 4.0]
        history = _emb(spark, [(1, v)])
        incoming = _emb(spark, [(9, v)])
        out = {r.vec_id: (r.kept, r.keep_id) for r in
               sim.semantic_dedup_delta(history, incoming,
                                        threshold=1.0).collect()}
        assert out[9] == (False, 1)

    def test_pq_and_ivfpq_empty_query_sample(self, spark):
        import math
        rows = [(i, [math.sin(0.2 * (i + 1) * (j + 1)) + 0.1
                     for j in range(64)]) for i in range(1, 45)]
        emb = _emb(spark, rows)   # no id % 50 == 0 -> empty sample
        got = sim.pq_adc_topk(emb, query_mod=50, codes=2)
        assert got.count() == 0
        assert got.columns == ["query_id", "neighbor_id", "rank",
                               "adist"]
        got2 = sim.ivfpq_topk(emb, query_mod=50, codes=2)
        assert got2.count() == 0

    def test_range_join_left_outer_and_semi_anti(self, spark):
        from examples_scala_spark.operators.joins import range_join
        left = spark.createDataFrame(
            [(1, 5.0), (2, 55.0)], ["eid", "value"])
        right = spark.createDataFrame(
            [(0.0, 10.0, "low")], ["lo", "hi", "band"])
        l = range_join(left, right, "value", "lo", "hi", 10.0,
                       how="left").collect()
        assert {(r.eid, r.band) for r in l} == {(1, "low"), (2, None)}
        s = range_join(left, right, "value", "lo", "hi", 10.0,
                       how="semi").collect()
        assert [r.eid for r in s] == [1]
        a = range_join(left, right, "value", "lo", "hi", 10.0,
                       how="left_anti").collect()
        assert [r.eid for r in a] == [2]
        with pytest.raises(ValueError, match="unsupported"):
            range_join(left, right, "value", "lo", "hi", 10.0,
                       how="full")
        # inner path unchanged
        i = range_join(left, right, "value", "lo", "hi", 10.0).collect()
        assert [(r.eid, r.band) for r in i] == [(1, "low")]

    def test_stratified_split_exact_null_and_int_strata(self, spark):
        from examples_scala_spark.operators.sampling import (
            stratified_split_exact,
        )
        rows = ([(i, "a") for i in range(40)]
                + [(i + 100, None) for i in range(40)])
        df = spark.createDataFrame(rows, "doc_id long, lang string")
        out = stratified_split_exact(df, "lang", "doc_id", 20)
        assert out.count() == 20            # NULL stratum not dropped
        assert out.filter(F.col("lang").isNull()).count() == 10
        # integer strata: typed allocation table, no TypeError
        df2 = spark.createDataFrame(
            [(i, i % 2) for i in range(40)], "doc_id long, bucket long")
        out2 = stratified_split_exact(df2, "bucket", "doc_id", 10)
        assert out2.count() == 10

    def test_simhash_near_pairs_custom_id_col(self, spark):
        from examples_scala_spark.operators.dedup import (
            simhash_near_pairs,
        )
        docs = spark.createDataFrame(
            [(1, "the quick brown fox"), (2, "the quick brown fox"),
             (3, "zzz yyy xxx www")],
            ["vec_id", "text"])
        out = simhash_near_pairs(docs, id_col="vec_id").collect()
        assert {(r.doc_a, r.doc_b) for r in out} == {(1, 2)}

    def test_connected_components_raises_when_unconverged(self, spark):
        from examples_scala_spark.operators.graph import (
            connected_components,
        )
        n = 12
        nodes = spark.createDataFrame([(i,) for i in range(n)], ["id"])
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], ["src", "dst"])
        with pytest.raises(RuntimeError, match="still changing"):
            connected_components(nodes, chain, max_iterations=3)
        # and converges fine with budget >= diameter
        ok = connected_components(nodes, chain, max_iterations=n)
        assert {r.component for r in ok.collect()} == {0}
