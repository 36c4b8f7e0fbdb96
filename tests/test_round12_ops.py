"""Round-12 ADVICE fixes: early-firing legacy-checkpoint tolerance and
connected_components max_iterations validation."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from examples_scala_spark.operators.graph import connected_components
from examples_scala_spark.streaming.timers import _decode_ef_state


# ------------------------------------------- early-firing state migration

class TestEarlyFiringStateMigration:
    def test_current_layout_roundtrip(self):
        raw = json.dumps({"c": {"0": 3, "30000": 1}, "f": {"0": 5000}})
        counts, fired = _decode_ef_state(raw)
        assert counts == {0: 3, 30000: 1}
        assert fired == {0: 5000}

    def test_legacy_flat_layout_restores(self):
        # pre-r11 checkpoints persisted a flat {start: count} dict;
        # restoring one must not KeyError('c') (r12 ADVICE fix)
        raw = json.dumps({"0": 3, "30000": 1})
        counts, fired = _decode_ef_state(raw)
        assert counts == {0: 3, 30000: 1}
        assert fired == {}  # worst case: one re-emitted early partial

    def test_legacy_empty_dict(self):
        counts, fired = _decode_ef_state(json.dumps({}))
        assert counts == {} and fired == {}


# --------------------------------------- connected_components guard rails

class TestConnectedComponentsBudgetGuard:
    @pytest.mark.parametrize("bad", [0, -1])
    def test_nonpositive_budget_raises_valueerror(self, spark, bad):
        # previously raised NameError('changed') from the for/else
        nodes = spark.createDataFrame([(1,), (2,)], "id long")
        edges = spark.createDataFrame([(1, 2)], "src long, dst long")
        with pytest.raises(ValueError, match="max_iterations"):
            connected_components(nodes, edges, max_iterations=bad)

    def test_minimal_sufficient_budget_still_runs(self, spark):
        # diameter-1 edge needs 1 propagation round + 1 confirming
        # round (changed == 0) to converge
        nodes = spark.createDataFrame([(1,), (2,)], "id long")
        edges = spark.createDataFrame([(1, 2)], "src long, dst long")
        got = {(r.id, r.component)
               for r in connected_components(
                   nodes, edges, max_iterations=2).collect()}
        assert got == {(1, 1), (2, 1)}

    def test_exhausted_budget_raises_runtime_not_nameerror(self, spark):
        nodes = spark.createDataFrame([(1,), (2,)], "id long")
        edges = spark.createDataFrame([(1, 2)], "src long, dst long")
        with pytest.raises(RuntimeError, match="still changing"):
            connected_components(nodes, edges, max_iterations=1)


# ------------------------------------------- multimodal guard hardening

class TestFrameSampleZeroFrames:
    def test_zero_frame_video_dropped_not_crashed(self, spark):
        # sequence(0, -1, 24) raises in Spark (step-sign check); a real
        # video table can carry n_frames = 0 for corrupt rows
        from examples_scala_spark.operators.multimodal import frame_sample
        decoded = spark.createDataFrame(
            [(1, "video/mp4", 10, 8, 6, 0),
             (2, "video/mp4", 10, 8, 6, 49),
             (3, "audio/wav", 10, 0, 0, 500)],
            "doc_id long, mime string, n_bytes long, width long, "
            "height long, n_frames long")
        got = {(r.doc_id, r.frame_idx)
               for r in frame_sample(decoded, every_n=24).collect()}
        assert got == {(2, 0), (2, 24), (2, 48)}


# ------------------------------------- engine-exact average rounding

class TestAvg6EngineExactTies:
    def test_round_half_tie_matches_duckdb(self, spark):
        # the r12 sf0.1 find: sum 2089.93 over 32 rows -> avg
        # 65.3103125 exactly; round(double, 6) split the engines
        # (Spark HALF_UP on the shortest repr vs DuckDB on the binary
        # value). half_up over the cent sum must agree with its SQL
        # twin bit-for-bit on the engineered tie.
        import duckdb
        from examples_scala_spark.functions.scalar import half_up
        from examples_scala_spark.queries import AVG_CENTS_SQL, _cents_sum
        vals = [65.31] * 31 + [65.32]          # cents sum 208993
        assert round(sum(round(v * 100) for v in vals)) == 208993
        df = spark.createDataFrame([(v,) for v in vals], "value double")
        got = (df.groupBy().agg(F.count("*").alias("cnt"),
                                _cents_sum())
               .select(half_up("sc", F.col("cnt") * 100).alias("avg_value"))
               .collect()[0].avg_value)
        want = duckdb.sql(
            "SELECT " + AVG_CENTS_SQL + " AS a FROM (SELECT unnest(["
            + ",".join(str(v) for v in vals) + "]) AS value)"
        ).fetchone()[0]
        assert got == want == 65.310313        # half-up, both engines

    def test_plain_average_still_exact(self, spark):
        import duckdb
        from examples_scala_spark.functions.scalar import half_up
        from examples_scala_spark.queries import AVG_CENTS_SQL, _cents_sum
        vals = [1.01, 2.02, 3.05]
        df = spark.createDataFrame([(v,) for v in vals], "value double")
        got = (df.groupBy().agg(F.count("*").alias("cnt"),
                                _cents_sum())
               .select(half_up("sc", F.col("cnt") * 100).alias("a"))
               .collect()[0].a)
        want = duckdb.sql(
            "SELECT " + AVG_CENTS_SQL + " AS a FROM (SELECT unnest(["
            + ",".join(str(v) for v in vals) + "]) AS value)"
        ).fetchone()[0]
        assert got == want == 2.026667


# ------------------------- r12 job-fold: lazy checkpoints in the CC loop

class TestLazyCheckpointFold:
    """The r12 optimization made every checkpoint in the
    connected_components loop LAZY, folding each round's
    materialization into its convergence count (one Spark job per
    round instead of two) and the edge-table materialization into the
    pre-loop count. These tests pin the two properties that fold
    depends on: the convergence decision still sees the fully
    propagated labels, and the returned frame is stable across
    repeated actions (a mis-materialized lazy checkpoint would
    recompute and could legally reshuffle)."""

    def test_two_components_plus_isolated_nodes(self, spark):
        nodes = spark.createDataFrame([(i,) for i in range(1, 9)],
                                      "id long")
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6)], "src long, dst long")
        got = {(r.id, r.component)
               for r in connected_components(nodes, edges).collect()}
        assert got == {(1, 1), (2, 1), (3, 1), (5, 5), (6, 5),
                       (4, 4), (7, 7), (8, 8)}

    def test_result_stable_across_repeated_actions(self, spark):
        # chain of 6: several propagation rounds, so the final frame
        # sits on top of a chain of lazily materialized checkpoints
        nodes = spark.createDataFrame([(i,) for i in range(1, 7)],
                                      "id long")
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 6)], "src long, dst long")
        out = connected_components(nodes, edges)
        first = sorted((r.id, r.component) for r in out.collect())
        second = sorted((r.id, r.component) for r in out.collect())
        assert first == second == [(i, 1) for i in range(1, 7)]

    def test_pagerank_pinned_with_deg_matches_mass_one(self, spark):
        # the r12 with_deg pin must not change the distribution: ranks
        # still sum to 1 and the star center still dominates
        from examples_scala_spark.operators.graph import pagerank
        nodes = spark.createDataFrame([(i,) for i in range(5)],
                                      "id long")
        edges = spark.createDataFrame(
            [(0, i) for i in range(1, 5)], "src long, dst long")
        ranks = {r.id: r.rank
                 for r in pagerank(nodes, edges, iterations=25).collect()}
        assert abs(sum(ranks.values()) - 1.0) < 1e-9
        assert ranks[0] > max(v for k, v in ranks.items() if k)

    # ---- session-4 folds: the remaining eager checkpoints became
    # lazy (suffix loop, BPE vocab, triangle-stats edge pin). Each
    # test pins the property the fold depends on: the result is
    # correct AND stable across repeated actions on top of the
    # lazily materialized chain (a mis-materialized lazy checkpoint
    # would recompute and could legally reshuffle or re-randomize).

    def test_suffix_spans_lazy_chain_stable(self, spark):
        from examples_scala_spark.operators.dedup import suffix_dup_spans
        # four DISTINCT pads (different cyclic steps) so the only
        # duplicated substring >= L anywhere is `dup` in both docs
        pads = ["".join(chr(97 + (i * m + c) % 26) for i in range(40))
                for m, c in ((7, 0), (11, 3), (17, 5), (23, 9))]
        dup = "the quick brown fox jumps over the lazy dog again"
        docs = spark.createDataFrame(
            [(1, pads[0] + dup + pads[1]), (2, pads[2] + dup + pads[3])],
            "doc_id long, text string")
        out = suffix_dup_spans(docs, L=30, chunk=8)
        first = sorted((r["doc_id"], r["span_start"], r["span_len"])
                       for r in out.collect())
        second = sorted((r["doc_id"], r["span_start"], r["span_len"])
                        for r in out.collect())
        assert first == second
        # both docs carry exactly the 49-char duplicated span at
        # character 41 (1-indexed)
        assert first == [(1, 41, len(dup)), (2, 41, len(dup))]

    def test_bpe_lazy_vocab_stable(self, spark):
        from examples_scala_spark.operators.text import (
            bpe_apply_token_counts,
            bpe_train_merges,
        )
        docs = spark.createDataFrame(
            [(1, "low lower lowest low low"),
             (2, "new newer newest new lower")],
            "doc_id long, text string")
        merges = bpe_train_merges(docs, k_merges=9)
        m1 = [tuple(r) for r in merges.collect()]
        m2 = [tuple(r) for r in merges.collect()]
        assert m1 == m2 and len(m1) > 0
        vocab = bpe_apply_token_counts(docs, k_merges=9)
        v1 = sorted(tuple(r) for r in vocab.collect())
        v2 = sorted(tuple(r) for r in vocab.collect())
        assert v1 == v2 and len(v1) > 0

    def test_triangle_stats_lazy_edge_pin(self, spark):
        from examples_scala_spark.operators.graph import triangle_stats
        nodes = spark.createDataFrame([(i,) for i in range(1, 6)],
                                      "id long")
        # triangle 1-2-3 plus a pendant 3-4; node 5 isolated
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long")
        out = triangle_stats(nodes, edges)
        got1 = {r.id: (r.degree, r.triangles, r.lcc)
                for r in out.collect()}
        got2 = {r.id: (r.degree, r.triangles, r.lcc)
                for r in out.collect()}
        assert got1 == got2
        assert got1[1] == (2, 1, 1.0)
        assert got1[2] == (2, 1, 1.0)
        assert got1[3] == (3, 1, pytest.approx(1 / 3, abs=1e-6))
        assert got1[4][0] == 1 and got1[4][1] == 0
        assert got1[5] == (0, 0, 0.0)

    def test_pagerank_checkpoint_cadence_invariant(self, spark):
        # thinning the rank checkpoints (every 2nd round, r12) must be
        # invisible in the output: same graph, every=1 vs every=2 vs
        # every=3 produce bit-identical ranks, odd AND even iteration
        # counts (the last round is always checkpointed)
        from examples_scala_spark.operators.graph import pagerank
        nodes = spark.createDataFrame([(i,) for i in range(7)],
                                      "id long")
        edges = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3), (0, 4), (4, 5)],
            "src long, dst long")
        for iters in (4, 5):
            outs = [sorted((r.id, r.rank)
                           for r in pagerank(nodes, edges,
                                             iterations=iters,
                                             checkpoint_every=k)
                           .collect())
                    for k in (1, 2, 3)]
            # ranks are float sums over shuffled groups whose partial-
            # aggregation order is not contractually stable across
            # parallelism/Spark versions — compare with a tight
            # tolerance, not bit equality (r12 ADVICE)
            for other in outs[1:]:
                assert [i for i, _ in outs[0]] == [i for i, _ in other]
                for (_, a), (_, b) in zip(outs[0], other):
                    assert a == pytest.approx(b, abs=1e-12)
        with pytest.raises(ValueError, match="checkpoint_every"):
            pagerank(nodes, edges, checkpoint_every=0)
