"""Round-10 pins: argmax_by == window-argmax equivalence, the
beyond-cap decontamination audit (ADVICE r9), the divided-out-n
outlier z-test, and the de-broadcast LM join plans."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from examples_scala_spark.operators.similarity import (
    embedding_outliers,
    semantic_decontaminate,
    with_norm,
)
from references import argmax_by


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


class TestArgmaxBy:
    def test_matches_window_form_on_random_affinity(self, spark):
        # the exact frame shape every assignment site feeds argmax_by:
        # (id, cent_id, ccos) with deterministic pseudo-random scores,
        # engineered ties included (ccos quantized to 2 decimals so
        # many groups tie on ccos and resolve on cent_id)
        aff = (spark.range(0, 300).toDF("vec_id")
               .crossJoin(spark.range(0, 17).toDF("cent_id"))
               .select("vec_id", "cent_id",
                       (F.round(F.sin(F.col("vec_id") * 13.7
                                      + F.col("cent_id") * 5.3), 2))
                       .alias("ccos")))
        w = Window.partitionBy("vec_id").orderBy(
            F.col("ccos").desc(), F.col("cent_id"))
        expect = (aff.withColumn("r", F.row_number().over(w))
                  .filter(F.col("r") == 1)
                  .select("vec_id", "cent_id", "ccos"))
        got = argmax_by(aff, "vec_id", "ccos", "cent_id",
                        keep=("cent_id", "ccos"))
        assert sorted(map(tuple, got.collect())) == \
            sorted(map(tuple, expect.collect()))

    def test_partial_aggregate_in_plan(self, spark):
        # the point of the rewrite: a partial_max_by must appear on
        # the map side (HashAggregate before the exchange), and no
        # Window node may remain
        aff = (spark.range(0, 10).toDF("vec_id")
               .crossJoin(spark.range(0, 4).toDF("cent_id"))
               .withColumn("ccos", F.rand(7)))
        plan = argmax_by(aff, "vec_id", "ccos", "cent_id",
                         keep=("cent_id",))._jdf \
            .queryExecution().executedPlan().toString()
        assert "partial_max_by" in plan
        assert "Window" not in plan

    def test_payload_columns_ride_the_struct(self, spark):
        aff = _emb(spark, [(1, [1.0, 0.0]), (2, [0.0, 2.0])])
        base = with_norm(aff).select("vec_id", "v", "norm")
        cents = spark.createDataFrame(
            [(10, [1.0, 0.0], 1.0), (11, [0.0, 1.0], 1.0)],
            "cent_id long, cv array<double>, cnorm double")
        from examples_scala_spark.operators.similarity import cosine
        full = base.join(F.broadcast(cents)).select(
            "vec_id", "cent_id", "v", "norm",
            cosine(F.col("v"), F.col("cv"),
                   F.col("norm"), F.col("cnorm")).alias("ccos"))
        out = {r.vec_id: (r.cent_id, r.v, r.norm) for r in argmax_by(
            full, "vec_id", "ccos", "cent_id",
            keep=("cent_id", "v", "norm")).collect()}
        assert out[1][0] == 10 and out[1][1] == [1.0, 0.0]
        assert out[2][0] == 11 and out[2][2] == pytest.approx(2.0)


class TestDecontaminateBeyondCap:
    def test_beyond_cap_sampled_rows_are_audited(self, spark):
        # 3 modulo-sampled "bench" candidates under mod=2/rem=0 with a
        # cap of 1: ids 0,2,4 all satisfy vec_id % 2 == 0, the cap
        # keeps only id 0 as bench. ids 2 and 4 must be CORPUS — and
        # id 2 (identical vector to the bench vector) must be flagged
        # as contaminated. Under the old raw-modulo exclusion both
        # were silently neither bench nor corpus (ADVICE r9).
        emb = _emb(spark, [
            (0, [1.0, 0.0]),   # bench (capped set)
            (1, [0.0, 1.0]),   # corpus, orthogonal -> clean
            (2, [1.0, 0.0]),   # sampled beyond cap -> corpus, dupe!
            (4, [-1.0, 0.0]),  # sampled beyond cap -> corpus, clean
        ])
        out = {r.vec_id: r.bench_id for r in semantic_decontaminate(
            emb, threshold=0.9, bench_mod=2, bench_rem=0,
            max_bench=1).collect()}
        assert out == {2: 0}


class TestOutlierZTestHeadroom:
    def test_divided_out_n_same_flags(self, spark):
        # hand-check: one cell of 21 vectors, 20 tightly clustered +
        # one corrupt far vector -> exactly the corrupt one is
        # flagged, with the (n*x - s)^2 > z^2*(n*q - s^2) form
        # (shared factor n divided out per ADVICE r9). Centroid = the
        # default id sample (id % 23 == 1 -> id 1); x ~= 1000 for the
        # cluster, -894 for the corrupt row; |x - mean| ~= 1804 vs
        # 3*sigma ~= 1210, so the margin is wide, not knife-edge.
        rows = [(i, [1.0, float(i) * 1e-4]) for i in range(20)]
        rows.append((20, [-1.0, 0.5]))
        emb = _emb(spark, rows)
        out = embedding_outliers(emb, z=3, min_cell=8)
        flagged = [r.vec_id for r in out.collect()]
        assert flagged == [20]


class TestNearestRefVec:
    def test_bit_identical_to_relational_argmax(self, spark, sf_dir):
        from examples_scala_spark.operators.similarity import (
            cell_affinity,
            nearest_ref_vec,
            sampled_centroids,
            with_norm,
        )
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        base = with_norm(emb).select("vec_id", "v", "norm")
        cents = sampled_centroids(base, 23)
        rel = argmax_by(cell_affinity(base, cents), "vec_id", "ccos",
                        "cent_id", keep=("cent_id", "ccos"))
        vec = nearest_ref_vec(base, cents).select(
            "vec_id", "cent_id", "ccos")
        assert sorted(map(tuple, rel.collect())) == \
            sorted(map(tuple, vec.collect()))

    def test_carry_vec_roundtrips_vectors(self, spark):
        from examples_scala_spark.operators.similarity import (
            nearest_ref_vec,
            sampled_centroids,
            with_norm,
        )
        emb = _emb(spark, [(i, [float(i), 1.0]) for i in range(40)])
        base = with_norm(emb).select("vec_id", "v", "norm")
        cents = sampled_centroids(base, 23)  # ids 1, 24
        out = {r.vec_id: r for r in
               nearest_ref_vec(base, cents, carry_vec=True).collect()}
        assert len(out) == 40
        assert out[7].v == [7.0, 1.0]           # exact Arrow round-trip
        assert out[7].norm == pytest.approx((49 + 1) ** 0.5)

    def test_empty_reference_set_yields_empty(self, spark):
        from examples_scala_spark.operators.similarity import (
            nearest_ref_vec,
            with_norm,
        )
        emb = _emb(spark, [(2, [1.0, 0.0]), (4, [0.0, 1.0])])
        base = with_norm(emb).select("vec_id", "v", "norm")
        refs = base.filter("vec_id < 0").select(
            F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"),
            F.col("norm").alias("cnorm"))
        assert nearest_ref_vec(base, refs).count() == 0

    def test_bit_identical_on_adversarial_nonzero_inputs(self, spark):
        # exact ties (duplicate vectors -> identical ccos for the
        # duplicated centroid pair), negative components, and a
        # denormal-adjacent norm — the cases where argmax/tie
        # semantics could diverge between numpy and Spark. The
        # relational form is ground truth.
        from examples_scala_spark.operators.similarity import (
            cell_affinity,
            nearest_ref_vec,
            with_norm,
        )
        rows = [
            (1, [1.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0]),     # duplicate of 1
            (3, [-1.0, -2.0, 3.0]),
            (4, [0.5, 0.5, 0.5]),
            # NB 1e-300 would UNDERFLOW: norm = sqrt(1e-600) -> 0.0
            (5, [1e-150, 0.0, 0.0]),  # tiny but representable norm
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")
        base = with_norm(emb).select("vec_id", "v", "norm")
        # duplicate reference pair: guaranteed bitwise ccos tie for
        # EVERY vector -> tie-break must pick cent_id 10, never 11
        refs = spark.createDataFrame(
            [(10, [1.0, 0.0, 0.0], 1.0),
             (11, [1.0, 0.0, 0.0], 1.0),
             (13, [0.0, 1.0, 0.0], 1.0)],
            "cent_id long, cv array<double>, cnorm double")
        rel = argmax_by(cell_affinity(base, refs), "vec_id", "ccos",
                        "cent_id", keep=("cent_id", "ccos"))
        vec = nearest_ref_vec(base, refs).select(
            "vec_id", "cent_id", "ccos")
        got_rel = sorted(map(tuple, rel.collect()))
        got_vec = sorted(map(tuple, vec.collect()))
        assert got_rel == got_vec
        assert all(c == 10 for _, c, s in got_vec if s == 1.0)

    def test_zero_norm_vectors_fail_loudly(self, spark):
        # under Spark 4's default ANSI mode the relational cosine
        # THROWS DIVIDE_BY_ZERO on zero-norm vectors; a silent numpy
        # inf/NaN would let engines disagree exactly where cosine is
        # undefined, so the kernel matches the loud failure
        from examples_scala_spark.operators.similarity import (
            nearest_ref_vec,
            with_norm,
        )
        emb = spark.createDataFrame(
            [(0, [0.0, 0.0]), (1, [1.0, 0.0])],
            "vec_id long, embedding array<double>")
        base = with_norm(emb).select("vec_id", "v", "norm")
        refs = spark.createDataFrame(
            [(10, [1.0, 0.0], 1.0)],
            "cent_id long, cv array<double>, cnorm double")
        with pytest.raises(Exception, match="zero-norm|DIVIDE_BY_ZERO"):
            nearest_ref_vec(base, refs).collect()
        zrefs = spark.createDataFrame(
            [(10, [0.0, 0.0], 0.0)],
            "cent_id long, cv array<double>, cnorm double")
        with pytest.raises(ValueError, match="zero-norm reference"):
            nearest_ref_vec(base.filter("vec_id = 1"), zrefs)

    def test_refuses_unbounded_reference_collect(self, spark):
        from examples_scala_spark.operators import similarity as sim
        emb = _emb(spark, [(i, [1.0, float(i)]) for i in range(10)])
        base = sim.with_norm(emb).select("vec_id", "v", "norm")
        refs = base.select(F.col("vec_id").alias("cent_id"),
                           F.col("v").alias("cv"),
                           F.col("norm").alias("cnorm"))
        old = sim._MAX_REF_COLLECT
        sim._MAX_REF_COLLECT = 5
        try:
            with pytest.raises(ValueError, match="bounded-collect"):
                sim.nearest_ref_vec(base, refs)
        finally:
            sim._MAX_REF_COLLECT = old


class TestSemanticDedupAuto:
    def test_equals_explicit_sqrt_budget(self, spark, sf_dir):
        import math

        from examples_scala_spark.operators.similarity import (
            semantic_dedup,
            semantic_dedup_auto,
        )
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        n = emb.count()
        nlist = max(16, min(65536, int(math.floor(math.sqrt(n)))))
        auto = sorted(map(tuple, semantic_dedup_auto(emb).collect()))
        explicit = sorted(map(tuple, semantic_dedup(
            emb, max_centroids=nlist).collect()))
        assert auto == explicit
        # and the budget genuinely binds at test SF (differs from the
        # fixed-256 default's output universe only if nlist != 256)
        assert nlist != 256

    def test_min_clamp_on_tiny_corpus(self, spark):
        # 30 vectors -> floor(sqrt(30)) = 5, clamped up to min_nlist=16;
        # candidate pool (id % 23 == 1 -> ids 1, 24) is under the
        # budget, so every candidate is a centroid and output covers
        # the whole corpus
        from examples_scala_spark.operators.similarity import (
            semantic_dedup_auto,
        )
        emb = _emb(spark, [(i, [float(i % 7), 1.0]) for i in range(30)])
        out = semantic_dedup_auto(emb)
        assert out.count() == 30


class TestSemanticDedupSweep:
    def test_sweep_row_equals_single_threshold_dedup(self, spark, sf_dir):
        # the sweep's whole contract: the t=0.35 row's n_dropped must
        # equal embedding_semantic_dedup(threshold=0.35)'s drop count
        from examples_scala_spark.operators.similarity import (
            semantic_dedup,
            semantic_dedup_sweep,
        )
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        sweep = {r.threshold: (r.n_docs, r.n_dropped)
                 for r in semantic_dedup_sweep(emb).collect()}
        single = semantic_dedup(emb, threshold=0.35)
        dropped = single.filter(~F.col("kept")).count()
        total = single.count()
        assert sweep[0.35] == (total, dropped)
        # monotone: higher threshold can only drop fewer
        drops = [sweep[t][1] for t in sorted(sweep)]
        assert drops == sorted(drops, reverse=True)


class TestMixtureEpochPlan:
    def test_budget_caps_and_epochs(self, spark, sf_dir):
        from examples_scala_spark.queries import REGISTRY
        rows = REGISTRY["mixture_epoch_plan"].fn(spark, sf_dir).collect()
        assert len(rows) > 1
        budget = sum(r.n_tokens for r in rows)       # B = one corpus
        total = sum(r.alloc_tokens for r in rows)
        # exact-budget up to the per-source floor slack
        assert budget - len(rows) < total <= budget
        for r in rows:
            assert 0 <= r.alloc_tokens <= 4 * r.n_tokens
            assert r.epochs <= 4.0
            if r.capped:
                assert r.alloc_tokens == 4 * r.n_tokens
        # water-filling invariant: every capped source's ceiling sits
        # below lambda * weight, i.e. its tokens-per-weight ratio is
        # below every uncapped source's
        capped = [r.alloc_tokens / r.weight_units for r in rows
                  if r.capped]
        uncapped = [r.alloc_tokens / r.weight_units for r in rows
                    if not r.capped]
        if capped and uncapped:
            assert max(capped) <= min(uncapped) * (1 + 1e-9)


def _epoch_plan_reference(tokens: dict[str, int], max_epochs: int = 4):
    """Brute-force weighted water-fill with ceilings, independent of
    the SQL formulation: binary-search lambda over the exact rational
    grid, then floor-allocate. Mirrors the operator's integer
    contract (w = round(sqrt(n) * 1e6), B = sum(n), c = n * max_epochs,
    alloc = min(c, floor(lambda * w)))."""
    import math
    ns = dict(tokens)
    w = {s: round(math.sqrt(n) * 1_000_000) for s, n in ns.items()}
    c = {s: n * max_epochs for s, n in ns.items()}
    B = sum(ns.values())
    # lambda* solves sum(min(c_s, lam * w_s)) = B over the reals;
    # iterate the capped set to a fixed point (<= #sources rounds)
    capped: set = set()
    while True:
        denom = sum(w[s] for s in ns if s not in capped)
        num = B - sum(c[s] for s in capped)
        newly = {s for s in ns if s not in capped
                 and c[s] * denom <= w[s] * num}
        if not newly:
            break
        capped |= newly
    denom = sum(w[s] for s in ns if s not in capped)
    num = B - sum(c[s] for s in capped)
    return {s: (c[s] if s in capped else (w[s] * num) // max(denom, 1))
            for s in ns}


class TestEpochPlanAgainstReference:
    @pytest.mark.parametrize("tokens", [
        {"a": 1000},                                   # single source
        {"a": 500, "b": 500, "c": 500},                # all equal
        {"a": 10, "b": 10_000},                        # extreme skew:
        # tiny source caps at 4 epochs, surplus flows to the big one
        {"a": 7, "b": 7, "c": 9_000, "d": 12},         # several capped
        {"a": 123, "b": 456, "c": 789, "d": 1011, "e": 5},
    ])
    def test_matches_python_reference(self, spark, tmpdir, tokens):
        from examples_scala_spark.queries import REGISTRY

        # build a documents table whose per-source token counts are
        # exactly `tokens` (one doc per source, n single-char words)
        rows = [(i, " ".join(["x"] * n), "en", s, n)
                for i, (s, n) in enumerate(tokens.items())]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, "
                  "source string, n_chars long")
        df.write.mode("overwrite").parquet(f"{tmpdir}/documents.parquet")
        got = {r.source: r.alloc_tokens for r in
               REGISTRY["mixture_epoch_plan"].fn(spark, tmpdir).collect()}
        assert got == _epoch_plan_reference(tokens)


class TestDecontaminationByBenchmark:
    def test_consistent_with_per_doc_view(self, spark, sf_dir):
        # the two views aggregate the SAME scored pairs: every per-doc
        # flag's best bench must report at least one contamination,
        # and the bench-side pair count can only exceed the per-doc
        # count (a doc may hit several benches but is flagged once)
        from examples_scala_spark.queries import REGISTRY
        per_doc = REGISTRY["semantic_decontaminate"].fn(
            spark, sf_dir).collect()
        per_bench = {r.bench_id: r for r in REGISTRY[
            "decontamination_by_benchmark"].fn(spark, sf_dir).collect()}
        assert len(per_bench) > 0
        for r in per_doc:
            b = per_bench[r.bench_id]
            assert b.n_contaminated >= 1
            assert b.max_cosine >= r.cosine
        total_pairs = sum(r.n_contaminated for r in per_bench.values())
        assert total_pairs >= len(per_doc)
        clean = [r for r in per_bench.values() if r.n_contaminated == 0]
        for r in clean:
            assert r.max_cosine is None and r.worst_vec_id is None


class TestStreamEmbeddingOutlierGate:
    def test_stream_equals_batch_twin(self, spark, sf_dir):
        # gating the replayed corpus against stats frozen FROM that
        # corpus must reproduce the batch outlier set exactly
        from examples_scala_spark.queries import REGISTRY
        got = sorted(map(tuple, REGISTRY["stream_embedding_outlier_gate"]
                         .fn(spark, sf_dir).collect()))
        want = sorted(map(tuple, REGISTRY["embedding_outliers"]
                          .fn(spark, sf_dir).collect()))
        assert got == want
        assert len(got) > 0


class TestStreamSemanticDeconGate:
    def test_stream_equals_batch_twin(self, spark, sf_dir):
        # the gate's whole contract: replaying the corpus as a stream
        # through the vectorized kernel flags EXACTLY the rows the
        # batch semantic_decontaminate flags
        from examples_scala_spark.queries import REGISTRY
        got = sorted(map(tuple, REGISTRY["stream_semantic_decon_gate"]
                         .fn(spark, sf_dir).collect()))
        want = sorted(map(tuple, REGISTRY["semantic_decontaminate"]
                          .fn(spark, sf_dir).collect()))
        assert got == want
        assert len(got) > 0   # non-vacuous at test SF


class TestLmJoinsNotBroadcast:
    @pytest.mark.parametrize("name", ["softdedup_weights",
                                      "doc_bigram_logppl",
                                      "doc_rare_token_stats",
                                      "bpe_encode_doc_stats"])
    def test_no_broadcast_on_vocab_scaling_side(self, spark, sf_dir,
                                                name):
        # the LM / df / segment-vocab tables scale with the corpus
        # vocabulary — none of their scoring joins may elect a
        # BroadcastHashJoin (VERDICT r9 #1); shuffle_hash is pinned
        from examples_scala_spark.queries import REGISTRY
        df = REGISTRY[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        joins = [ln for ln in plan.splitlines() if "Join" in ln]
        gram_joins = [ln for ln in joins if "BroadcastHashJoin" in ln
                      and ("gram" in ln or "bigram" in ln
                           or "term#" in ln or "w#" in ln)]
        assert gram_joins == [], gram_joins
        assert any("ShuffledHashJoin" in ln for ln in joins), plan
