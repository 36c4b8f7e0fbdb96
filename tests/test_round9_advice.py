"""Round-9 ADVICE pins: PII count-vs-token divergence, NULL-text
entry behavior, sign-pack capacity guards."""

from __future__ import annotations

import pytest

from examples_scala_spark.operators.similarity import (
    hamming_topk,
    sign_pack_expr,
)
from examples_scala_spark.operators.text import (
    dup_ngram_char_fraction,
    pii_redact,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestPiiCountTokenDivergence:
    def test_ip_inside_email_domain_counts_but_no_ip_token(self, spark):
        # The dotted quad is a sub-match of the email's domain: the
        # ipv4 COUNT (taken on the original text) sees it, but the
        # chained redaction consumes the whole address as <EMAIL>
        # first, so the redacted text carries no <IP> token. This
        # divergence is documented in pii_redact's docstring — the
        # test pins it so a future "fix" is a conscious choice.
        out = pii_redact(_docs(spark, [
            (1, "x u@mail.1.2.3.44.com y"),
        ])).collect()[0]
        assert out.n_emails == 1
        assert out.n_ipv4s == 1          # counted on original text
        assert out.redacted == "x <EMAIL> y"
        assert "<IP>" not in out.redacted  # != n_ipv4s occurrences

    def test_out_of_range_quads_match(self, spark):
        # naive C4-style pattern: 999.999.999.999 is matched/redacted
        # even though it is not a valid address — documented caveat
        out = pii_redact(_docs(spark, [(1, "a 999.999.999.999 b")])) \
            .collect()[0]
        assert out.n_ipv4s == 1
        assert out.redacted == "a <IP> b"


class TestNullTextEntry:
    def test_pii_redact_null_text_defined(self, spark):
        out = pii_redact(_docs(spark, [(1, None)])).collect()[0]
        assert (out.n_emails, out.n_phones, out.n_ipv4s) == (0, 0, 0)
        assert out.redacted == ""
        assert out.redacted_len == 0

    def test_dup_ngram_null_text_defined(self, spark):
        # null coalesces to '' -> split(trim('')) = [''] -> one
        # zero-length word, frac 0.0; the doc is NOT dropped
        out = dup_ngram_char_fraction(_docs(spark, [(1, None)])) \
            .collect()[0]
        assert out.n_words == 1
        assert out.word_chars == 0
        assert out.dup_ngram_chars == 0
        assert out.dup_char_frac == 0.0


class TestSignPackGuards:
    def test_sign_pack_rejects_wide_packs(self):
        with pytest.raises(AssertionError):
            sign_pack_expr("v", 0, 33)
        with pytest.raises(AssertionError):
            sign_pack_expr("v", -1, 8)
        with pytest.raises(AssertionError):
            sign_pack_expr("v", 0, 0)

    def test_hamming_topk_rejects_dim_over_64(self, spark):
        emb = spark.createDataFrame(
            [(0, [1.0] * 65)], "vec_id long, embedding array<double>")
        with pytest.raises(AssertionError):
            hamming_topk(emb, dim=65)


class TestMaxQueriesCap:
    """VERDICT r8 #2: the modulo-derived ANN query sets are hard-capped
    at max_queries via ordered-limit. The registry corpora never reach
    the 256 default, so the BINDING case is pinned here with a small
    cap: the surviving query set must be exactly the max_queries
    SMALLEST qualifying ids (deterministic TakeOrdered), for every
    capped builder."""

    def _emb(self, spark, n=30, dim=8):
        import math
        rows = [(i, [math.sin(i * 31 + d * 7) + 0.01 for d in range(dim)])
                for i in range(n)]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")

    def _qids(self, df):
        return sorted(r.query_id for r in
                      df.select("query_id").distinct().collect())

    def test_brute_force_cap_binds(self, spark):
        from examples_scala_spark.operators import similarity as sim
        emb = self._emb(spark)
        out = sim.brute_force_topk(emb, k=2, query_mod=5, max_queries=3)
        assert self._qids(out) == [0, 5, 10]

    def test_lsh_cap_binds(self, spark):
        from examples_scala_spark.operators import similarity as sim
        emb = self._emb(spark, dim=8)
        out = sim.lsh_topk(emb, k=2, query_mod=5, num_planes=2, dim=8,
                           max_queries=2)
        assert set(self._qids(out)) <= {0, 5}

    def test_multiprobe_cap_binds(self, spark):
        from examples_scala_spark.operators import similarity as sim
        emb = self._emb(spark, dim=8)
        out = sim.lsh_multiprobe_topk(emb, k=2, query_mod=5,
                                      num_planes=2, dim=8, max_queries=2)
        assert set(self._qids(out)) <= {0, 5}

    def test_hamming_cap_binds(self, spark):
        from examples_scala_spark.operators import similarity as sim
        emb = self._emb(spark, dim=8)
        out = sim.hamming_topk(emb, k=2, query_mod=5, dim=8,
                               max_queries=3)
        assert self._qids(out) == [0, 5, 10]

    def test_ivf_cap_binds_and_probes_agree(self, spark):
        from examples_scala_spark.operators import similarity as sim
        emb = self._emb(spark, n=40, dim=8)
        out = sim.ivf_topk(emb, k=2, query_mod=5, centroid_mod=7,
                           nprobe=2, max_queries=3)
        # probes are semi-joined against the capped set, so no query
        # outside the 3 smallest qualifying ids can appear
        assert set(self._qids(out)) <= {0, 5, 10}

    def test_centroid_cap_binds(self, spark):
        # sibling of the query-set cap: the id-sampled coarse
        # quantizer must keep a FIXED centroid count as the corpus
        # grows (production IVF nlist), so affinity stages stay
        # linear in corpus size
        from examples_scala_spark.operators import similarity as sim
        base = sim.with_norm(self._emb(spark, n=40, dim=8))
        cents = sim.sampled_centroids(base, centroid_mod=3,
                                      max_centroids=4)
        ids = sorted(r.cent_id for r in cents.collect())
        assert ids == [1, 4, 7, 10]


class TestSuffixDistinctReps:
    def test_parity_with_direct_sort(self, spark):
        # the distinct-representative sort (ROADMAP r9) must produce
        # span-for-span the output of the direct brute-force scan on a
        # corpus with long repeats, multi-occurrence chunks, and
        # early-finalizing members; chunk=1 takes three rounds of the
        # chunk loop
        from examples_scala_spark.operators.dedup import suffix_dup_spans
        from test_round7_ops import _brute_spans
        long_rep = "quick brown fox " * 4
        texts = [(1, "A" * 10 + long_rep + "B" * 10),
                 (2, "C" * 5 + long_rep + "D" * 25),
                 (3, long_rep + long_rep),               # self-repeat
                 (4, "E" * 12 + long_rep[:21] + "F" * 9),  # partial
                 (5, "unique text, no repeats")]
        got = sorted(
            (r.doc_id, r.span_start, r.span_len)
            for r in suffix_dup_spans(
                spark.createDataFrame(texts, "doc_id long, text string"),
                L=12, chunk=1).collect())
        assert got == _brute_spans(texts, L=12)
        assert len(got) > 0


class TestTopNgramCharFraction:
    def test_hand_computed(self, spark):
        from examples_scala_spark.operators.text import (
            top_ngram_char_fraction,
        )
        # tokens: [a, b, a, b, a, c]  word_chars = 6
        # bigrams: "a b" x2, "b a" x2, "a b" -> counts: a b:2, b a:2,
        #   a c:1 -> argmax (2, "a b") lexicographic tie-break;
        #   chars = 2 occurrences x 2 word chars / 6 = 0.666667
        # trigrams: "a b a" x2, "b a b", "b a c" -> top ("a b a", 2);
        #   2 x 3 / 6 = 1.0
        # 4-grams: all distinct -> top count 1, lexicographically
        #   smallest gram "a b a b" (4 word chars) -> 4/6 = 0.666667
        docs = spark.createDataFrame(
            [(1, "A b a B a c")], "doc_id long, text string")
        out = {(r.n): r for r in top_ngram_char_fraction(docs).collect()}
        assert out[2].top_gram == "a b" and out[2].top_count == 2
        assert out[2].top_char_frac == 0.666667
        assert out[3].top_gram == "a b a" and out[3].top_count == 2
        assert out[3].top_char_frac == 1.0
        assert out[4].top_gram == "a b a b" and out[4].top_count == 1
        assert out[4].top_char_frac == 0.666667

    def test_short_and_null_docs(self, spark):
        from examples_scala_spark.operators.text import (
            top_ngram_char_fraction,
        )
        docs = spark.createDataFrame(
            [(1, "one two three"),   # rows for n=2,3 only
             (2, "single"),          # no rows
             (3, None)],             # no rows
            "doc_id long, text string")
        out = top_ngram_char_fraction(docs).collect()
        assert sorted((r.doc_id, r.n) for r in out) == [(1, 2), (1, 3)]


class TestSemanticDedupDelta:
    def test_hand_built_batch(self, spark):
        from examples_scala_spark.operators.similarity import (
            semantic_dedup_delta,
        )
        # one cell (single centroid id=1 from history): history 1, 2;
        # batch 9 (near-dup of 1), 18 (orthogonal-ish), 27 (near-dup
        # of 9 — a WITHIN-BATCH lower id wins only if history has no
        # earlier match)
        hist = spark.createDataFrame(
            [(1, [1.0, 0.0, 0.0, 0.0]),
             (2, [0.0, 1.0, 0.0, 0.0])],
            "vec_id long, embedding array<double>")
        batch = spark.createDataFrame(
            [(9, [0.99, 0.1, 0.0, 0.0]),    # cos ~0.995 with 1
             (18, [0.0, 0.0, 1.0, 0.0]),    # no neighbor > 0.35
             (27, [0.98, 0.12, 0.0, 0.0])], # matches 1 (min id) and 9
            "vec_id long, embedding array<double>")
        out = {r.vec_id: r for r in semantic_dedup_delta(
            hist, batch, threshold=0.9, centroid_mod=2).collect()}
        assert len(out) == 3            # batch-sized output only
        assert out[9].keep_id == 1 and out[9].kept is False
        assert out[18].keep_id == 18 and out[18].kept is True
        assert out[27].keep_id == 1 and out[27].kept is False

    def test_within_batch_dup_when_history_misses(self, spark):
        from examples_scala_spark.operators.similarity import (
            semantic_dedup_delta,
        )
        hist = spark.createDataFrame(
            [(1, [0.0, 1.0, 0.0, 0.0])],
            "vec_id long, embedding array<double>")
        batch = spark.createDataFrame(
            [(9, [1.0, 0.0, 0.0, 0.0]),
             (18, [0.99, 0.1, 0.0, 0.0])],  # dup of 9, not of history
            "vec_id long, embedding array<double>")
        out = {r.vec_id: r for r in semantic_dedup_delta(
            hist, batch, threshold=0.9, centroid_mod=2).collect()}
        assert out[9].kept is True
        assert out[18].keep_id == 9 and out[18].kept is False
