"""Round-7 additions: session/sliding window semantics, suffix-array
ExactSubstr, KLL sketch, cross-encoder rerank."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from examples_scala_spark.operators import dedup


def _ts_df(spark, rows):
    """rows: (id, epoch_seconds_float, temperature)."""
    df = spark.createDataFrame(rows, "id string, t double, temperature double")
    return df.select(
        "id", F.timestamp_micros((F.col("t") * 1_000_000).cast("long")).alias("ts"),
        "temperature")


class TestSessionWindowSemantics:
    """Pin Spark's session merge rule (the one the w_session_stats
    oracle mirrors): consecutive events with diff <= gap merge (the
    boundary diff == gap MERGES — measured, not assumed); only
    diff > gap starts a new session."""

    def test_gap_boundary_inclusive_merge(self, spark):
        gap = 10
        df = _ts_df(spark, [("a", 0.0, 1.0), ("a", 9.999999, 2.0),
                            ("a", 30.0, 3.0), ("a", 40.0, 4.0)])
        out = (df.groupBy(F.session_window("ts", f"{gap} seconds"), "id")
               .count()
               .select(F.unix_micros("session_window.start").alias("s"),
                       F.unix_micros("session_window.end").alias("e"),
                       "count")
               .orderBy("s").collect())
        # 9.999999 within 0+10 merges; 30.0 > 9.999999+10 => new
        # session; 40.0 == 30+10 boundary => MERGES (end extends to 50)
        assert [(r.s, r.e, r["count"]) for r in out] == [
            (0, 19_999_999, 2),
            (30_000_000, 50_000_000, 2),
        ]

    def test_keys_do_not_merge_across(self, spark):
        df = _ts_df(spark, [("a", 0.0, 1.0), ("b", 1.0, 2.0)])
        out = (df.groupBy(F.session_window("ts", "10 seconds"), "id")
               .count().collect())
        assert len(out) == 2

    def test_equal_timestamps_one_session(self, spark):
        df = _ts_df(spark, [("a", 5.0, 1.0), ("a", 5.0, 2.0)])
        out = (df.groupBy(F.session_window("ts", "10 seconds"), "id")
               .count().collect())
        assert len(out) == 1 and out[0]["count"] == 2


class TestSuffixDupSpans:
    """suffix_dup_spans = paper-exact ExactSubstr: variable-length
    maximal duplicated spans with exact lengths."""

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_exact_span_and_length(self, spark):
        # one shared 40-char passage inside two otherwise-different docs
        shared = "The quick brown fox jumps over the lazy!"  # 40 chars
        assert len(shared) == 40
        docs = self._docs(spark, [
            (1, "AAAA " + shared + " unique tail one................"),
            (2, "BBBBBBBB " + shared + " other ending 22222222222222"),
        ])
        out = dedup.suffix_dup_spans(docs, L=30, chunk=8)
        rows = sorted((r.doc_id, r.span_start, r.span_len)
                      for r in out.collect())
        # doc1: shared starts at 6 (1-based, after "AAAA ");
        # doc2: at 10. Both spans include the leading/trailing space
        # shared by " + shared + " -> length 42.
        assert rows == [(1, 5, 42), (2, 9, 42)]

    def test_self_repeat_within_doc(self, spark):
        # a doc repeating its own 35-char block twice, back to back
        blk = "0123456789abcdefghijklmnopqrstuvwxy"  # 35 chars
        docs = self._docs(spark, [(7, blk + blk)])
        out = dedup.suffix_dup_spans(docs, L=30, chunk=8)
        rows = sorted((r.doc_id, r.span_start, r.span_len)
                      for r in out.collect())
        # maximal span: positions 1..70 all inside the repeat
        # structure; the longest dup starting at 1 is 35 (blk appears
        # again at 36); containment filter keeps [1,35] then spans
        # whose end exceeds 36... position 2..36 give dup_len 34..,
        # kept spans must tile the doc.
        assert rows[0][0] == 7 and rows[0][1] == 1 and rows[0][2] == 35
        # every char of the second half is covered too
        covered = set()
        for _, s, ln in rows:
            covered.update(range(s, s + ln))
        assert covered == set(range(1, 71))

    def test_no_dups_empty(self, spark):
        docs = self._docs(spark, [
            (1, "a unique text that is long enough to have windows"),
            (2, "a different text also long enough for some windows"),
        ])
        assert dedup.suffix_dup_spans(docs, L=30, chunk=8).count() == 0

    def test_coverage_equals_window_hash_form(self, spark, sf_dir):
        """The union char coverage of maximal suffix spans equals the
        dup-window coverage of substring_dup_stats (every char of a
        >=L-length repeat lies in some duplicated L-window and vice
        versa) — the equivalence statement tying the paper-exact form
        to the shipped fixed-L form (VERDICT r6 #2)."""
        from examples_scala_spark.sources.tables import load_table
        docs = load_table(spark, sf_dir, "documents")
        L = 30
        spans = dedup.suffix_dup_spans(docs, L=L).collect()
        span_cov: dict[int, set[int]] = {}
        for r in spans:
            span_cov.setdefault(r.doc_id, set()).update(
                range(r.span_start, r.span_start + r.span_len))
        # dup-window coverage from the stats op's building blocks
        pos = dedup._window_hashes(docs, L, "text", "doc_id")
        from pyspark.sql import functions as FF
        dup = (pos.groupBy("g").count().filter(FF.col("count") >= 2)
               .select("g"))
        win = pos.join(dup, "g").select("doc_id", "i").collect()
        win_cov: dict[int, set[int]] = {}
        for r in win:
            win_cov.setdefault(r.doc_id, set()).update(
                range(r.i, r.i + L))
        assert span_cov == win_cov


class TestSlidingWindowSemantics:
    def test_each_event_in_size_over_slide_windows(self, spark):
        df = _ts_df(spark, [("a", 3601.5, 1.0)])
        out = (df.groupBy(F.window("ts", "1 hour", "15 minutes"), "id")
               .count()
               .select(F.col("window.start").cast("long").alias("s"))
               .orderBy("s").collect())
        # starts: floor(3601.5/900)*900 - k*900 for k in 0..3
        assert [r.s for r in out] == [900, 1800, 2700, 3600]

    def test_boundary_event_not_in_expired_window(self, spark):
        # an event at exactly t=3600 is NOT in window [0, 3600)
        df = _ts_df(spark, [("a", 3600.0, 1.0)])
        out = (df.groupBy(F.window("ts", "1 hour", "15 minutes"), "id")
               .count()
               .select(F.col("window.start").cast("long").alias("s"))
               .orderBy("s").collect())
        assert [r.s for r in out] == [900, 1800, 2700, 3600]


class TestKLL:
    """KLL sketch invariants (operators/sketches.py): exact weight
    conservation, bit-exact merge commutativity, rank-error bounds."""

    def test_weight_conservation_heavy_compaction(self):
        import numpy as np
        from examples_scala_spark.operators.sketches import (
            kll_build, kll_total_weight)
        v = np.arange(100_000, dtype=np.float64)
        lv = kll_build(v, cap=32)
        assert kll_total_weight(lv) == 100_000
        assert all(len(x) <= 32 for x in lv)

    def test_merge_commutative_bit_exact(self):
        import numpy as np
        from examples_scala_spark.operators.sketches import (
            kll_build, kll_merge)
        rng = np.random.RandomState(7)
        a = kll_build(rng.rand(10_000), cap=64)
        b = kll_build(rng.rand(7_000) * 3 - 1, cap=64)
        ab = kll_merge(a, b, cap=64)
        ba = kll_merge(b, a, cap=64)
        assert len(ab) == len(ba)
        for x, y in zip(ab, ba):
            assert (x == y).all()

    def test_rank_error_bound_sorted_adversary(self):
        import numpy as np
        from examples_scala_spark.operators.sketches import (
            kll_build, kll_quantile)
        n, cap = 50_000, 256
        v = np.arange(n, dtype=np.float64)  # sorted input
        lv = kll_build(v, cap=cap)
        for q in (0.01, 0.25, 0.5, 0.75, 0.9, 0.99):
            est = kll_quantile(lv, q)
            realized = (v <= est).mean()
            assert abs(realized - q) <= 0.02, (q, realized)

    def test_merge_matches_single_build_accuracy(self):
        import numpy as np
        from examples_scala_spark.operators.sketches import (
            kll_build, kll_merge, kll_quantile, kll_total_weight)
        rng = np.random.RandomState(11)
        a, b = rng.randn(20_000), rng.randn(30_000) + 5
        merged = kll_merge(kll_build(a, cap=128), kll_build(b, cap=128),
                           cap=128)
        assert kll_total_weight(merged) == 50_000
        both = np.concatenate([a, b])
        for q in (0.1, 0.5, 0.9):
            est = kll_quantile(merged, q)
            realized = (both <= est).mean()
            assert abs(realized - q) <= 0.02, (q, realized)


class TestDecodeRobustness:
    """ADVICE r6: decode_media must never abort the stage — wrong
    magic AND corrupt-past-the-magic payloads both fall back to the
    deterministic fake."""

    def test_malformed_payloads_fall_back(self, spark):
        import pandas as pd
        from examples_scala_spark.operators.multimodal import (
            decode_media, encode_bmp, _fake_decode)
        import numpy as np
        good = encode_bmp(np.zeros((2, 2, 3), np.uint8))
        rows = [
            (1, bytearray(good), "image/bmp", len(good)),        # real
            (2, bytearray(b"BMtrunc"), "image/bmp", 7),          # magic, truncated
            (3, bytearray(b"nonsense"), "image/bmp", 8),         # no magic
            (4, bytearray(b"RIFFxxxxWAVE"), "audio/wav", 12),    # no chunks
        ]
        media = spark.createDataFrame(
            rows, "doc_id long, media binary, mime string, n_bytes long")
        out = {r.doc_id: (r.width, r.height, r.n_frames)
               for r in decode_media(media).collect()}
        assert out[1] == (2, 2, 1)                       # real decode
        assert out[2] == _fake_decode(b"BMtrunc", "image/bmp")
        assert out[3] == _fake_decode(b"nonsense", "image/bmp")
        assert out[4] == _fake_decode(b"RIFFxxxxWAVE", "audio/wav")


def _brute_spans(texts, L=5):
    """Pure-Python reference for suffix_dup_spans (O(n^2 * len)):
    dup_len(p) by direct common-prefix scan against every other
    position, then the containment filter."""
    out = []
    for d, t in texts:
        kept, mx = [], -1
        cands = []
        for p in range(len(t) - L + 1):
            best = 0
            for d2, t2 in texts:
                for q in range(len(t2)):
                    if (d2, q) == (d, p):
                        continue
                    m = 0
                    while (p + m < len(t) and q + m < len(t2)
                           and t[p + m] == t2[q + m]):
                        m += 1
                    best = max(best, m)
            if best >= L:
                cands.append((p, best))
        for p, ln in cands:
            if p + ln > mx:
                kept.append((d, p + 1, ln))
                mx = p + ln
        out.extend(kept)
    return sorted(out)


class TestSuffixSpansProperty:
    """suffix_dup_spans vs the brute-force reference on repeat-dense
    random strings (2-letter alphabet => runs, overlapping
    self-repeats, cross-doc repeats — the adversarial regime for the
    chunked-LCP rounds; chunk=4 forces many prefix-doubling rounds)."""

    def test_brute_force_equivalence_dense(self, spark):
        import random
        rng = random.Random(42)
        for trial in range(6):
            n_docs = rng.randint(1, 3)
            texts = [(i + 1, "".join(rng.choice("ab")
                                     for _ in range(rng.randint(0, 50))))
                     for i in range(n_docs)]
            got = sorted(
                (r.doc_id, r.span_start, r.span_len)
                for r in dedup.suffix_dup_spans(
                    spark.createDataFrame(texts, "doc_id long, text string"),
                    L=5, chunk=4).collect())
            want = _brute_spans(texts)
            assert got == want, (trial, texts, got, want)

    def test_brute_force_equivalence_structured(self, spark):
        # hand-built adversarial shapes: period-1 run, period-2 run,
        # palindromic-ish overlap, shared block at different offsets
        texts = [
            (1, "aaaaaaaaaaaaaaa"),
            (2, "abababababab"),
            (3, "xxaaaaaayy"),
            (4, "zzzababababqq"),
        ]
        got = sorted(
            (r.doc_id, r.span_start, r.span_len)
            for r in dedup.suffix_dup_spans(
                spark.createDataFrame(texts, "doc_id long, text string"),
                L=5, chunk=4).collect())
        assert got == _brute_spans(texts)
