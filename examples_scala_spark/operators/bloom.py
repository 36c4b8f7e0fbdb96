"""Distributed Bloom-filter membership pruning.

The production pattern behind Spark's own runtime row-level filtering
(InjectRuntimeFilter): build a compact bit-set over the SMALL side's
join keys, broadcast it, and prune the BIG side's rows before the
shuffle/join. Exactness is restored by an explicit confirm join over
the (tiny) survivor set, so the final result is identical to the plain
join — the bloom only cuts the data volume that reaches it.

Scale shape at 100 TB:
- Build: the small side's keys expand to k probe positions JVM-side
  (one explode), then ONE distinct over positions. The driver collect
  is bounded by m bits (default 2^17 -> at most 131k ints, a 16 KiB
  bitmap after packing) regardless of how many keys were inserted —
  the filter saturates, it never grows.
- Probe: h1/h2 are derived from the already-computed 60-bit key
  JVM-side; only the bit test runs in Python, as an Arrow-batched
  vectorized pandas UDF against the broadcast numpy bitmap (no per-row
  Python, no shuffle).
- The false-positive rate with n keys is ~(1 - e^{-kn/m})^k; callers
  size m so n/m stays under ~0.1 (fp < 1e-5 at k=5). False positives
  only cost confirm-join work, never correctness; false negatives are
  impossible (tested).

Reference parity: the reference has no bloom operator — this is part
of the LLM-pipeline surface (decontamination at corpus scale, where
the benchmark shingle index is small but the corpus side is 100 TB).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import half_up
from .dedup import shingle_hashes

DEFAULT_M_BITS = 1 << 17
DEFAULT_K = 5


def _h1h2(key: F.Column, m_bits: int) -> tuple[F.Column, F.Column]:
    """Double-hashing pair from a non-negative 60-bit key.
    h2 is forced odd so the probe stride never degenerates to 0
    (m is a power of two, so odd strides cycle the full ring)."""
    h1 = F.pmod(key, F.lit(m_bits))
    h2 = F.pmod(F.shiftrightunsigned(key, 20) * 2 + 1, F.lit(m_bits))
    return h1, h2


def build_bitmap(keys: DataFrame, key_col: str = "key",
                 m_bits: int = DEFAULT_M_BITS, k: int = DEFAULT_K):
    """Build the bloom bitmap over a DataFrame of BIGINT keys and
    return it broadcast (a packed little-endian-bit numpy byte
    buffer). The collect is of DISTINCT probe positions — bounded by
    m_bits, not by |keys|."""
    spark = keys.sparkSession
    h1, h2 = _h1h2(F.col(key_col), m_bits)
    probes = keys.select(
        F.explode(F.array(*[
            F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits)) for i in range(k)
        ])).alias("pos")).distinct()
    pos = np.fromiter((r[0] for r in probes.collect()), dtype=np.int64)
    bitmap = np.zeros(m_bits // 8, dtype=np.uint8)
    if len(pos):
        np.bitwise_or.at(bitmap, pos >> 3,
                         (np.uint8(1) << (pos & 7).astype(np.uint8)))
    return spark.sparkContext.broadcast(bitmap.tobytes())


def might_contain_udf(bitmap_bc, m_bits: int = DEFAULT_M_BITS,
                      k: int = DEFAULT_K):
    """Vectorized membership probe: numpy bit tests over the broadcast
    bitmap, Arrow-batched. No false negatives by construction."""

    @F.pandas_udf("boolean")
    def might(key: pd.Series) -> pd.Series:
        bm = np.frombuffer(bitmap_bc.value, dtype=np.uint8)
        x = key.to_numpy(dtype=np.int64)
        h1 = x % m_bits
        h2 = ((x >> 20) * 2 + 1) % m_bits
        ok = np.ones(len(x), dtype=bool)
        for i in range(k):
            pos = (h1 + i * h2) % m_bits
            ok &= (bm[pos >> 3] & (np.uint8(1) << (pos & 7).astype(np.uint8))) != 0
        return pd.Series(ok)

    return might


def bloom_benchmark_overlap(docs: DataFrame, bench_docs: DataFrame,
                            n: int = 3, frac_threshold: float = 0.05,
                            m_bits: int = DEFAULT_M_BITS, k: int = DEFAULT_K,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Decontamination with a bloom prefilter: per-corpus-doc word
    n-gram overlap against a benchmark set, returning only docs with
    at least one confirmed overlap:
    (doc_id, n_shingles, n_overlap, overlap_frac, contaminated).

    Pipeline: corpus shingle hashes -> bloom probe (drops ~all
    non-overlapping shingles BEFORE any join) -> exact confirm via a
    broadcast left-semi join on the true benchmark shingle set ->
    one groupBy(doc). The result is bit-identical to the plain exact
    overlap (dedup.benchmark_overlap restricted to n_overlap > 0);
    the bloom only shrinks what the confirm join touches. At 100 TB
    the corpus side streams through map-only stages until the single
    per-doc groupBy of surviving hits.
    """

    def _sh(d: DataFrame) -> DataFrame:
        # the ONE shared shingle pipeline — the bit-identity contract
        # with dedup.benchmark_overlap requires a single definition
        return shingle_hashes(d, n, text_col, id_col)

    # r12: bench_sh feeds the bitmap build AND the confirm join — pin
    # the (benchmark-sized) distinct shingle set so the bench shingle
    # pipeline runs once per action
    bench_sh = _sh(bench_docs).select("shingle").distinct() \
        .localCheckpoint(eager=False)
    bitmap = build_bitmap(bench_sh, "shingle", m_bits=m_bits, k=k)
    probe = might_contain_udf(bitmap, m_bits=m_bits, k=k)

    # sz is a per-doc constant riding on every shingle row, so the
    # per-doc total survives the prefilter on the surviving rows
    # (max(sz)) — the shingle pipeline runs exactly ONCE, and only
    # docs with a confirmed hit ever reach the groupBy
    cand = _sh(docs).filter(probe(F.col("shingle")))
    out = (cand.join(F.broadcast(bench_sh), "shingle", "leftsemi")
           .groupBy(id_col).agg(F.max("sz").alias("n_shingles"),
                                F.count("*").alias("n_overlap")))
    return out.select(
        F.col(id_col), F.col("n_shingles").cast("bigint"),
        F.col("n_overlap").cast("bigint"),
        half_up(F.col("n_overlap"), F.col("n_shingles"))
         .alias("overlap_frac"),
        (F.col("n_overlap") / F.col("n_shingles") >= frac_threshold)
        .alias("contaminated"))
