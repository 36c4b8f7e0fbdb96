"""Round-13 focused tests: the engine-exact half-up rounding rule
(functions/scalar.py: half_up and its DuckDB twin half_up_sql) that
converts the count-ratio F.round tie sites (r12 VERDICT #3 inventory),
and the guard that keeps that rule in one module.

The class under test: round(double, 6) splits between Spark
(shortest-decimal-repr half-up) and DuckDB (raw-binary half-up) when
the exact rational terminates at a 6-dp half — reduced denominator
2^7 * 5^j, which count-valued denominators hit. half_up rounds the
exact rational half away from zero with one DECIMAL(38,0) quotient
(HUGEINT in the twin), identical on both engines.
"""
import pathlib
import re
from decimal import Decimal
from fractions import Fraction

import duckdb
from pyspark.sql import functions as F

from examples_scala_spark.functions.scalar import half_up, half_up_sql

# (num, den) count-ratio cases: engineered 6-dp half ties (reduced
# denominator 2^7 * 5^j, the r12 class: 208993/3200 = 65.3103125),
# plus plain rationals, signs and edges
RATIO_CASES = [
    (208993, 3200),          # the r12 tie (Spark/DuckDB legacy split)
    (1, 128), (3, 128), (5, 2_000_000), (641, 640), (999, 6400),
    (1, 3), (2, 3), (1, 7), (123456, 789), (0, 5), (7, 1),
    (999999, 1000000), (4_599_999_999_999, 4_600_000_000_000),
    (199, 256), (1000001, 2), (1, 1),
    (-208993, 3200), (208993, -3200), (-1, 3), (0, -5), (-1, 10**7),
]

# rows the BIGINT form got wrong: numerators past its 2*num*10^6
# headroom, and a quotient above 2^53 whose double division was
# inexact even where the BIGINT products still fit
WIDE_CASES = [
    (5 * 10**12, 3), (5 * 10**12, 7), (-5 * 10**12, 7),
    (10**18, 3_000_007), (10**18, 2**40),
    (4_500_000_000_001, 3),  # q ~ 1.5e18 > 2^53, 2*num*10^6 fits BIGINT
]

# 12-dp rows (the int8-quant MSE shape: err / (n * 10^12))
SCALE12_CASES = [
    (5, 8 * 10**12), (-5, 8 * 10**12), (123456789, 7 * 10**12),
    (10**15, 3 * 10**12), (1, 3 * 10**12), (0, 10**12),
]

SIGNED_UNIT_CASES = [  # nano-units u: round6(u/1e9) ties at u = +-500 mod 1000
    1_234_567_500, -1_234_567_500, 500, -500, 1499, -1499,
    0, 1, -1, 999_999_999_999, -999_999_999_999, 3_000_000_001,
]


def _true_half_up(fr: Fraction, scale: int = 6) -> float:
    scaled = fr * 10**scale
    sign = 1 if scaled >= 0 else -1
    a = abs(scaled)
    return sign * ((a.numerator * 2 + a.denominator)
                   // (2 * a.denominator)) / float(10**scale)


def _duck(num, den, scale: int = 6):
    (v,) = duckdb.connect().execute(
        "SELECT " + half_up_sql(str(num), str(den), scale)).fetchone()
    return v


def _check_cases(spark, cases, scale: int = 6):
    df = spark.createDataFrame([(Decimal(a), Decimal(b)) for a, b in cases],
                               "a decimal(38,0), b decimal(38,0)")
    got = df.select(half_up(F.col("a"), F.col("b"), scale).alias("r")
                    ).collect()
    for (a, b), row in zip(cases, got):
        truth = _true_half_up(Fraction(a, b), scale)
        assert row.r == truth, (a, b, row.r, truth)
        assert _duck(a, b, scale) == truth, (a, b, scale)


def test_half_up_exact_and_engine_neutral(spark):
    _check_cases(spark, RATIO_CASES)


def test_half_up_beyond_bigint_headroom(spark):
    _check_cases(spark, WIDE_CASES)


def test_half_up_scale12(spark):
    _check_cases(spark, SCALE12_CASES, scale=12)


def test_half_up_fixes_the_r12_divergence(spark):
    """The legacy round(double) demonstrably splits between engines on
    the r12 tie value; the integer idiom must not."""
    con = duckdb.connect()
    (legacy_duck,) = con.execute(
        "SELECT round(208993::DOUBLE / 3200, 6)").fetchone()
    legacy_spark = spark.createDataFrame([(1,)], "i int").select(
        F.round(F.lit(208993).cast("double") / 3200, 6)).first()[0]
    assert legacy_spark != legacy_duck  # the class exists
    truth = _true_half_up(Fraction(208993, 3200))
    exact = spark.createDataFrame([(208993, 3200)], "a bigint, b bigint") \
        .select(half_up(F.col("a"), F.col("b"))).first()[0]
    assert exact == truth == legacy_spark


def test_half_up_signed_units_engine_neutral(spark):
    df = spark.createDataFrame([(u,) for u in SIGNED_UNIT_CASES],
                               "u bigint")
    got = df.select("u", half_up(F.col("u"), 10**9).alias("r")).collect()
    for row in got:
        truth = _true_half_up(Fraction(row.u, 10**9))
        assert row.r == truth, (row.u, row.r, truth)
        assert _duck(row.u, 10**9) == truth, row.u


def test_half_up_zero_sign_matches(spark):
    """A ratio that rounds to zero keeps its sign (-0.0) on both
    engines, and 0/negative is +0.0 on both: value hashes compare
    repr(), so the signed zeros must agree too."""
    df = spark.createDataFrame([(-1, 10**7), (0, -5)], "a bigint, b bigint")
    got = [r.r for r in df.select(
        half_up(F.col("a"), F.col("b")).alias("r")).collect()]
    assert [repr(v) for v in got] == ["-0.0", "0.0"]
    assert [repr(_duck(-1, 10**7)), repr(_duck(0, -5))] == ["-0.0", "0.0"]


def test_half_up_null_propagation(spark):
    df = spark.createDataFrame([(None, 5), (3, None), (3, 0)],
                               "a bigint, b bigint")
    rows = df.select(half_up(F.col("a"), F.col("b")).alias("r")).collect()
    assert all(r.r is None for r in rows)
    assert _duck(3, 0) is None
    assert _duck("NULL", 5) is None


# ------------------------------- the rounding rule lives in one module

_HAND_WRITTEN = (re.compile(r"\* 1000000 \+[^;]*?//", re.S),
                 re.compile(r"div \(2 \*"))


def _generated(scale: int) -> re.Pattern:
    """Matches exactly what half_up_sql emits, for any num/den."""
    t = re.escape(half_up_sql("\x01", "\x02", scale))
    t = (t.replace("\x01", "(?P<n>.*?)", 1).replace("\x01", "(?P=n)")
         .replace("\x02", "(?P<d>.*?)", 1).replace("\x02", "(?P=d)"))
    return re.compile(t, re.S)


def _hand_written_twins(text: str, strip_generated: bool) -> list[str]:
    if strip_generated:
        for scale in (6, 12):
            text = _generated(scale).sub("", text)
    return [m.group(0)[:80] for p in _HAND_WRITTEN for m in p.finditer(text)]


def test_guard_detects_hand_written_twin():
    hand = ("SELECT ((2 * a * 1000000 + b) // (2 * b)) / 1e6,"
            " (2 * sc * 10000 + cnt) div (2 * cnt)")
    assert len(_hand_written_twins(hand, True)) == 2
    gen = "SELECT " + half_up_sql("a", "b") + ", " \
        + half_up_sql("e", "n * 1000000000000", scale=12)
    assert _hand_written_twins(gen, True) == []


def test_rounding_rule_lives_in_one_module():
    """No REGISTRY oracle carries a hand-written half-up quotient (each
    comes from half_up_sql), and no module but functions/scalar.py
    spells the quotient out, in SQL or in a Spark expression."""
    from examples_scala_spark.queries import REGISTRY
    bad = {name: found for name, spec in REGISTRY.items()
           if (found := _hand_written_twins(spec.oracle or "", True))}
    assert bad == {}
    pkg = pathlib.Path(__file__).resolve().parents[1] / "examples_scala_spark"
    for path in sorted(pkg.rglob("*.py")):
        if path.relative_to(pkg).as_posix() == "functions/scalar.py":
            continue
        assert _hand_written_twins(path.read_text(), False) == [], path


def test_lsh_hot_bucket_guard(spark):
    """VERDICT r12 #6: a degenerate band (every doc sharing one band
    hash) produces a quadratic bucket. max_bucket_docs excludes
    oversized buckets from pair generation; pairs that also collide in
    a healthy band survive; default None is byte-identical to before."""
    from examples_scala_spark.operators.dedup import lsh_pairs_from_sigs

    n = 30
    rows = []
    for i in range(n):
        # band 0 (mh_0..3) identical for ALL docs -> one hot bucket of
        # n docs; bands 1-3 unique per doc EXCEPT docs 0/1 which also
        # share band 1 (mh_4..7) — a legitimate near-dup pair
        sig = [7, 7, 7, 7] + [100 + 10 * i + r for r in range(12)]
        if i == 1:
            sig[4:8] = [100, 101, 102, 103]  # doc 0's band 1 (mh_4..7)
        rows.append(tuple([i] + sig))
    schema = "doc_id bigint, " + ", ".join(f"mh_{j} bigint"
                                           for j in range(16))
    sig_df = spark.createDataFrame(rows, schema)

    # threshold 8/16: docs 0/1 share bands 0+1 (8 equal minima);
    # hot-bucket-only pairs share just band 0 (4 equal minima)
    unguarded = lsh_pairs_from_sigs(sig_df, threshold=0.25).collect()
    assert len(unguarded) == n * (n - 1) // 2  # the quadratic bucket

    guarded = lsh_pairs_from_sigs(sig_df, threshold=0.25,
                                  max_bucket_docs=10).collect()
    assert [(r.doc_a, r.doc_b) for r in guarded] == [(0, 1)]
    # the surviving pair's similarity is unchanged by the guard
    (full,) = [r for r in unguarded if (r.doc_a, r.doc_b) == (0, 1)]
    (kept,) = guarded
    assert kept.sig_sim == full.sig_sim

    # default None stays byte-identical
    default = lsh_pairs_from_sigs(sig_df, threshold=0.25).collect()
    assert sorted(map(tuple, default)) == sorted(map(tuple, unguarded))
