"""Scalar function surface (SURVEY §2.11) — thin, named wrappers over
pyspark.sql.functions so every scalar the reference uses has a
discoverable, tested home. All JVM expressions (codegen'd)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col) -> Column:
    """Column name -> column, Python number -> literal, Column as is."""
    if isinstance(col, str):
        return F.col(col)
    return F.lit(col) if isinstance(col, (int, float)) else col


def fahrenheit_to_celsius_col(col) -> Column:
    """(t - 32) * 5/9 — reference chapter1/AverageSensorReadings.scala:51."""
    return (_c(col) - 32.0) * (5.0 / 9.0)


def iso_datetime(ts_col, millis: bool = False) -> Column:
    """TimestampType → ISO-8601 seconds string, the reference's output
    formatting (chapter8/TransactionalSinkExample.scala:83-85). For an
    epoch-MS BIGINT column (the sensor tables' `timestamp`), pass
    millis=True — a bare numeric column fed to date_format is either
    rejected under ANSI or coerced as epoch-SECONDS, rendering
    1704067200000 ms as a year-55xxx date (r11 review find). Assumes
    UTC session timezone (set by session.tune)."""
    c = F.timestamp_millis(_c(ts_col).cast("long")) if millis \
        else _c(ts_col)
    return F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss")


_D38 = "decimal(38,0)"


def half_up(num, den, scale: int = 6) -> Column:
    """round-half-away-from-zero(num/den, scale) as a DOUBLE, computed
    as EXACT integer arithmetic — the repo's one engine-exact rounding
    rule. num and den are exact-integer-valued columns of any sign;
    den = 0 (or NULL) yields NULL, like `/`.

    Why not round(double, 6): it is not engine-neutral when the exact
    rational terminates at a `scale`-dp half (reduced denominator
    2^7 * 5^j at 6 dp). Spark rounds the double's SHORTEST decimal
    repr (BigDecimal.valueOf), DuckDB the raw binary value, and they
    split on the last digit. An sf0.1 window landed on avg =
    2089.93/32 = 65.3103125 exactly; count-valued denominators hit the
    class routinely (precision/recall, shares, dup fractions, means of
    integer cents or nano-units). So every such site computes on the
    exact rational instead:

      q = (2*|num|*10^scale + |den|) div (2*|den|)

    then sign(num) * sign(den) * (double(q) / 10^scale). Rounding the
    magnitude and applying the sign after is what makes the rule
    half-away-from-zero (the same as round() on both engines) rather
    than half-toward-+inf, and it keeps every division on nonnegative
    operands. The sign multiplies the double, not the integer, because
    DuckDB's HUGEINT to DOUBLE cast is not correctly rounded for
    negative values above 2^53. A negative ratio that rounds to zero
    gives -0.0, identically on both engines.

    Headroom: everything runs in DECIMAL(38,0) — HUGEINT in the DuckDB
    twin, half_up_sql — so 2*|num|*10^scale must stay below 10^38
    (|num| < 5e31 at scale 6). The two engines agree bit for bit while
    q < 2^64, i.e. |num/den| < 1.8e13 at scale 6 (1.8e7 at scale 12):
    above that DuckDB's HUGEINT to DOUBLE cast is not correctly
    rounded; Spark's stays exact. Counts, cent sums and nano-unit sums
    at corpus scale are far inside both bounds. There is one DECIMAL
    path and no BIGINT fast path: a per-site choice between the two is
    how BIGINT overflow crept into corpus-scaled sites before. The
    price is BigDecimal arithmetic, about 0.5 us more per evaluation
    than a BIGINT quotient (2M-row projection, 4-core x86 host).

    Common shapes: a mean of integer cents is half_up(sum_cents,
    100 * cnt); a signed nano-unit value is half_up(units, 10**9); the
    12-dp quantisation MSE is half_up(err, n * 10**12, scale=12).

    What stays on F.round: constant denominators whose reduction
    carries fewer than `scale`+1 factors of 2 (e.g. /5, /16) can never
    tie, and transcendental values (log, exp, sqrt) have no exact
    decimal expansion, so round(double) agrees on both engines there.
    """
    n = _c(num).cast(_D38)
    d = F.nullif(_c(den).cast(_D38), F.lit(0).cast(_D38))
    a, b = F.abs(n), F.abs(d)
    n2 = a * F.lit(2 * 10 ** scale) + b
    d2 = b * F.lit(2)
    q = ((n2 - n2 % d2) / d2).cast(_D38)
    # the sign product as an integer, like DuckDB's sign(): 0 * -1
    # must give 0, not the -0.0 a double product would
    sgn = (F.signum(n) * F.signum(d)).cast("int")
    return sgn * (q.cast("double") / F.lit(float(10 ** scale)))


def half_up_sql(num: str, den: str, scale: int = 6) -> str:
    """DuckDB twin of half_up as a SQL fragment over the expressions
    num and den: the same quotient over HUGEINT, the same sign rule,
    NULL on den = 0. The oracles build every half-up quotient through
    this; none is written out by hand."""
    n = f"CAST(({num}) AS HUGEINT)"
    d = f"NULLIF(CAST(({den}) AS HUGEINT), 0)"
    q = f"((2 * abs({n}) * {10 ** scale} + abs({d})) // (2 * abs({d})))"
    return f"(sign({n}) * sign({d}) * ({q} / 1e{scale}))"
