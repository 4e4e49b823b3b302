"""Order-stable floating aggregates: exact fixed-point money sums.

Double addition is not associative, so `sum(double)` depends on
partition/merge order — across two engines (or two cluster runs) the
low bits differ and a `round(x, 4)` boundary can flip. Money columns
sit on a decimal grid (2 decimals, products at 4), so the graded
aggregates scale each value to an integer per row and sum it as a
LONG: exact, order-free, and whole-stage-codegen fast (no decimal
accumulator). Both engines then produce bit-identical aggregates
regardless of plan shape — which also makes results reproducible
run-to-run at 100 TB, where partial-agg merge order is never stable.

The helpers build Spark SQL text and return one ``F.expr`` Column, so
an aggregate costs one py4j call to build instead of one per Column
node. The per-row scale (:func:`sql_to_fixed`) is two truncating
casts: no per-row ``round()``, which on a double goes through
``java.math.BigDecimal``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sql_to_fixed(e: str, scale: int) -> str:
    """``e * scale`` rounded to BIGINT, half away from zero on the
    binary value: exactly what Spark's ``round(e * scale)`` returns (it
    rounds the shortest decimal repr HALF_UP, and at 0 decimals a repr
    ending in .5 is an exact binary tie), at the cost of two truncating
    casts.

    With ``x = e * scale``, ``trunc(2x) - trunc(x)`` is ``trunc(x)``
    plus ±1 exactly when the fraction of ``x`` is at least one half:
    ``2x = 2·trunc(x) + 2·frac`` with both terms of one sign. Doubling
    is exact in binary floating point, and ``e * 2·scale`` rounds to
    exactly ``2·(e * scale)``, so the tie test sees the true fraction.
    ``floor(x + 0.5)`` would not do: the sum rounds, which gets
    0.49999999999999994 and odd values ≥ 2⁵² wrong. Under ANSI (the
    default) NaN and ``|x| ≥ 2⁶²`` raise CAST_OVERFLOW, as ``round``
    then ``cast`` does for NaN and ``|x| ≥ 2⁶³``."""
    return f"(CAST(({e}) * {2 * scale} AS BIGINT) - CAST(({e}) * {scale} AS BIGINT))"


def to_fixed(e: str, scale: int) -> Column:
    """Per-row Column of :func:`sql_to_fixed` (integer cents at 100)."""
    return F.expr(sql_to_fixed(e, scale))


def fixed_sum(e: str, scale: int, digits: int) -> Column:
    """``sum(e)`` over grid values, rounded to ``digits`` decimals.

    Each value scales to a long (:func:`sql_to_fixed`) and the longs
    sum exactly. Rounding the exact sum to ``digits`` is integer
    arithmetic, half away from zero, when the scale is finer than
    ``digits`` (a scale-10⁴ sum to cents); otherwise the sum already
    sits on the ``digits`` grid and one division returns it. No double
    tie is left for two engines to break differently. Overflow
    headroom: 2^63 / (1e9-cent rows) ≈ 9e9 rows per group at scale
    10⁴."""
    s = f"sum({sql_to_fixed(e, scale)})"
    unit = 10**digits
    if scale <= unit:
        return F.expr(f"CAST({s} AS DOUBLE) / {scale}")
    step = scale // unit
    # DIV truncates toward zero, so adding half a step away from zero
    # first rounds half away from zero
    half = f"CASE WHEN {s} < 0 THEN {-(step // 2)} ELSE {step // 2} END"
    return F.expr(f"CAST(({s} + {half}) DIV {step} AS DOUBLE) / {unit}")


def fixed_avg(e: str, scale: int, digits: int) -> Column:
    """Mean of the non-null grid values: :func:`fixed_mean` of the exact
    long sum over the non-null count."""
    return fixed_mean(f"sum({sql_to_fixed(e, scale)})", scale, f"count({e})", digits)


def fixed_mean(s: str, scale: int, n: str, digits: int) -> Column:
    """``s / scale / n`` for an exact long sum ``s`` (SQL text) of
    values scaled by ``scale``, then :func:`stable_round`'s nudged round
    to ``digits``: a quotient is not on a grid, so it has no exact
    integer rounding."""
    return F.expr(f"round(CAST({s} AS DOUBLE) / {scale} / {n} + {EPS}, {digits})")


# Rounding a double is engine-divergent ON EXACT TIES: Spark's round()
# goes through BigDecimal.valueOf (the double's shortest decimal repr —
# "70.47625" reads as a tie and rounds up) while DuckDB rounds the
# binary value (70.476249999999993… rounds down). A +5e-10 nudge
# applied in BOTH engines moves the decision point off .5; double
# noise (~1e-13 at these magnitudes) can't cross the margin, so both
# engines always agree. Valid for round scales ≤ 8 and magnitudes
# where 5e-10 exceeds half an ulp (below 2²² ≈ 4·10⁶); exact sums
# round in integer arithmetic instead (fixed_sum).
EPS = 5e-10


def stable_round(c: Column, scale: int) -> Column:
    return F.round(c + F.lit(EPS), scale)
