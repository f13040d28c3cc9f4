"""Cross-engine (Spark ↔ DuckDB) numeric parity helpers.

The driver's correctness gate is an **exact order-insensitive value
hash** of query output vs a DuckDB oracle.  Floating-point sums are
order-dependent, and Spark (parallel partial aggregation) and DuckDB
(row-group sequential) sum in different orders, so ``SUM(double)`` can
differ by ~1e-8·|Σ| — enough to flip a ROUND(x, 6).

Two techniques make results bit-identical instead of merely close:

1. **Fixed-point integer sums** for the money/measure columns.  Every
   numeric measure in the driver's testdata is exact 2-decimal fixed
   point (verified: l_quantity, l_extendedprice, l_discount, l_tax,
   events.value, *_acctbal, p_retailprice; o_totalprice is 4-decimal).
   ``round(x*100)`` recovers the exact integer; BIGINT sums are
   associative → identical in any order; one final double division by
   the scale is a single identical fp op on both engines.

2. **Shared expression text** for per-row double math (Gaussian
   densities etc.): the same SQL fragment is parsed by both engines, so
   each row's value is computed by the same sequence of IEEE-754 double
   ops (exp/ln differ by ≤1 ulp between libm and java.lang.Math — far
   below the ROUND(…, 6) we apply to per-row outputs).

Scale note: fixed-point BIGINT aggregation is also *faster* at 100 TB
(integer adds, no Kahan needed) — the same trick production engines use
for money types.  Overflow headroom: |x|≤1e6 scaled ×100 summed over
1e10 rows ≈ 1e18 < 2^63; beyond that, sum in DECIMAL(38,0).

Out-of-domain gate: without it a NaN/±Inf measure would HARD-ERROR the
snap (ANSI ``CAST(NaN AS BIGINT)`` → CAST_OVERFLOW on Spark,
conversion error on DuckDB) — at 100 TB one corrupt double would kill
the whole job mid-stage.  ``cents``/``sql_cents`` snap through
``TRY_CAST`` (identical semantics on both engines, measured: NULL for
NaN, ±Inf, and any magnitude whose scaled snap exceeds BIGINT), making
the declared semantics: **measures whose snap falls outside BIGINT —
non-finite or beyond the scale's ~9.2e18/scale headroom — are ignored
by the statistic** (NULL → skipped by SUM/AVG/COUNT like any NULL).
TRY_CAST beats a CASE-WHEN finite gate: no per-row branch (measured
equal-or-faster than the ungated cast), and the beyond-headroom
failure mode becomes deterministic-ignore instead of job death.
Identity for every in-domain input, so no result changes on
well-formed data.  Denominators must count the SNAP, not the raw
column (see ``avg_fixed``).  Pinned by tests/test_nonfinite_values.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dlit(v: float) -> str:
    """SQL double literal via ``repr`` — safe where SPARK alone parses
    it (BigDecimal, correctly rounded).  DuckDB 1.0's literal parser
    is 1 ulp off for some 17-digit reprs, so any literal an ORACLE
    text will parse must use ``functions.xmath.dlit_exact``
    (mantissa×2^k) instead — as gaussian.py does."""
    return f"CAST({v!r} AS DOUBLE)"


# ---- Spark side ----------------------------------------------------------


def cents(col: str | Column, scale: int = 100) -> Column:
    """Exact scaled-integer representation of a fixed-point double col
    (out-of-domain → NULL, module docstring)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * scale, 0).try_cast("long")


def sum_fixed(col: str | Column, scale: int = 100) -> Column:
    """Bit-exact SUM of a fixed-point double column (result: double)."""
    return F.sum(cents(col, scale)).cast("double") / F.lit(float(scale))


def avg_fixed(col: str | Column, scale: int = 100) -> Column:
    """Bit-exact AVG of a fixed-point double column (result: double).

    Formula text must match :func:`sql_avg_fixed` exactly:
    ``(CAST(SUM(int) AS DOUBLE) / COUNT(snap)) / scale``.  The count
    is of the SNAP itself (module docstring) so an out-of-domain row
    neither crashes the cast nor inflates the denominator — n counts
    exactly what the sum summed.
    """
    c = F.col(col) if isinstance(col, str) else col
    snap = cents(c, scale)
    return (
        F.sum(snap).cast("double") / F.count(snap)
    ) / F.lit(float(scale))


def floor_long(expr: str) -> Column:
    """``floor(expr)`` as a NULL-gated BIGINT (the non-finite gate).

    Spark's builtin ``floor(DOUBLE)`` converts to LONG *inside* the
    function with JVM d2l semantics — NaN silently becomes 0 and ±Inf
    saturates to ±Long.MAX even under ANSI (measured on 4.1.2): silent
    corruption, not the declared ignore.  This form floors in DOUBLE
    domain with an explicit negative-fraction case (``%`` keeps the
    dividend's sign, so ``y - (y % 1)`` truncates toward zero; the
    ``- 1`` supplies floor's downward step) and then ``try_cast``s,
    matching :func:`sql_floor_long` on NaN/±Inf (``Inf % 1`` is NaN,
    which propagates to NULL through the else branches) and the ±2^63
    overflow boundary (probed: 1e22/-1e22 → NULL on both).

    The shorter form ``y - ((y % 1 + 1) % 1)`` is NOT exact
    everywhere: for y ∈ (-2^-54, 0) the ``y % 1 + 1`` term rounds to
    exactly 1.0, the expression returns y itself, and the cast
    truncates to 0 while real floor is -1 (probed: -1e-17 → 0 vs
    DuckDB's -1).  This form never adds a constant to the fraction, so
    every step is exact: ``y % 1`` is exact (fmod), ``y - (y % 1)`` is
    an integer of magnitude ≤ |y| < 2^52 on the fractional branches
    (same-sign cancellation), and the ``- 1`` stays exact below 2^53;
    |y| ≥ 2^52 doubles are already integers and take the first branch.
    Pinned across the boundary battery and a 20k-sample fuzz vs DuckDB
    (tests/test_nonfinite_values.py).
    """
    y = f"({expr})"
    f = f"({y} % 1)"
    return F.expr(
        f"try_cast(CASE WHEN {f} = 0 THEN {y}"
        f" WHEN {y} < 0 THEN {y} - {f} - 1"
        f" ELSE {y} - {f} END AS BIGINT)"
    )


# ---- DuckDB side (SQL text) ---------------------------------------------


def sql_floor_long(expr: str) -> str:
    """Oracle text matching :func:`floor_long` (DuckDB's ``floor``
    stays in DOUBLE domain, so the plain TRY_CAST gate suffices)."""
    return f"TRY_CAST(floor({expr}) AS BIGINT)"


def sql_cents(col: str, scale: int = 100) -> str:
    return f"TRY_CAST(round({col} * {scale}) AS BIGINT)"


def sql_sum_fixed(col: str, scale: int = 100) -> str:
    return f"(CAST(sum({sql_cents(col, scale)}) AS DOUBLE) / {float(scale)!r})"


def sql_avg_fixed(col: str, scale: int = 100) -> str:
    return (
        f"((CAST(sum({sql_cents(col, scale)}) AS DOUBLE)"
        f" / count({sql_cents(col, scale)})) / {float(scale)!r})"
    )
