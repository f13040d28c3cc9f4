"""Cross-engine BIT-EXACT transcendental approximations.

Why: the driver's correctness gate is a bit-sensitive hash of Spark
output vs a DuckDB oracle.  ``+ - * /`` and ``sqrt`` are IEEE-754
correctly-rounded in Spark (JVM), DuckDB, and CPython — the same
inputs give the same bits on all three.  ``exp`` / ``ln`` are NOT
(each engine's libm is within 1 ulp but differently so), which is why
the EM queries (``gmm_fit``, ``q_gmm_bic``) cannot be hash-checked on
libm: parameter feedback across 15 iterations amplifies a 1-ulp
density difference into divergent fits.

This module replaces them with approximations built ONLY from exact
ops, emitted as *shared SQL text* (parsed by both engines) plus a
*mirrored Python implementation* (the identical op sequence on CPython
floats, used to fold Spark-side scalars):

- ``exp(-z)``: clamp to [0, 708], scale by 2⁻¹⁶ (exact), 4-term Taylor
  of exp(-u), then 16 iterated squarings (each an exact op).  Relative
  error ≤ ~2e-13 for z ≤ 100; the EM only needs the SAME value on all
  engines — and gets it bit-for-bit.
- ``ln(v)``: binary range reduction by exact powers of two (dividing a
  double ≥ 1 by 2^p is exact) down to r ∈ [1, 2), then the atanh
  series ln r = 2·atanh((r−1)/(r+1)) with t ≤ 1/3 (11 Horner terms,
  tail < 5e-14), plus k·ln2 with ln2 a fixed double literal.

EXPRESSION-TREE DISCIPLINE (hard-won): Catalyst's ``CollapseProject``
substitutes chained projections into one expression tree, so a
16-step squaring chain written as scalar columns ``t = t*t`` explodes
to 2¹⁶ leaf copies and a 3-reference ``CASE`` chain to 3¹⁰ — planning
hangs.  Therefore:

- per-ROW chains use nested array ``transform``s (lambdas are opaque
  to projection collapse → tree size is LINEAR in chain depth), or on
  Spark 4 one CTE per step (:func:`exp_neg_stages`: its
  ``CollapseProject`` keeps a step whose column the next reads twice);
- the ln range reduction uses the 2-reference spelling
  ``w/(CASE WHEN w >= p THEN p ELSE 1.0 END)`` (÷1.0 is exact), and is
  only ever applied to 1-row scalar CTEs (DuckDB) or Python floats
  (Spark side), never per data row.

LITERAL DISCIPLINE (also hard-won): DuckDB 1.0's double-literal
parser is NOT correctly rounded — some 17-digit ``repr`` strings
(measured: 1/11, 1/53) parse 1 ulp off, while its arithmetic and
parameter binding are exact.  Every literal emitted into SHARED text
therefore uses :func:`dlit_exact` — (integer mantissa) × 2^k built
from integer literals ≤ 2⁵³ and exact power-of-two divisions, which
parses bit-exact on any IEEE engine.  Plain ``repr`` literals
(:func:`dlit`) are safe only where Spark alone parses them (its
BigDecimal parser is correctly rounded).  Cross-engine identity is
property-tested over dense AND randomized grids in
``tests/test_properties.py`` (Spark ≡ DuckDB ≡ Python, compared by
``struct.pack`` bits).

No reference counterpart (``/root/reference`` ``Main.scala`` uses
Scala's ``math.exp`` — single-engine, never hash-checked).
"""

from __future__ import annotations

#: repr'd double constants (identical parse in Spark, DuckDB, Python)
TWO_PI = 6.283185307179586
LN2 = 0.6931471805599453
EXP_CLAMP = 708.0
INV_2_16 = 1.52587890625e-05  # 2**-16, exact
#: Taylor coefficients of exp(-u): 1 - u + u²/2 - u³/6 + u⁴/24
_EXP_C3 = 0.16666666666666666  # repr(1/6)
_EXP_C4 = 0.041666666666666664  # repr(1/24)
#: atanh Horner coefficients 1/3 … 1/23 (t ≤ 1/3 ⇒ tail < 5e-14)
ATANH_C = tuple(1.0 / float(2 * m + 1) for m in range(1, 12))
#: range-reduction powers: dividing by 2^p is EXACT for w ≥ 1
_LN_POWS = (512, 256, 128, 64, 32, 16, 8, 4, 2, 1)


# repr-literal helper lives in functions/parity.py (one copy); safe
# only where Spark alone parses it — see its docstring and dlit_exact
from ema_bigdata_spark.functions.parity import dlit  # noqa: F401,E402


def dlit_exact(v: float) -> str:
    """Double literal that parses BIT-EXACT on any IEEE engine: render
    v as (integer mantissa) × 2^k using only integer literals ≤ 2⁵³
    (exact in every parser) and divisions/multiplications by exact
    power-of-two doubles (each op exact, final correctly-rounded step
    lands on the representable v itself).  Immune to the DuckDB 1.0
    literal-parser ulp bug."""
    import math

    if v != v or v in (float("inf"), float("-inf")):
        raise ValueError(f"non-finite literal: {v}")
    if v == 0.0:
        # IEEE: 0.0 - 0.0 = +0.0, so negative zero needs a division
        if math.copysign(1.0, v) < 0:
            return "(CAST(0 AS DOUBLE) / CAST(-1 AS DOUBLE))"
        return "CAST(0 AS DOUBLE)"
    neg = v < 0
    m, e = math.frexp(abs(v))  # m ∈ [0.5, 1)
    mant = int(m * (1 << 53))  # exact 53-bit integer
    ex = e - 53
    expr = f"CAST({mant} AS DOUBLE)"
    while ex > 0:
        k = min(ex, 62)
        expr = f"({expr} * CAST({1 << k} AS DOUBLE))"
        ex -= k
    while ex < 0:
        k = min(-ex, 62)
        expr = f"({expr} / CAST({1 << k} AS DOUBLE))"
        ex += k
    return f"(0.0 - {expr})" if neg else expr


# ---- Python mirrors (op-for-op identical to the SQL text) ---------------


def xexp_neg(z: float) -> float:
    """exp(-z) for z ≥ 0 via exact-op Taylor + 16 squarings."""
    u = min(z, EXP_CLAMP) * INV_2_16
    t = 1.0 + u * (-1.0 + u * (0.5 + u * (-_EXP_C3 + u * _EXP_C4)))
    for _ in range(16):
        t = t * t
    return t


def xexp_neg_np(z):
    """:func:`xexp_neg` over a float64 array, op for op.  The clamp is
    ``np.fmin``, the SQL ``least``: a NaN argument clamps to 708 as it
    does on Spark and DuckDB, which order NaN above every double."""
    import numpy as np

    u = np.fmin(z, EXP_CLAMP) * INV_2_16
    t = 1.0 + u * (-1.0 + u * (0.5 + u * (-_EXP_C3 + u * _EXP_C4)))
    for _ in range(16):
        t = t * t
    return t


def xln(v: float) -> float:
    """ln(v) for v > 0 via exact-op range reduction + atanh series."""
    if v >= 1.0:
        w, sgn = v, 1.0
    else:
        w, sgn = 1.0 / v, -1.0
    k = 0.0
    for p in _LN_POWS:
        pw = float(2**p)
        k = k + (float(p) if w >= pw else 0.0)
        w = w / (pw if w >= pw else 1.0)
    t = (w - 1.0) / (w + 1.0)
    t2 = t * t
    s = ATANH_C[-1]
    for c in reversed(ATANH_C[:-1]):
        s = c + t2 * s
    lnr = 2.0 * (t * (1.0 + t2 * s))
    return sgn * (k * LN2 + lnr)


# ---- dialect helpers ----------------------------------------------------


def arr(items: list[str], dialect: str) -> str:
    """Array constructor."""
    body = ", ".join(items)
    return f"array({body})" if dialect == "spark" else f"[{body}]"


def ix(arr_expr: str, j: int, dialect: str) -> str:
    """1-based element extraction."""
    if dialect == "spark":
        return f"element_at({arr_expr}, {j})"
    return f"{arr_expr}[{j}]"


def _lt(arr_expr: str, var: str, body: str, dialect: str) -> str:
    """Elementwise lambda map (``transform`` / ``list_transform``)."""
    fn = "transform" if dialect == "spark" else "list_transform"
    return f"{fn}({arr_expr}, {var} -> {body})"


def _exp_taylor(var: str) -> str:
    """The clamped, 2⁻¹⁶-scaled Taylor term of ``xexp_neg(var)``."""
    u = f"(least({var}, {dlit_exact(EXP_CLAMP)}) * {dlit_exact(INV_2_16)})"
    return (
        f"(1.0 + {u} * (-1.0 + {u} * (0.5 + {u} *"
        f" (-{dlit_exact(_EXP_C3)} + {u} * {dlit_exact(_EXP_C4)}))))"
    )


def exp_neg_arr(z_arr_expr: str, dialect: str, var: str = "zz") -> str:
    """Elementwise ``xexp_neg`` over a DOUBLE array — one expression of
    17 nested ``transform``s, LINEAR tree size (see module docstring).
    Inputs must already be non-negative; the 708 clamp is applied
    here, mirroring :func:`xexp_neg` exactly."""
    out = _lt(z_arr_expr, var, _exp_taylor(var), dialect)
    for _ in range(16):
        out = _lt(out, var, f"({var} * {var})", dialect)
    return out


def exp_neg_stages(zs: list[str], outs: list[str]
                   ) -> list[list[tuple[str, str]]]:
    """Spark's per-column :func:`exp_neg_arr`: the Taylor stage and the
    16 squaring stages as projection lists ``(column, expr)``, column
    ``outs[i]`` holding ``xexp_neg(zs[i])`` after the last stage — the
    same IEEE ops in the same order, so the same bits.  Chain them one
    CTE per stage: Spark 4's ``CollapseProject`` does not merge a
    projection whose non-cheap column the next one reads twice, so the
    plan stays linear, and whole-stage codegen runs what 17 interpreted
    ``transform``s ran (1.73 M rows, K=3: 0.2 s instead of 1.9 s)."""
    stages = [[(o, _exp_taylor(z)) for z, o in zip(zs, outs)]]
    return stages + [[(o, f"({o} * {o})") for o in outs]] * 16


def sql_xln_scalar(v_expr: str, tag: str) -> list[tuple[str, str]]:
    """Projection steps computing ``xln(v_expr)`` with the blowup-safe
    2-reference spelling; returns ``[(col, expr), ...]`` whose last
    column ``{tag}_v`` holds the result.  ONLY for 1-row scalar CTEs —
    never chain this per data row (tree is ~2¹⁰ after collapse)."""
    steps = [
        (f"{tag}_w0",
         f"(CASE WHEN {v_expr} >= 1.0 THEN {v_expr}"
         f" ELSE 1.0 / {v_expr} END)"),
        (f"{tag}_sg",
         f"(CASE WHEN {v_expr} >= 1.0 THEN 1.0 ELSE -1.0 END)"),
        (f"{tag}_k0", "0.0"),
    ]
    prev_w, prev_k = f"{tag}_w0", f"{tag}_k0"
    for m, p in enumerate(_LN_POWS, start=1):
        pw = dlit_exact(float(2**p))
        steps.append(
            (f"{tag}_k{m}",
             f"({prev_k} + CASE WHEN {prev_w} >= {pw}"
             f" THEN {dlit_exact(float(p))} ELSE 0.0 END)")
        )
        steps.append(
            (f"{tag}_w{m}",
             f"({prev_w} / (CASE WHEN {prev_w} >= {pw}"
             f" THEN {pw} ELSE 1.0 END))")
        )
        prev_w, prev_k = f"{tag}_w{m}", f"{tag}_k{m}"
    steps.append((f"{tag}_t", f"(({prev_w} - 1.0) / ({prev_w} + 1.0))"))
    steps.append((f"{tag}_t2", f"({tag}_t * {tag}_t)"))
    horner = dlit_exact(ATANH_C[-1])
    for c in reversed(ATANH_C[:-1]):
        horner = f"({dlit_exact(c)} + {tag}_t2 * {horner})"
    steps.append(
        (f"{tag}_lr",
         f"(2.0 * ({tag}_t * (1.0 + {tag}_t2 * {horner})))")
    )
    steps.append(
        (f"{tag}_v", f"({tag}_sg * ({prev_k} * {dlit_exact(LN2)} + {tag}_lr))")
    )
    return steps


def atanh_ln_series(s_expr: str, tag: str, terms: int = 26
                    ) -> list[tuple[str, str]]:
    """Projection steps for ``ln(s)`` with s ∈ [1, 4] — NO range
    reduction (t = (s−1)/(s+1) ≤ 0.6; ``terms`` Horner terms give tail
    < 1e-13).  Safe per-row: t2 is a small tree referenced linearly.
    Mirrored by :func:`py_atanh_ln`."""
    coefs = tuple(1.0 / float(2 * m + 1) for m in range(1, terms + 1))
    steps = [
        (f"{tag}_t", f"(({s_expr} - 1.0) / ({s_expr} + 1.0))"),
        (f"{tag}_t2", f"({tag}_t * {tag}_t)"),
    ]
    horner = dlit_exact(coefs[-1])
    for c in reversed(coefs[:-1]):
        horner = f"({dlit_exact(c)} + {tag}_t2 * {horner})"
    steps.append(
        (f"{tag}_v",
         f"(2.0 * ({tag}_t * (1.0 + {tag}_t2 * {horner})))")
    )
    return steps


def py_atanh_ln(s, terms: int = 26):
    """Python mirror of :func:`atanh_ln_series`, op for op; ``s`` is a
    float or a float64 array."""
    coefs = tuple(1.0 / float(2 * m + 1) for m in range(1, terms + 1))
    t = (s - 1.0) / (s + 1.0)
    t2 = t * t
    acc = coefs[-1]
    for c in reversed(coefs[:-1]):
        acc = c + t2 * acc
    return 2.0 * (t * (1.0 + t2 * acc))


def chain_sql(src: str, base_cols: list[str],
              stages: list[list[tuple[str, str]]]) -> str:
    """Nest projection stages over ``src`` as subselects: each stage's
    expressions may reference columns of all earlier stages.  Returns a
    ``(SELECT ... FROM (...))`` text valid in both dialects."""
    inner = src
    cols = list(base_cols)
    for stage in stages:
        select = ", ".join(cols + [f"{e} AS {n}" for n, e in stage])
        inner = f"(SELECT {select} FROM {inner})"
        cols += [n for n, _ in stage]
    return inner
