"""Shared Gaussian-mixture expression fragments (Spark `F.expr` and
DuckDB oracle SQL parse the *same text*, guaranteeing identical per-row
IEEE-754 arithmetic).

Reference semantics: ``/root/reference`` ``Main.scala:98-161`` computes a
weighted density ``phi_k * N(x | mu_k, s2_k)`` — with two operator-
precedence bugs (SURVEY.md §2.3: the normalizer multiplies by sqrt(2π)
instead of dividing, and the exponent multiplies by the variance instead
of dividing).  We implement the **textbook** density (Bishop PRML §9.2)
and floor at 1e-300 instead of the reference's −∞-row filtering
(``Main.scala:112``).
"""

from __future__ import annotations

import math

# Literals here are parsed by BOTH engines (the *_fixed oracle
# texts), and DuckDB 1.0's literal parser is 1 ulp off for some
# 17-digit reprs (xmath module docstring) — the folded normalizers
# phi/sqrt(2π·s2) are exactly that shape, so render them in the
# bit-exact mantissa×2^k form.
from ema_bigdata_spark.functions.xmath import dlit_exact as dlit

#: density floor replacing the reference's −∞ filter (Main.scala:112)
DENSITY_FLOOR = 1e-300

# Fixed parameters for the *_fixed reference-surface queries
# (SURVEY.md §2.2).  Chosen to cover events.value's observed range
# [0.01, 490] (mean≈50, var≈2400) without exp() underflow dominating.
PHI = (0.5, 0.3, 0.2)
MU = (10.0, 60.0, 150.0)
SIGMA2 = (100.0, 900.0, 2500.0)
K = 3


def wdens(x: str, phi: float, mu: float, s2: float) -> str:
    """``phi * N(x | mu, s2)`` as engine-shared SQL text.

    The normalizer ``phi/sqrt(2π·s2)`` and ``-2·s2`` are folded to
    Python-side literals so both engines see one decimal constant; the
    squared deviation uses multiplication (never ``power``) so the op
    sequence is identical.
    """
    norm = phi / math.sqrt(2.0 * math.pi * s2)
    return (
        f"({dlit(norm)} * exp((({x} - {dlit(mu)}) * ({x} - {dlit(mu)}))"
        f" / {dlit(-2.0 * s2)}))"
    )


def mixture_density(
    x: str,
    phi: tuple[float, ...] = PHI,
    mu: tuple[float, ...] = MU,
    s2: tuple[float, ...] = SIGMA2,
) -> str:
    """``Σ_k phi_k·N(x|mu_k,s2_k)`` — the per-row normalizer of textbook
    EM (the reference instead normalizes by a *global* scalar,
    Main.scala:126-142; SURVEY.md §2.3 deviation #3)."""
    terms = [wdens(x, p, m, v) for p, m, v in zip(phi, mu, s2)]
    return "(" + " + ".join(terms) + ")"


def log_density(x: str, **kw) -> str:
    """``ln(max(p(x), floor))`` — the per-row log-likelihood term."""
    return f"ln(greatest({mixture_density(x, **kw)}, {dlit(DENSITY_FLOOR)}))"


def gamma_k(x: str, k: int, phi=PHI, mu=MU, s2=SIGMA2) -> str:
    """Responsibility γ_k(x) with textbook per-row normalization."""
    num = wdens(x, phi[k], mu[k], s2[k])
    den = f"greatest({mixture_density(x, phi, mu, s2)}, {dlit(DENSITY_FLOOR)})"
    return f"({num} / {den})"
