"""EM for a 1-D Gaussian Mixture Model — the reference's core algorithm
(``/root/reference`` ``Main.scala:59-92``), rebuilt Spark-first.

Reference job structure: per EM iteration a global-denominator scan, a
persisted N×K responsibilities RDD, then **5 jobs per component** plus a
log-likelihood job — 5K+2 full passes (Main.scala:72-89; SURVEY.md §3.3).

Every per-row quantity of 1-D EM depends on the row ONLY through the
scalar ``x``, so the sufficient statistics over N rows equal the same
statistics over the **value histogram** (distinct x, count), whose size
is bounded by the value DOMAIN, not by N.  :func:`gmm_fit` therefore
runs ONE distributed ``groupBy(x).count()`` pass (map-side partial agg:
shuffle volume = distinct values per partition, not rows — at 100 TB
the only full scan of the fit), then EM over the histogram with the
engine of :mod:`ema_bigdata_spark.gmm_parity`, the same math as the
registered ``gmm_fit`` and ``q_gmm_bic``: in numpy on the driver when
the histogram has at most ``MAX_DRIVER_BINS`` bins (~60 k bins for
2-decimal data in [0, 600] whatever the row count; no job after the
histogram probe), else ONE Spark statement per iteration over the
checkpointed histogram (SURVEY.md §4.3).  Either way the cluster does
one pass total instead of the reference's 5K+2 passes *per iteration*.

Textbook math throughout (SURVEY.md §2.3 records the reference's two
operator-precedence bugs and its global-γ-denominator deviation; we do
not reproduce them).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: reference converged when Δ lnP ≤ 80 absolute (Main.scala:89) — a
#: dataset-size-dependent threshold; ours is configurable.
DEFAULT_TOL = 1e-3
DEFAULT_MAX_ITER = 30

#: histogram-size cutover between the driver (numpy) and Spark
#: executors of the EM engine (``gmm_parity``), read at call time.
#: 1 M bins ≈ 16 MB collected — still a "tiny aggregate" in SURVEY
#: §4.3's sense; beyond it, iterate cluster-side.
MAX_DRIVER_BINS = 1 << 20


@dataclass
class GMMModel:
    weights: list[float]
    means: list[float]
    variances: list[float]
    log_likelihood: float
    n_iter: int
    #: per-iteration lnP trace (the engine's snapped lnL at the params
    #: each iteration starts from): a SECOND deterministic output
    #: beyond the final parameters.  EM guarantees lnP is
    #: non-decreasing, so the trace is a machine-checkable numeric
    #: contract (tests/test_properties.py::TestGMMNumericContract) — a
    #: math bug that still converges to *some* fixed point breaks the
    #: trace even when double-run determinism can't see it.
    lnp_trace: list[float] = field(default_factory=list)


def gmm_fit(
    df: DataFrame,
    x: str = "value",
    k: int = 3,
    tol: float = DEFAULT_TOL,
    max_iter: int = DEFAULT_MAX_ITER,
) -> GMMModel:
    """Fit a K-component 1-D GMM with EM.

    One distributed histogram pass over ``df[x]`` (values outside the
    fit domain |x| ≤ 1e6 are excluded like NULLs), then up to
    ``max_iter`` iterations over the histogram (module docstring).
    Data whose largest |x| is below 2^8 is fitted lifted by an exact
    power of two, so the engine's absolute snap steps stay small
    against its variances; everything returns in the data's units.
    Stops once ``|ΔlnP| < tol`` or an iteration returns parameters the
    fit already reached (a fixed point or a cycle); ``log_likelihood``
    is the last trace entry."""
    from ema_bigdata_spark import gmm_parity

    values = df.select(F.col(x).cast("double").alias("value"))
    hist = df.sparkSession.sql(gmm_parity.hist_sql("{events}"), events=values)
    fits, traces = gmm_parity.run_em(hist, (k,), max_iter, tol=tol,
                                     scale_free=True)
    _, P, _ = fits[k]
    trace = traces[k]
    J = range(1, k + 1)
    return GMMModel(
        [P[f"phi{j}"] for j in J],
        [P[f"mu{j}"] for j in J],
        [P[f"s2{j}"] for j in J],
        trace[-1] if trace else None,
        len(trace),
        trace,
    )
