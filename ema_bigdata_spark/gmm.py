"""EM for a 1-D Gaussian Mixture Model — the reference's core algorithm
(``/root/reference`` ``Main.scala:59-92``), rebuilt Spark-first.

Reference job structure: per EM iteration a global-denominator scan, a
persisted N×K responsibilities RDD, then **5 jobs per component** plus a
log-likelihood job — 5K+2 full passes (Main.scala:72-89; SURVEY.md §3.3).

This rebuild exploits a structural fact of 1-D EM: every per-row
quantity depends on the row ONLY through the scalar ``x``, so the exact
sufficient statistics over N rows equal the same statistics over the
**value histogram** (distinct x, count) — and a histogram's cardinality
is bounded by the value DOMAIN, not by N.  The engine therefore runs

1. ONE distributed ``groupBy(x).count()`` pass (map-side partial agg:
   shuffle volume = distinct-values-per-partition, not rows — at 100 TB
   this is the only full scan the whole fit performs);
2. EM iterations over the histogram: collected to the driver and
   vectorized in numpy when bins ≤ ``MAX_DRIVER_BINS`` (the histogram
   IS a tiny aggregate — ~60 k bins for 2-decimal data in [0, 600]
   regardless of row count), else a frequency-weighted single-job
   aggregation per iteration over the cached histogram (SURVEY.md
   §4.3's 3K+2-scalar shape, just over ``bins ≪ N`` rows).

Either way the cluster does one pass total instead of the reference's
5K+2 passes *per iteration*.

Textbook math throughout (SURVEY.md §2.3 records the reference's two
operator-precedence bugs and its global-γ-denominator deviation; we do
not reproduce them).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ema_bigdata_spark.functions.gaussian import DENSITY_FLOOR, wdens

#: reference converged when Δ lnP ≤ 80 absolute (Main.scala:89) — a
#: dataset-size-dependent threshold; ours is configurable.
DEFAULT_TOL = 1e-3
DEFAULT_MAX_ITER = 30

#: histogram-size cutover between the driver (numpy) and distributed
#: iteration paths, for this module's EM and for the parity EM
#: (``gmm_parity.parity_em_spark_multi``); both read it at call time.
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
    #: per-iteration lnP trace: a SECOND
    #: deterministic output beyond the final parameters.  EM guarantees
    #: lnP is non-decreasing, so the trace is a machine-checkable
    #: numeric contract (tests/test_properties.py
    #: ::TestGMMNumericContract) — a math bug that still converges to
    #: *some* fixed point breaks the trace even when double-run
    #: determinism can't see it.
    lnp_trace: list[float] = field(default_factory=list)


def _weighted_percentiles(vals, cnts, probs) -> list[float]:
    """Spark ``percentile(col, p, freq)`` semantics: linear interpolation
    at position p·(N−1) in the expanded sorted multiset."""
    import numpy as np

    cum = np.cumsum(cnts)  # vals already sorted ascending
    n = int(cum[-1])
    out = []
    for p in probs:
        pos = p * (n - 1)
        lo, hi = int(math.floor(pos)), int(math.ceil(pos))
        frac = pos - lo
        vlo = float(vals[np.searchsorted(cum, lo + 1)])
        vhi = float(vals[np.searchsorted(cum, hi + 1)])
        out.append(vlo * (1.0 - frac) + vhi * frac)
    return out


def _driver_em(vals, cnts, k: int, tol: float, max_iter: int) -> GMMModel:
    """Vectorized EM over the collected (value, count) histogram.

    Deterministic and partitioning-independent by construction: the
    histogram's keys/counts are exact, the arrays are sorted by value,
    and every numpy reduction runs over the same arrays regardless of
    how the cluster partitioned the scan."""
    import numpy as np

    x = vals
    c = cnts.astype(np.float64)
    n = float(c.sum())
    # init (replaces unseeded takeSample, Main.scala:95): means = exact
    # spread quantiles (j+1)/(K+1); variance = global population
    # variance (Main.scala:67); weights uniform 1/K (Main.scala:68)
    mean = float((x * c).sum() / n)
    var = float((((x - mean) ** 2) * c).sum() / n)
    mu = np.array(
        _weighted_percentiles(x, cnts, [(j + 1) / (k + 1) for j in range(k)])
    )
    s2 = np.full(k, max(var, 1e-12))
    phi = np.full(k, 1.0 / k)

    lnp_prev = None
    trace: list[float] = []
    it = 0
    for it in range(1, max_iter + 1):
        norm = phi / np.sqrt(2.0 * math.pi * s2)
        w = norm[None, :] * np.exp(
            (x[:, None] - mu[None, :]) ** 2 / (-2.0 * s2[None, :])
        )
        rowsum = np.maximum(w.sum(axis=1), DENSITY_FLOOR)
        lnp = float((np.log(rowsum) * c).sum())
        trace.append(lnp)
        g = (w / rowsum[:, None]) * c[:, None]  # count-weighted γ
        nj = np.maximum(g.sum(axis=0), 1e-300)
        sx = (g * x[:, None]).sum(axis=0)
        sxx = (g * (x * x)[:, None]).sum(axis=0)
        phi = nj / n
        mu = sx / nj
        s2 = np.maximum(sxx / nj - mu * mu, 1e-12)
        if lnp_prev is not None and abs(lnp - lnp_prev) <= tol:
            lnp_prev = lnp
            break
        lnp_prev = lnp
    return GMMModel(
        [float(v) for v in phi],
        [float(v) for v in mu],
        [float(v) for v in s2],
        lnp_prev,
        it,
        trace,
    )


def _init_params_hist(
    hist: DataFrame, k: int
) -> tuple[list, list, list, int, int]:
    """Distributed-path init over the histogram; PARTITIONING-INDEPENDENT
    (exact frequency-weighted `percentile` over ×100 fixed-point integers
    and exact DECIMAL moment sums — approxQuantile's sketch merges and
    var_pop's double sums both vary with partition count).  Also returns
    the bin count (free — same aggregate job), which sets the width of
    the per-iteration int64 limb sums (``_limb_shifts``)."""
    probs = ", ".join(str((j + 1) / (k + 1)) for j in range(k))
    xi = "CAST(round(_x * 100) AS BIGINT)"
    stats = hist.agg(
        F.sum("cnt").alias("n"),
        F.count(F.lit(1)).alias("nbins"),
        F.sum(F.expr(f"CAST({xi} AS DECIMAL(38,0)) * cnt")).alias("s1"),
        F.sum(F.expr(f"CAST({xi} AS DECIMAL(38,0)) * {xi} * cnt")).alias(
            "s2"
        ),
        F.expr(f"percentile({xi}, array({probs}), cnt)").alias("qs"),
    ).collect()[0]
    n = int(stats.n)
    mean = float(stats.s1) / n / 100.0
    var = float(stats.s2) / n / 10000.0 - mean * mean
    means = [float(q) / 100.0 for q in stats.qs]
    return [1.0 / k] * k, means, [var] * k, n, int(stats.nbins)


def _limb_shifts(nbins: int) -> list[int]:
    """Bit offsets of the int64 limbs ``_em_stats`` splits each
    quantized term into: the multiples of ``w = 62 − bit_length(nbins)``
    below 126.  Each limb is < 2^w (the top one covers bits up to 126,
    the range of the quantized terms) and ``nbins < 2^bit_length``, so a
    limb's sum over all bins stays below 2^62 and cannot overflow int64
    at any bin count.  2 M bins gives w = 41, four limbs."""
    w = 62 - nbins.bit_length()
    if w < 1:
        raise ValueError(f"histogram too wide for int64 limb sums: {nbins}")
    return list(range(0, 126, w))


def _em_stats(resp: DataFrame, names: dict[str, str], nbins: int) -> dict:
    """Exact fixed-point sums of the per-bin terms ``names`` (name →
    SQL expression over ``resp``), in ONE job: name → Python int, the
    sum of the terms in units of 1e-12.  Integer sums are associative,
    so the result is identical under ANY partitioning (double sums are
    order-dependent).

    Each term is quantized to ``sg · a`` with ``a = floor(|t|·1e12 +
    0.5)`` — round-half-up away from zero, the snap discipline of
    gmm_parity's ``_snap``.  ``u − u % 1.0`` is plain double arithmetic
    and EXACT (IEEE fmod never rounds; trunc == floor on the
    non-negative ``u``), where ``round()`` routes every value through
    BigDecimal.  ``a`` stays a DOUBLE: ``floor()``'s BIGINT return would
    ANSI-overflow for terms beyond 2^63·1e-12, which in-domain
    sufficient statistics legitimately exceed.  On ties this is not
    always BigDecimal HALF_UP: the ``+ 0.5`` is itself a rounded double
    add, so a scaled term whose fraction lies within an ulp of .5 (or
    any term ≥ 2^52, where the add rounds to even) can land one 1e-12
    quantum away.

    ``a`` (< 2^126) is split into BIGINT limbs at ``_limb_shifts(nbins)``,
    summed with plain codegen'd long adds, and recombined in Python
    ints.  A double has 53 significant bits, and floor/mod/divide of a
    non-negative double by a power of two is exact (the remainder
    reuses a suffix of the significand).  That is why the split runs on
    the NON-NEGATIVE ``a`` with the sign applied to each finished limb:
    a floor-mod of a negative value yields ``2^s − |d|``, which can need
    up to ``s`` significand bits and silently rounds.  Each limb is
    computed FLAT from ``a`` (``a % 2^hi / 2^lo``) rather than by
    chained remainders, which measured 2× slower (every level re-inlines
    the whole upstream expression tree)."""
    shifts = _limb_shifts(nbins)
    t = resp.select(
        *[F.expr(expr).alias(f"t_{n}") for n, expr in names.items()]
    )
    u = t.select(
        *[
            F.expr(f"CASE WHEN t_{n} < 0 THEN -1L ELSE 1L END").alias(
                f"sg_{n}"
            )
            for n in names
        ],
        *[
            F.expr(f"abs(t_{n}) * 1e12 + 0.5").alias(f"u_{n}")
            for n in names
        ],
    )
    q = u.select(
        *[F.col(f"sg_{n}") for n in names],
        *[
            F.expr(f"u_{n} - (u_{n} % 1.0)").alias(f"a_{n}")
            for n in names
        ],
    )
    bounds = list(zip(shifts, shifts[1:] + [None]))
    limbs = q.select(
        *[
            F.expr(
                f"sg_{n} * floor("
                + (f"a_{n}" if hi is None else f"(a_{n} % {2.0**hi!r})")
                + f" / {2.0**lo!r})"
            ).alias(f"q{i}_{n}")
            for i, (lo, hi) in enumerate(bounds)
            for n in names
        ]
    )
    row = limbs.agg(
        *[F.sum(c).alias(c) for c in limbs.columns]
    ).collect()[0]  # ONE job; len(shifts)·(3K+2) int64 scalars
    return {
        n: sum(int(row[f"q{i}_{n}"]) << s for i, s in enumerate(shifts))
        for n in names
    }


def _distributed_em(
    hist: DataFrame, k: int, tol: float, max_iter: int
) -> GMMModel:
    """Scale fallback when the histogram exceeds ``MAX_DRIVER_BINS``:
    SURVEY §4.3's one-aggregation-per-iteration loop, frequency-weighted
    over the histogram (bins ≪ N rows scanned per iteration).  ``hist``
    must already be materialized (``gmm_fit_hist``'s cache, which the
    caller owns and releases): every iteration re-reads it."""
    phi, mu, s2, n, nbins = _init_params_hist(hist, k)

    lnp_prev = None
    trace: list[float] = []
    it = 0
    for it in range(1, max_iter + 1):
        p, m, v = tuple(phi), tuple(mu), tuple(s2)
        # two-stage plan, still one job: a projection computes each
        # weighted density ONCE, then the agg sums trivial refs.
        weights = hist.select(
            F.col("_x"),
            F.col("cnt").cast("double").alias("_c"),
            *[
                F.expr(wdens("_x", p[j], m[j], v[j])).alias(f"w{j}")
                for j in range(k)
            ],
        )
        rowsum = F.greatest(
            sum((F.col(f"w{j}") for j in range(k)), F.lit(0.0)),
            F.lit(DENSITY_FLOOR),
        )
        resp = weights.select(
            "_x",
            "_c",
            F.log(rowsum).alias("_lnp"),
            *[
                (F.col(f"w{j}") / rowsum).alias(f"g{j}")
                for j in range(k)
            ],
        )
        # Sufficient statistics as exact fixed-point sums (per-bin
        # term quantized to 1e-12, summed as int64 limbs whose width
        # the bin count sets — ``_em_stats``).
        stat_names = {}
        for j in range(k):
            stat_names[f"n{j}"] = f"g{j} * _c"
            stat_names[f"sx{j}"] = f"g{j} * _x * _c"
            stat_names[f"sxx{j}"] = f"g{j} * _x * _x * _c"
        stat_names["lnp"] = "_lnp * _c"
        vals = {
            name: total / 1e12
            for name, total in _em_stats(resp, stat_names, nbins).items()
        }

        lnp = vals["lnp"]
        trace.append(lnp)
        for j in range(k):
            nj = vals[f"n{j}"] or 1e-300
            phi[j] = nj / n
            mu[j] = vals[f"sx{j}"] / nj
            s2[j] = max(
                vals[f"sxx{j}"] / nj - mu[j] * mu[j], 1e-12
            )

        if lnp_prev is not None and abs(lnp - lnp_prev) <= tol:
            lnp_prev = lnp
            break
        lnp_prev = lnp
    return GMMModel(phi, mu, s2, lnp_prev, it, trace)


def value_histogram(df: DataFrame, x: str = "value") -> DataFrame:
    """The ONE full scan a fit performs: exact ``(value, count)``
    histogram via map-side-combined groupBy — shuffle volume is
    distinct-values-per-partition, not rows.  Values outside the
    fit's snap-exact domain (|x| ≤ 1e6 — the module docstring's
    fixed-point headroom; non-finite included, as NaN/±Inf compare
    greater than any finite bound) are excluded like NULLs (the
    parity.py posture): a NaN or 1e308 bin would overflow the EM's
    sufficient-statistic snaps mid-iteration — one corrupt double
    must not kill a 100 TB fit."""
    return (
        df.select(F.col(x).alias("_x"))
        .where(F.abs(F.col("_x")) <= F.lit(1e6))
        .groupBy("_x")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _head_arrays(head, x: str = "_x"):
    """(vals, cnts) numpy arrays from the Arrow head probe."""
    import numpy as np

    vals = head.column(x).to_numpy(zero_copy_only=False).astype(
        np.float64, copy=False
    )
    cnts = head.column("cnt").to_numpy(zero_copy_only=False).astype(
        np.int64, copy=False
    )
    return vals, cnts


def gmm_fit_hist(
    hist: DataFrame,
    k: int = 3,
    tol: float = DEFAULT_TOL,
    max_iter: int = DEFAULT_MAX_ITER,
) -> GMMModel:
    """Fit from a precomputed ``(value, count)`` histogram.

    A ``hist.limit(MAX_DRIVER_BINS+1)`` head probe picks the path.  It
    moves up to ``MAX_DRIVER_BINS`` rows driver-side, so it crosses as
    ONE Arrow batch set (``toArrow``), not pickled Rows — measured 38×
    cheaper at 500 k rows (guide §4.1: control how efficiently bytes
    cross the JVM↔Python boundary; a 1 M-row pickled collect was ~10 s
    of the wide-domain bench fixture).  The histogram is ``cache()``-d
    first: a wide domain would otherwise compute the full histogram
    twice — once under the probe's limit (an agg cannot
    short-circuit) and again for ``_distributed_em``'s iterations.
    The cache is cheap at any width because AQE sizes it
    (``session.RUNTIME_CONFS``: cached plans may change their output
    partitioning): a ~30 k-bin histogram builds and probes in a single
    task each instead of one per shuffle partition."""
    hist = hist.cache()
    try:
        head = hist.limit(MAX_DRIVER_BINS + 1).toArrow()
        if head.num_rows > MAX_DRIVER_BINS:
            # domain too wide: iterate on-cluster over this cache entry
            return _distributed_em(hist, k, tol, max_iter)
        import numpy as np

        vals, cnts = _head_arrays(head)
        order = np.argsort(vals, kind="stable")
        return _driver_em(vals[order], cnts[order], k, tol, max_iter)
    finally:
        hist.unpersist()


def gmm_fit(
    df: DataFrame,
    x: str = "value",
    k: int = 3,
    tol: float = DEFAULT_TOL,
    max_iter: int = DEFAULT_MAX_ITER,
) -> GMMModel:
    """Fit a K-component 1-D GMM with EM.

    One distributed histogram pass over the data, then EM over the
    bounded-cardinality histogram (module docstring).  The cluster
    touches the full dataset exactly once per fit."""
    return gmm_fit_hist(value_histogram(df, x), k, tol, max_iter)
