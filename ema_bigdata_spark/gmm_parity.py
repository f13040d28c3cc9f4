"""Cross-engine bit-exact EM for the flagship GMM queries.

``gmm_fit`` and ``q_gmm_bic`` are hash-checked against a DuckDB replay
even though a numpy EM built on libm ``exp``/``ln`` would not be: those
functions differ by an ulp between engines and EM feedback amplifies
the difference over iterations.  This module re-expresses the
fixed-iteration EM so that every arithmetic step is IEEE-exact and
identical across Spark SQL, DuckDB SQL and CPython (see
``functions/xmath.py``) — the unrolled-iteration pattern of
``q_pagerank`` and ``q_kmeans``, extended to transcendental-bearing EM.

Parity posture:
- per-row density math is SHARED SQL text (dialect differences limited
  to ``transform``/``list_transform``, array constructor/indexing, and
  parameters appearing as folded literals on Spark vs CTE column refs
  on DuckDB — literals render via ``xmath.dlit_exact``, the
  mantissa×2^k form immune to DuckDB's literal-parser ulp bug);
- sufficient statistics are snapped to integers per bin
  (``floor(v·scale + 0.5)``) BEFORE summation, so the sums are
  order-free (partitioning-independent on Spark, identical on DuckDB);
- parameter updates are a handful of scalar double ops, mirrored
  op-for-op between Python (Spark-side fold) and the oracle's CTEs;
- ``exp`` is the 16-squaring polynomial (``exp_neg_arr`` — nested
  array transforms, linear expression trees), per-row ``ln`` (for the
  BIC log-likelihood) uses the argmax-component factorization
  ``ln(rs) = ln(w_max) + ln(rs/w_max)`` whose series argument is
  bounded in [1, K], and scalar ``ln`` (component normalizers, ln n)
  runs as Python ``xln`` / a DuckDB CTE chain of the same ops.

Spark-first shape (SURVEY §4.3): ONE distributed ``groupBy(value)``
histogram scan (map-side combined — at 100 TB the only full pass;
two jobs: its map stage and the checkpoint), then ONE Arrow probe of
the checkpoint (``limit(gmm.MAX_DRIVER_BINS + 1)``, one job) picks
the executor of everything after it.  Shuffle volume is bin-count,
never row-count, on both.

- Driver executor, at most ``gmm.MAX_DRIVER_BINS`` bins (every
  2-decimal domain: ~60 k bins whatever the row count).  The probe
  already holds the whole histogram, so a numpy mirror of the
  statements runs the init, the iterations and the lnL over it: no
  further job, whatever K or the iteration count.  Same IEEE ops in
  the same order as the SQL texts; the snapped sums are exact Python
  ints (int64 limbs) and raise wherever a BIGINT would leave int64
  (:func:`_np_snap`, :func:`_np_sum`).
- Spark executor, a wider histogram: one statement for the init and
  one per EM iteration over the checkpoint.  Every statement is one
  projection chain over the histogram plus one aggregate, whatever the
  number of K values fitted in lockstep: no second scan, no join, no
  broadcast.  Over a one-partition histogram each statement is ONE
  job and has no exchange: ``local_checkpoint`` marks the checkpoint
  ``SinglePartition``, so the aggregate and the init's window read it
  in place.  A histogram of several partitions keeps its
  single-partition shuffle — two jobs per statement.

The executors agree bit for bit (tests/test_properties.py
``TestParityEMInvariants``); the driver holds 3K floats of state per
fit.  The DuckDB oracle replays the identical computation as a flat
materialized-CTE chain built from the same text builders.

Reference: the Scala ``Main.scala:59-92`` EM loop (5K+2 full data
passes per iteration — SURVEY §3.3).  Textbook math
(Bishop PRML §9.2), not the reference's precedence bugs (SURVEY §2.3).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from ema_bigdata_spark import gmm
from ema_bigdata_spark.functions import xmath as X
from ema_bigdata_spark.registry import query
from ema_bigdata_spark.sources.tables import (
    local_checkpoint,
    local_frame,
    sql_on_tables,
)

#: sufficient-statistic snap scales.  BIGINT overflow headroom at
#: |x| ≤ 1e3: n·1e9 < 2⁶³ to ~9e9 rows, Σgxc·1e6 to ~9e9 rows,
#: Σgx²c·1e4 to ~9e8 rows — far above any per-partition reality, and
#: the snap sits below EM's statistical noise by ≥ 6 orders.
N_SC = "1000000000.0"
SX_SC = "1000000.0"
SXX_SC = "10000.0"
LNL_SC = "1000000.0"
#: Python-side mirrors derived from the SQL texts — ONE source of
#: truth, so retuning a scale cannot silently split the engines
_N_SCF, _SX_SCF, _SXX_SCF, _LNL_SCF = (
    float(N_SC), float(SX_SC), float(SXX_SC), float(LNL_SC)
)
_FLOOR_F = 1e-300
_VAR_FLOOR_F = 1e-12
#: lnL of a bin whose densities all underflowed to the floor
_LN_FLOOR_F = math.log(_FLOOR_F)
_FLOOR = X.dlit_exact(_FLOOR_F)
_VAR_FLOOR = X.dlit_exact(_VAR_FLOOR_F)

K_FIT = 3
ITERS_FIT = 15
ITERS_BIC = 6


# ---- shared SQL text builders -------------------------------------------


def _snap(expr: str, scale: str) -> str:
    return f"CAST(floor((({expr}) * {scale}) + 0.5) AS BIGINT)"


def hist_sql(events_src: str) -> str:
    """The ONE data-proportional pass: exact (value, count) histogram
    (map-side combined on Spark; shuffle = distinct values).
    Values outside the fit's snap-exact domain (|x| ≤ 1e6, matching
    gmm.value_histogram; same filter text on both engines — NaN/±Inf
    compare greater than any finite bound on both, and NULL fails the
    predicate, so the gate subsumes IS NOT NULL) are excluded like
    NULLs: a NaN or 1e308 bin would overflow the fixed-point snaps
    mid-iteration."""
    return (
        "SELECT value AS x, CAST(count(*) AS BIGINT) AS cnt"
        f" FROM {events_src}"
        " WHERE abs(value) <= 1e6 GROUP BY value"
    )


def init_ctes(src: str, ks: tuple[int, ...], tag: str
              ) -> tuple[list[tuple[str, str]], str, str]:
    """Init CTEs over the histogram ``src`` for every K in ``ks``: exact
    frequency-weighted percentile means (linear interpolation at
    p·(n−1), Spark ``percentile`` semantics) and the snapped-integer
    mean/variance.  One window pass carries the running count ``cm``
    and the total ``tot`` on every bin; one aggregate over it emits
    ``n``, the snapped sums ``s1u``/``s2u`` and each fit's
    ``k{K}_vlo{j}``/``k{K}_vhi{j}``/``k{K}_frac{j}``.  Returns
    ``(ctes, agg, final)``: ``agg`` is that aggregate (the oracle's
    update reads ``n`` from it), ``final`` has columns nd, n, s20 and
    ``k{K}_mu0_1..K`` (the init variance is K-independent)."""
    qcols, mu0 = [], []
    for k in ks:
        for j in range(1, k + 1):
            fr = f"(CAST({j} AS DOUBLE) / CAST({k + 1} AS DOUBLE))"
            pos = f"({fr} * (CAST(tot AS DOUBLE) - 1.0))"
            lo = f"CAST(floor({pos}) AS BIGINT)"
            inc = f"(CASE WHEN {pos} > CAST({lo} AS DOUBLE) THEN 1 ELSE 0 END)"
            c = f"k{k}_"
            qcols += [
                f"min(CASE WHEN cm >= {lo} + 1 THEN x END) AS {c}vlo{j}",
                f"min(CASE WHEN cm >= {lo} + 1 + {inc} THEN x END)"
                f" AS {c}vhi{j}",
                f"max(({pos} - CAST({lo} AS DOUBLE))) AS {c}frac{j}",
            ]
            mu0.append(f"({c}vlo{j} * (1.0 - {c}frac{j})"
                       f" + {c}vhi{j} * {c}frac{j}) AS {c}mu0_{j}")
    mu_fwd = ", ".join(f"k{k}_mu0_{j}" for k in ks for j in range(1, k + 1))
    ctes = [
        (f"{tag}_cum",
         "SELECT x, cnt, SUM(cnt) OVER (ORDER BY x) AS cm,"
         f" SUM(cnt) OVER () AS tot FROM {src}"),
        (f"{tag}_q",
         "SELECT CAST(max(tot) AS BIGINT) AS n, "
         f"CAST(SUM({_snap('x', SX_SC)} * cnt) AS BIGINT) AS s1u, "
         f"CAST(SUM({_snap('(x * x)', SXX_SC)} * cnt) AS BIGINT) AS s2u, "
         f"{', '.join(qcols)} FROM {tag}_cum"),
        (f"{tag}_i0",
         f"SELECT CAST(n AS DOUBLE) AS nd, n, s1u, s2u, {', '.join(mu0)}"
         f" FROM {tag}_q"),
        (f"{tag}_i1",
         f"SELECT nd, n, {mu_fwd},"
         f" (CAST(s1u AS DOUBLE) / {SX_SC}) / nd AS mean0, s2u"
         f" FROM {tag}_i0"),
        (f"{tag}_i2",
         f"SELECT nd, n, {mu_fwd}, "
         f"greatest((CAST(s2u AS DOUBLE) / {SXX_SC}) / nd"
         f" - mean0 * mean0, {_VAR_FLOOR}) AS s20"
         f" FROM {tag}_i1"),
    ]
    return ctes, f"{tag}_q", f"{tag}_i2"


def iter_ctes(dialect: str, src: str, params: dict[int, dict[str, str]],
              tag: str, mode: str) -> tuple[list[tuple[str, str]], str]:
    """One EM pass over histogram ``src`` for every fit in ``params``
    (K → parameter texts keyed mu{j}, s2{j}, nrm{j} [, lnc{j} for
    mode='lnl']).  All fits share one projection chain and one
    aggregate, their columns prefixed ``k{K}_``; each column's
    expression is the same text whatever other fits run beside it, so
    a lockstep pass is bit-identical to separate one-K passes.
    mode='fit' emits the snapped sufficient-statistic sums
    ``k{K}_n{j}u``/``k{K}_sx{j}u``/``k{K}_sxx{j}u``; mode='lnl' emits
    the snapped log-likelihood sums ``k{K}_lnlu``."""
    fits = [(k, P, f"k{k}_", range(1, k + 1)) for k, P in params.items()]
    # Param texts are either plain column refs (oracle: the
    # cross-joined 1-row params CTE — these must be CARRIED through
    # the stage chain) or folded literal expressions (Spark — nothing
    # to carry; see _spark_steps' docstring for the measured
    # literal-vs-view decision).
    pnames = sorted({v for _, P, _, _ in fits for v in P.values()
                     if v.isidentifier()})
    pfwd = (", " + ", ".join(pnames)) if pnames else ""
    zc = ", ".join(
        f"least(((x - {P[f'mu{j}']}) * (x - {P[f'mu{j}']}))"
        f" / (2.0 * {P[f's2{j}']}), {X.dlit_exact(X.EXP_CLAMP)}) AS {c}zc{j}"
        for _, P, c, J in fits for j in J
    )
    et = ", ".join(
        f"{X.exp_neg_arr(X.arr([f'{c}zc{j}' for j in J], dialect), dialect)}"
        f" AS {c}et"
        for _, _, c, J in fits
    )
    zfwd = ", ".join(f"{c}zc{j}" for _, _, c, J in fits for j in J)
    wcols = ", ".join(
        f"{P[f'nrm{j}']} * {X.ix(f'{c}et', j, dialect)} AS {c}w{j}"
        for _, P, c, J in fits for j in J
    )
    wfwd = ", ".join(f"{c}w{j}" for _, _, c, J in fits for j in J)
    rs = ", ".join(
        f"greatest({' + '.join(f'{c}w{j}' for j in J)}, {_FLOOR}) AS {c}rs"
        for _, _, c, J in fits
    )
    rfwd = ", ".join(f"{c}rs" for _, _, c, _ in fits)
    ctes = [
        (f"{tag}_b",
         f"SELECT x, CAST(cnt AS DOUBLE) AS c{pfwd}, {zc} FROM {src}"),
        (f"{tag}_e",
         f"SELECT x, c{pfwd}, {zfwd}, {et} FROM {tag}_b"),
        (f"{tag}_w",
         f"SELECT x, c{pfwd}, {zfwd}, {wcols} FROM {tag}_e"),
        (f"{tag}_r",
         f"SELECT x, c{pfwd}, {zfwd}, {wfwd}, {rs} FROM {tag}_w"),
    ]
    if mode == "fit":
        sums = []
        for _, _, c, J in fits:
            for j in J:
                g = f"({c}w{j} / {c}rs)"
                sums += [
                    f"CAST(SUM({_snap(f'({g} * c)', N_SC)}) AS BIGINT)"
                    f" AS {c}n{j}u",
                    f"CAST(SUM({_snap(f'(({g} * x) * c)', SX_SC)})"
                    f" AS BIGINT) AS {c}sx{j}u",
                    f"CAST(SUM({_snap(f'((({g} * x) * x) * c)', SXX_SC)})"
                    f" AS BIGINT) AS {c}sxx{j}u",
                ]
        ctes.append((f"{tag}_s", f"SELECT {', '.join(sums)} FROM {tag}_r"))
        return ctes, f"{tag}_s"
    # mode == 'lnl': ln(rs) = lnb + atanh-series(rs / max-w), bounded
    # series argument in [1, k] (see module docstring)
    bg = ", ".join(
        f"greatest({', '.join(f'{c}w{j}' for j in J)}, {_FLOOR}) AS {c}bg"
        for _, _, c, J in fits
    )
    ctes.append(
        (f"{tag}_m",
         f"SELECT c{pfwd}, {zfwd}, {wfwd}, {rfwd}, {bg} FROM {tag}_r")
    )
    # argmax-selected ln(w_max) ≈ lnc_m − zc_m; floor fallback when all
    # densities underflowed (bg clamped to the rs floor)
    lnbs = []
    for k, P, c, J in fits:
        sel = f"({P[f'lnc{k}']} - {c}zc{k})"
        if k > 1:
            whens = " ".join(
                "WHEN " + " AND ".join(f"{c}w{j} >= {c}w{jj}"
                                       for jj in range(j + 1, k + 1))
                + f" THEN ({P[f'lnc{j}']} - {c}zc{j})"
                for j in range(1, k)
            )
            sel = f"CASE {whens} ELSE {sel} END"
        lnbs.append(
            f"(CASE WHEN {' + '.join(f'{c}w{j}' for j in J)} <= {_FLOOR}"
            f" THEN {X.dlit_exact(_LN_FLOOR_F)} ELSE {sel} END)"
            f" AS {c}lnbv"
        )
    carry = ["c"] + [f"{c}{v}" for _, _, c, _ in fits for v in ("lnbv", "sv")]
    sv = ", ".join(f"{c}lnbv, ({c}rs / {c}bg) AS {c}sv"
                   for _, _, c, _ in fits)
    rbg = ", ".join(f"{c}rs, {c}bg" for _, _, c, _ in fits)
    ctes.append(
        (f"{tag}_l0", f"SELECT c, {sv} FROM"
                      f" (SELECT c, {rbg}, {', '.join(lnbs)} FROM {tag}_m)")
    )
    # atanh steps reference earlier step columns → chain as CTEs, step
    # i of every fit in one CTE so the chain is as deep as one fit's
    series = [X.atanh_ln_series(f"{c}sv", f"{c}a") for _, _, c, _ in fits]
    prev = f"{tag}_l0"
    for i, step in enumerate(zip(*series)):
        ctes.append(
            (f"{tag}_a{i}",
             f"SELECT {', '.join(carry)}, "
             + ", ".join(f"{e} AS {n}" for n, e in step)
             + f" FROM {prev}")
        )
        carry += [n for n, _ in step]
        prev = f"{tag}_a{i}"
    lnl = ", ".join(
        f"CAST(SUM({_snap(f'(({c}lnbv + {s[-1][0]}) * c)', LNL_SC)})"
        f" AS BIGINT) AS {c}lnlu"
        for (_, _, c, _), s in zip(fits, series)
    )
    ctes.append((f"{tag}_lnl", f"SELECT {lnl} FROM {prev}"))
    return ctes, f"{tag}_lnl"


# ---- Python-side parameter fold (mirrors the oracle's CTE math) ---------


def init_fold(row, k: int) -> tuple[float, dict[str, float]]:
    """From the collected init row → fit K's (nd, params dict)."""
    nd = float(row["nd"])
    phi0 = 1.0 / float(k)
    s20 = float(row["s20"])
    P: dict[str, float] = {}
    for j in range(1, k + 1):
        P[f"mu{j}"] = float(row[f"k{k}_mu0_{j}"])
        P[f"s2{j}"] = s20
        P[f"phi{j}"] = phi0
        P[f"nrm{j}"] = max(
            phi0 / math.sqrt(X.TWO_PI * s20), _FLOOR_F
        )
    return nd, P


def update_fold(row, nd: float, k: int) -> dict[str, float]:
    """From a collected sums row → fit K's next params (op-for-op mirror
    of the oracle's pa/pb/pc/pd CTE chain)."""
    P: dict[str, float] = {}
    for j in range(1, k + 1):
        nf = max(float(row[f"k{k}_n{j}u"]) / _N_SCF, _FLOOR_F)
        phi = nf / nd
        mu = (float(row[f"k{k}_sx{j}u"]) / _SX_SCF) / nf
        s2 = max((float(row[f"k{k}_sxx{j}u"]) / _SXX_SCF) / nf - mu * mu,
                 _VAR_FLOOR_F)
        P[f"phi{j}"] = phi
        P[f"mu{j}"] = mu
        P[f"s2{j}"] = s2
        P[f"nrm{j}"] = max(phi / math.sqrt(X.TWO_PI * s2), _FLOOR_F)
    return P


def update_ctes(sums_cte: str, tot_cte: str, k: int, tag: str
                ) -> tuple[list[tuple[str, str]], str]:
    """Oracle-side parameter update CTEs from fit K's sums in
    ``sums_cte`` and the total ``n`` in ``tot_cte`` (mirrors
    :func:`update_fold`)."""
    J = range(1, k + 1)
    nf = ", ".join(
        f"greatest(CAST(k{k}_n{j}u AS DOUBLE) / {N_SC}, {_FLOOR}) AS nf{j}"
        for j in J
    )
    sums_fwd = ", ".join(
        f"k{k}_sx{j}u AS sx{j}u, k{k}_sxx{j}u AS sxx{j}u" for j in J
    )
    nf_fwd = ", ".join(f"nf{j}" for j in J)
    pm = ", ".join(
        f"nf{j} / nd AS phi{j},"
        f" (CAST(sx{j}u AS DOUBLE) / {SX_SC}) / nf{j} AS mu{j}"
        for j in J
    )
    pmu_fwd = ", ".join(f"phi{j}, mu{j}" for j in J)
    ps = ", ".join(
        f"greatest((CAST(sxx{j}u AS DOUBLE) / {SXX_SC}) / nf{j}"
        f" - mu{j} * mu{j}, {_VAR_FLOOR}) AS s2{j}"
        for j in J
    )
    ps2_fwd = ", ".join(f"s2{j}" for j in J)
    pn = ", ".join(
        f"greatest(phi{j} / sqrt({X.dlit_exact(X.TWO_PI)} * s2{j}), {_FLOOR})"
        f" AS nrm{j}"
        for j in J
    )
    ctes = [
        (f"{tag}_pa",
         f"SELECT CAST(n AS DOUBLE) AS nd, {sums_fwd}, {nf}"
         f" FROM {sums_cte} CROSS JOIN {tot_cte}"),
        (f"{tag}_pb",
         f"SELECT nd, {nf_fwd}, "
         + ", ".join(f"sxx{j}u" for j in J)
         + f", {pm} FROM {tag}_pa"),
        (f"{tag}_pc",
         f"SELECT nd, {pmu_fwd}, {ps} FROM {tag}_pb"),
        (f"{tag}_pd",
         f"SELECT nd, {pmu_fwd}, {ps2_fwd}, {pn} FROM {tag}_pc"),
    ]
    return ctes, f"{tag}_pd"


def init_param_ctes(init_cte: str, k: int, tag: str
                    ) -> tuple[list[tuple[str, str]], str]:
    """Oracle-side iteration-0 params from the init CTE (mirrors
    :func:`init_fold`)."""
    J = range(1, k + 1)
    phi0 = f"(1.0 / CAST({k} AS DOUBLE))"
    cols = ", ".join(
        f"{phi0} AS phi{j}, k{k}_mu0_{j} AS mu{j}, s20 AS s2{j}" for j in J
    )
    fwd = ", ".join(f"phi{j}, mu{j}, s2{j}" for j in J)
    pn = ", ".join(
        f"greatest(phi{j} / sqrt({X.dlit_exact(X.TWO_PI)} * s2{j}), {_FLOOR})"
        f" AS nrm{j}"
        for j in J
    )
    ctes = [
        (f"{tag}_p0a", f"SELECT nd, {cols} FROM {init_cte}"),
        (f"{tag}_p0", f"SELECT nd, {fwd}, {pn} FROM {tag}_p0a"),
    ]
    return ctes, f"{tag}_p0"


def _round6(v: float) -> float:
    return math.floor((v * 1000000.0) + 0.5) / 1000000.0


def _round3(v: float) -> float:
    return math.floor((v * 1000.0) + 0.5) / 1000.0


_SQL_R6 = "floor((({v}) * 1000000.0) + 0.5) / 1000000.0"
_SQL_R3 = "floor((({v}) * 1000.0) + 0.5) / 1000.0"


# ---- Spark-side driver loop ---------------------------------------------


def _require_nonempty(n) -> None:
    """Loud refusal for an empty corpus: the init statement's histogram
    total is NULL when events.value has no non-NULL rows, and a mixture
    fit is undefined without data — refuse with the same friendly
    ValueError as the similarity family's probe guards instead of
    crashing in ``init_fold``."""
    if n is None or n == 0:
        raise ValueError(
            "gmm: empty corpus — events.value has no non-NULL rows;"
            " a mixture fit is undefined without data"
        )


def _with(ctes: list[tuple[str, str]], final_sql: str,
          materialized: bool = False) -> str:
    mat = " MATERIALIZED" if materialized else ""
    body = ", ".join(f"{n} AS{mat} ({b})" for n, b in ctes)
    return f"WITH {body} {final_sql}"


def prepare_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the (value, count) histogram once and return it.
    No hand-set width: the histogram is domain-bounded (~60 k bins for
    2-decimal data regardless of row count — gmm.py module docstring),
    and the checkpoint runs the aggregate through AQE, which coalesces
    its shuffle partitions to the data — one partition for a narrow
    domain, as many as the advisory partition size asks for a wide
    one.  :func:`~ema_bigdata_spark.sources.tables.local_checkpoint`
    marks a one-partition histogram ``SinglePartition``, so each
    statement over it is one job of one task with no exchange."""
    hist = sql_on_tables(spark, sf_dir, hist_sql("{events}"))
    return local_checkpoint(hist)


def parity_em_spark(spark: SparkSession, sf_dir: str, k: int, iters: int,
                    want_lnl: bool = False, hist: DataFrame | None = None):
    """One fit of :func:`parity_em_spark_multi`; returns ``(nd, P, lnl)``."""
    return parity_em_spark_multi(spark, sf_dir, (k,), iters, want_lnl, hist)[k]


def _check_fit_args(ks, iters) -> None:
    """Refuse parameters no fit is defined for, naming the bad value,
    before any job runs."""
    if not ks:
        raise ValueError("parity EM: ks=() — pass at least one K")
    for k in ks:
        # bool is an int subclass: True would fit as K=1
        if isinstance(k, bool) or not isinstance(k, int) or k < 1:
            raise ValueError(
                f"parity EM: K={k!r} in ks={ks!r} is not a positive"
                " component count"
            )
        if ks.count(k) > 1:
            raise ValueError(f"parity EM: K={k} appears twice in ks={ks!r}")
    if isinstance(iters, bool) or not isinstance(iters, int):
        raise ValueError(
            f"parity EM: iters={iters!r} is not an iteration count"
        )
    if iters < 0:
        raise ValueError(f"parity EM: iters={iters!r} is negative")


def parity_em_spark_multi(spark: SparkSession, sf_dir: str,
                          ks: tuple[int, ...], iters: int,
                          want_lnl: bool = False,
                          hist: DataFrame | None = None):
    """Run the bit-exact EM for one or more independent K values in
    lockstep over ONE histogram (``hist``, or a fresh
    :func:`prepare_hist` — two jobs); returns ``{k: (nd, P, lnl)}``.

    One ``hist.limit(gmm.MAX_DRIVER_BINS + 1).toArrow()`` probe (one
    job) picks the executor; ``gmm.MAX_DRIVER_BINS`` is read at call
    time.  At most that many bins: :func:`_driver_steps` computes every
    step on the probe's arrays, and no statement runs after the probe.
    Above it: :func:`_spark_steps` runs one statement for every fit's
    init, ONE per iteration (SURVEY §4.3) for every fit's
    sufficient-statistic sums, and with ``want_lnl`` one more for every
    fit's log-likelihood — ``1 + iters + want_lnl`` jobs over a
    one-partition histogram, twice that over one of several partitions
    (each aggregate then pays its single-partition shuffle).  Either
    way, params fold driver-side between steps with the Python mirrors
    (``update_fold`` is the op-for-op mirror of the oracle's
    ``update_ctes`` — same IEEE ops on the same doubles), and the two
    executors return the same bits.

    Each fit's expressions are the same text whatever else runs beside
    it, so a lockstep run is bit-identical to separate one-K runs
    (asserted by TestParityEMInvariants); on Spark, merging K values
    only cuts the per-statement fixed cost (~0.35 s of
    analyze+JIT+schedule) from ``len(ks)``× to 1× per iteration."""
    _check_fit_args(ks, iters)
    if hist is None:
        hist = prepare_hist(spark, sf_dir)
    head = hist.limit(gmm.MAX_DRIVER_BINS + 1).toArrow()
    if head.num_rows > gmm.MAX_DRIVER_BINS:
        init, step = _spark_steps(spark, hist)
    else:
        init, step = _driver_steps(head)

    row = init(ks)
    _require_nonempty(row["n"])
    state = {k: init_fold(row, k) for k in ks}

    for _ in range(iters):
        row = step({k: P for k, (_, P) in state.items()}, "fit")
        state = {k: (nd, update_fold(row, nd, k))
                 for k, (nd, _) in state.items()}

    if not want_lnl:
        return {k: (nd, P, None) for k, (nd, P) in state.items()}
    # lnc{j} = ln of the normalizers, for the log-likelihood pass
    row = step({k: {**P, **{f"lnc{j}": X.xln(P[f"nrm{j}"])
                            for j in range(1, k + 1)}}
                for k, (_, P) in state.items()}, "lnl")
    return {k: (nd, P, float(row[f"k{k}_lnlu"]) / _LNL_SCF)
            for k, (nd, P) in state.items()}


def _spark_steps(spark: SparkSession, hist: DataFrame):
    """``(init, step)`` running :func:`init_ctes` / :func:`iter_ctes` as
    Spark statements over ``hist``, each returning its one-row result.

    The histogram is bound into each statement as ``{hist}`` through
    ``spark.sql`` keyword arguments, so no view outlives a statement.
    Params fold in as exact literals: a 1-row params view cross-joined
    for a constant statement text costs a createDataFrame round-trip
    plus a broadcast join per iteration and times worse (9 s vs 5.5 s
    for the 15-iteration fit at sf0.1).  Unrolling several iterations
    into one statement grows the tree with each one, and Catalyst
    optimizer cost grows superlinearly with depth (sf0.1, 15-iteration
    fit: 4.2 s per-iteration vs 5.7/7.5/28.6 s at 3/5/15 iterations per
    statement)."""

    def collect(ctes, fin):
        q = _with(ctes, f"SELECT * FROM {fin}")
        return spark.sql(q, hist=hist).collect()[0]

    def init(ks):
        ctes, _, fin = init_ctes("{hist}", ks, "i")
        return collect(ctes, fin)

    def step(params, mode):
        lits = {k: {key: X.dlit_exact(val) for key, val in P.items()}
                for k, P in params.items()}
        tag = "m" if mode == "fit" else "l"
        return collect(*iter_ctes("spark", "{hist}", lits, tag, mode))

    return init, step


# ---- driver executor: the statements' math on the collected histogram --


def _np_snap(v, scale: float):
    """:func:`_snap` over a float64 array: ``floor(v·scale + 0.5)`` as
    int64.  Raises where the double has no int64 (beyond ±2^63, or
    NaN), as the oracle's ``CAST`` does.  Spark's ``floor(DOUBLE)``
    saturates there instead (JVM d2l; NaN → 0 — see
    ``functions.parity.floor_long``), and the sum of a saturated snap is
    a wrong number."""
    import numpy as np

    f = np.floor(v * scale + 0.5)
    ok = (f >= -(2.0 ** 63)) & (f < 2.0 ** 63)
    if not ok.all():
        raise OverflowError(
            f"parity EM: snapped statistic {f[~ok][0]!r} overflows BIGINT"
        )
    return f.astype(np.int64)


def _np_sum(a) -> int:
    """Exact Σ of an int64 array as a Python int; raises like Spark's
    ANSI ``SUM`` when the total leaves BIGINT.  Each element splits
    into a signed high and an unsigned low 32-bit limb, each limb
    column sums in int64 (no wrap below 2^31 elements), and the two
    sums recombine in Python ints."""
    import numpy as np

    total = ((int((a >> 32).sum(dtype=np.int64)) << 32)
             + int((a & 0xFFFFFFFF).sum(dtype=np.int64)))
    if not -(1 << 63) <= total < (1 << 63):
        raise OverflowError(f"parity EM: BIGINT sum {total} overflows")
    return total


def _np_mul(a, b):
    """Elementwise int64 ``a·b``; raises like Spark's ANSI multiply on
    overflow.  The float64 product is within 2^-50 relative of the
    exact one, so it clears every pair below 2^62; the pairs above are
    checked in Python ints."""
    import numpy as np

    near = np.abs(a.astype(np.float64) * b.astype(np.float64)) >= 2.0 ** 62
    for i in np.flatnonzero(near):
        if not -(1 << 63) <= int(a[i]) * int(b[i]) < (1 << 63):
            raise OverflowError(
                f"parity EM: BIGINT product {int(a[i])}·{int(b[i])}"
                " overflows"
            )
    return a * b


def _np_init(x, cnt, ks: tuple[int, ...]) -> dict:
    """:func:`init_ctes`' final row over the histogram arrays (``x``
    ascending).  The running count ``cm`` needs no RANGE-frame peers:
    the histogram's bins are distinct values."""
    import numpy as np

    n = _np_sum(cnt)
    if n == 0:
        return {"n": n}
    cm = np.cumsum(cnt)  # counts ≥ 0 and their total fits: no wrap
    s1u = _np_sum(_np_mul(_np_snap(x, _SX_SCF), cnt))
    s2u = _np_sum(_np_mul(_np_snap(x * x, _SXX_SCF), cnt))
    nd = float(n)
    mean0 = (float(s1u) / _SX_SCF) / nd
    row = {"n": n, "nd": nd,
           "s20": max((float(s2u) / _SXX_SCF) / nd - mean0 * mean0,
                      _VAR_FLOOR_F)}
    for k in ks:
        for j in range(1, k + 1):
            pos = (float(j) / float(k + 1)) * (nd - 1.0)
            lo = math.floor(pos)
            inc = 1 if pos > float(lo) else 0
            # min x over the bins with cm ≥ t: the first such bin
            vlo, vhi = (float(x[np.searchsorted(cm, t)])
                        for t in (lo + 1, lo + 1 + inc))
            frac = pos - float(lo)
            row[f"k{k}_mu0_{j}"] = vlo * (1.0 - frac) + vhi * frac
    return row


def _np_iter(x, cnt, params: dict[int, dict[str, float]], mode: str
             ) -> dict:
    """:func:`iter_ctes`' aggregate row over the histogram arrays for
    float ``params``.  ``least``/``greatest`` are ``np.fmin`` /
    ``np.maximum`` and the argmax ``CASE`` treats NaN as the largest
    value, as Spark and DuckDB order doubles."""
    import numpy as np

    c = cnt.astype(np.float64)
    row = {}
    for k, P in params.items():
        J = range(1, k + 1)
        zc, w = {}, {}
        for j in J:
            d = x - P[f"mu{j}"]
            zc[j] = np.fmin((d * d) / (2.0 * P[f"s2{j}"]), X.EXP_CLAMP)
            w[j] = P[f"nrm{j}"] * X.xexp_neg_np(zc[j])
        ws = w[1]
        for j in J[1:]:
            ws = ws + w[j]
        rs = np.maximum(ws, _FLOOR_F)
        if mode == "fit":
            for j in J:
                g = w[j] / rs
                gx = g * x
                row[f"k{k}_n{j}u"] = _np_sum(_np_snap(g * c, _N_SCF))
                row[f"k{k}_sx{j}u"] = _np_sum(_np_snap(gx * c, _SX_SCF))
                row[f"k{k}_sxx{j}u"] = _np_sum(
                    _np_snap((gx * x) * c, _SXX_SCF))
            continue
        bg = w[1]
        for j in J[1:]:
            bg = np.maximum(bg, w[j])
        bg = np.maximum(bg, _FLOOR_F)
        sel = P[f"lnc{k}"] - zc[k]
        for j in range(k - 1, 0, -1):  # the CASE's first match wins
            top = np.isnan(w[j]) | (w[j] >= w[j + 1])
            for jj in range(j + 2, k + 1):
                top &= np.isnan(w[j]) | (w[j] >= w[jj])
            sel = np.where(top, P[f"lnc{j}"] - zc[j], sel)
        lnb = np.where(ws <= _FLOOR_F, _LN_FLOOR_F, sel)
        v = (lnb + X.py_atanh_ln(rs / bg)) * c
        row[f"k{k}_lnlu"] = _np_sum(_np_snap(v, _LNL_SCF))
    return row


def _driver_steps(head):
    """``(init, step)`` computing the same rows as :func:`_spark_steps`
    on the Arrow probe ``head`` — the whole histogram — with numpy."""
    import numpy as np

    x, cnt = gmm._head_arrays(head, "x")
    order = np.argsort(x, kind="stable")
    x, cnt = x[order], cnt[order]
    return (lambda ks: _np_init(x, cnt, ks),
            lambda params, mode: _np_iter(x, cnt, params, mode))


# ---- DuckDB oracle builders ---------------------------------------------


def _oracle_em_ctes(k: int, iters: int, tag: str, want_lnl: bool
                    ) -> tuple[list[tuple[str, str]], str, str]:
    """Full oracle CTE list for one fit; returns (ctes, params_cte,
    lnl_cte_or_None)."""
    ctes: list[tuple[str, str]] = []
    ictes, tot, ifin = init_ctes(f"{tag}_hist", (k,), f"{tag}_ini")
    ctes += ictes
    pctes, pcur = init_param_ctes(ifin, k, f"{tag}_x0")
    ctes += pctes
    for i in range(1, iters + 1):
        P = {key: f"{key}" for key in
             [f"{a}{j}" for j in range(1, k + 1)
              for a in ("mu", "s2", "nrm")]}
        src = f"{tag}_hist CROSS JOIN {pcur}"
        bctes, bfin = iter_ctes("duckdb", src, {k: P}, f"{tag}_x{i}", "fit")
        ctes += bctes
        uctes, pcur = update_ctes(bfin, tot, k, f"{tag}_x{i}")
        ctes += uctes
    lnl_cte = None
    if want_lnl:
        # scalar lnc chains over the 1-row params CTE (CTE-per-step:
        # nested-subquery form explodes the planner — xmath docstring)
        prev = pcur
        carry = (["nd"]
                 + [f"{a}{j}" for j in range(1, k + 1)
                    for a in ("phi", "mu", "s2", "nrm")])
        for j in range(1, k + 1):
            steps = X.sql_xln_scalar(f"nrm{j}", f"{tag}_lc{j}")
            for n, e in steps:
                ctes.append(
                    (f"c_{n}",
                     f"SELECT {', '.join(carry)}, {e} AS {n} FROM {prev}")
                )
                carry.append(n)
                prev = f"c_{n}"
            carry = [c for c in carry
                     if not c.startswith(f"{tag}_lc{j}_")] + [
                f"{tag}_lc{j}_v"
            ]
            ctes.append(
                (f"{tag}_lcf{j}", f"SELECT {', '.join(carry)} FROM {prev}")
            )
            prev = f"{tag}_lcf{j}"
        P = {key: f"{key}" for key in
             [f"{a}{j}" for j in range(1, k + 1)
              for a in ("mu", "s2", "nrm")]}
        for j in range(1, k + 1):
            P[f"lnc{j}"] = f"{tag}_lc{j}_v"
        src = f"{tag}_hist CROSS JOIN {prev}"
        lctes, lnl_cte = iter_ctes("duckdb", src, {k: P}, f"{tag}_ll",
                                   "lnl")
        ctes += lctes
    return ctes, pcur, lnl_cte


def gmm_fit_oracle_sql() -> str:
    """DuckDB replay of the registered ``gmm_fit`` (K=3, 15 fixed
    iterations) emitting the same (component, weight, mean, variance)
    rows."""
    tag = "g"
    ctes: list[tuple[str, str]] = [(f"{tag}_hist", hist_sql("events"))]
    ectes, pcur, _ = _oracle_em_ctes(K_FIT, ITERS_FIT, tag, want_lnl=False)
    ctes += ectes
    parts = []
    for j in range(1, K_FIT + 1):
        parts.append(
            f"SELECT CAST({j - 1} AS BIGINT) AS component, "
            f"{_SQL_R6.format(v=f'phi{j}')} AS weight, "
            f"{_SQL_R6.format(v=f'mu{j}')} AS mean, "
            f"{_SQL_R6.format(v=f's2{j}')} AS variance FROM {pcur}"
        )
    return _with(ctes, " UNION ALL ".join(parts), materialized=True)


def gmm_bic_oracle_sql() -> str:
    """DuckDB replay of ``q_gmm_bic``: K ∈ {2,3,4} fits (6 iterations
    each) + bit-exact log-likelihood and BIC = (3K−1)·ln n − 2·lnL."""
    ctes: list[tuple[str, str]] = [("gb_hist", hist_sql("events"))]
    parts = []
    for k in (2, 3, 4):
        tag = f"gb{k}"
        ctes.append((f"{tag}_hist", "SELECT * FROM gb_hist"))
        ectes, pcur, lnl_cte = _oracle_em_ctes(k, ITERS_BIC, tag,
                                               want_lnl=True)
        ctes += ectes
        # ln(nd) scalar chain for the BIC penalty
        prev = f"{tag}_ini_i2"
        carry = ["nd"]
        ctes.append((f"{tag}_nd", f"SELECT nd FROM {prev}"))
        prev = f"{tag}_nd"
        for n, e in X.sql_xln_scalar("nd", f"{tag}_ln"):
            ctes.append(
                (f"c_{n}", f"SELECT {', '.join(carry)}, {e} AS {n} FROM {prev}")
            )
            carry.append(n)
            prev = f"c_{n}"
        pd_lit = X.dlit_exact(float(3 * k - 1))
        lnl = f"(CAST(k{k}_lnlu AS DOUBLE) / {LNL_SC})"
        bic = f"({pd_lit} * {tag}_ln_v - 2.0 * {lnl})"
        parts.append(
            f"SELECT CAST({k} AS BIGINT) AS k, "
            f"{_SQL_R3.format(v=lnl)} AS log_likelihood, "
            f"{_SQL_R3.format(v=bic)} AS bic"
            f" FROM {lnl_cte} CROSS JOIN {prev}"
        )
    return _with(ctes, " UNION ALL ".join(parts), materialized=True)


# ---- registered queries -------------------------------------------------


@query("gmm_fit", oracle=gmm_fit_oracle_sql())
def q_gmm_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic EM fit on events.value → K-row parameter table
    (K=3, fixed 15 iterations), hash-checked against a DuckDB replay
    via the bit-exact parity EM (module docstring).  One histogram scan
    and one Arrow probe of it (3 jobs); the init and the 15 iterations
    then run on the driver over the probed bins — or, for a histogram
    wider than ``gmm.MAX_DRIVER_BINS``, as 16 statements over it.  The
    9 fitted floats return as a ``local_frame`` (collect: no job)."""
    _, P, _ = parity_em_spark(spark, sf_dir, K_FIT, ITERS_FIT)
    rows = [
        (j - 1, _round6(P[f"phi{j}"]), _round6(P[f"mu{j}"]),
         _round6(P[f"s2{j}"]))
        for j in range(1, K_FIT + 1)
    ]
    return local_frame(
        spark, list(zip(*rows)),
        "component BIGINT, weight DOUBLE, mean DOUBLE, variance DOUBLE",
    )


@query("q_gmm_bic", oracle=gmm_bic_oracle_sql())
def q_gmm_bic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model selection over K ∈ {2,3,4} via BIC = (3K−1)·ln n − 2·lnL
    (6 fixed iterations per candidate, lnL evaluated at the final
    parameters), hash-checked against a DuckDB replay (module
    docstring).  ONE histogram scan and one Arrow probe of it (3 jobs),
    shared by all three fits, which run in lockstep on the driver over
    the probed bins — or, for a histogram wider than
    ``gmm.MAX_DRIVER_BINS``, as 8 statements over it (init, 6
    iterations, lnL).  lnL rides the same snapped-integer sum
    discipline as the sufficient statistics.
    The rows return as a ``local_frame``, whose collect runs no job.

    INTENTIONAL: n is the histogram total — the count of non-NULL
    values the likelihood actually sees — not the raw row count."""
    rows = []
    fits = parity_em_spark_multi(
        spark, sf_dir, (2, 3, 4), ITERS_BIC, want_lnl=True
    )
    for k in (2, 3, 4):
        nd, _, lnl = fits[k]
        pd_ = float(3 * k - 1)
        bic = pd_ * X.xln(nd) - 2.0 * lnl
        rows.append((k, _round3(lnl), _round3(bic)))
    rows.sort(key=lambda r: r[2])
    return local_frame(
        spark, list(zip(*rows)), "k BIGINT, log_likelihood DOUBLE, bic DOUBLE"
    )
