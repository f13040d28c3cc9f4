"""Cross-engine bit-exact EM for the flagship GMM queries (r6).

Through r5, ``gmm_fit`` and ``q_gmm_bic`` were the ONLY two operators
without a DuckDB oracle (rows-only determinism checks): their numpy EM
uses libm ``exp``/``ln``, whose 1-ulp engine differences amplify over
iterations.  This module re-expresses the fixed-iteration EM so that
every arithmetic step is IEEE-exact-and-identical across Spark SQL,
DuckDB SQL, and CPython (see ``functions/xmath.py``), making the fits
hash-comparable — the same unrolled-iteration pattern already proven by
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
histogram scan (map-side combined — at 100 TB the only full pass),
then one tiny aggregation job per EM iteration over the checkpointed
histogram; shuffle volume is bin-count, never row-count.  The driver
holds 3K floats of state.  The DuckDB oracle replays the identical
computation as a flat materialized-CTE chain.

Reference: ``/root/reference`` ``Main.scala:59-92`` (EM loop; 5K+2
full data passes per iteration — SURVEY §3.3).  Textbook math
(Bishop PRML §9.2), not the reference's precedence bugs (SURVEY §2.3).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from ema_bigdata_spark.functions import xmath as X
from ema_bigdata_spark.registry import query
from ema_bigdata_spark.sources.tables import sql_on_tables

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
    NULLs (r8): a NaN or 1e308 bin would overflow the fixed-point
    snaps mid-iteration."""
    return (
        "SELECT value AS x, CAST(count(*) AS BIGINT) AS cnt"
        f" FROM {events_src}"
        " WHERE abs(value) <= 1e6 GROUP BY value"
    )


def init_ctes(src: str, k: int, tag: str,
              shared: str | None = None) -> tuple[list[tuple[str, str]], str]:
    """Init CTEs over the histogram ``src``: exact frequency-weighted
    percentile means (linear interpolation at p·(n−1), Spark
    ``percentile`` semantics), snapped-integer mean/variance.  Returns
    ``(ctes, final)`` where final has columns nd, n, mu0_1..k, s20.
    Pass ``shared`` = another fit's tag to reuse its cum/tot CTEs
    (they are k-independent) instead of re-emitting them."""
    pos = {}
    for j in range(1, k + 1):
        fr = f"(CAST({j} AS DOUBLE) / CAST({k + 1} AS DOUBLE))"
        pos[j] = f"({fr} * (CAST(n AS DOUBLE) - 1.0))"
    lo = {j: f"CAST(floor({pos[j]}) AS BIGINT)" for j in pos}
    frac = {
        j: f"({pos[j]} - CAST({lo[j]} AS DOUBLE))" for j in pos
    }
    inc = {
        j: f"(CASE WHEN {pos[j]} > CAST({lo[j]} AS DOUBLE)"
           f" THEN 1 ELSE 0 END)"
        for j in pos
    }
    qcols = []
    for j in range(1, k + 1):
        qcols.append(
            f"min(CASE WHEN cm >= {lo[j]} + 1 THEN x END) AS vlo{j}"
        )
        qcols.append(
            f"min(CASE WHEN cm >= {lo[j]} + 1 + {inc[j]} THEN x END)"
            f" AS vhi{j}"
        )
        qcols.append(f"max({frac[j]}) AS frac{j}")
    mu0 = ", ".join(
        f"(vlo{j} * (1.0 - frac{j}) + vhi{j} * frac{j}) AS mu0_{j}"
        for j in range(1, k + 1)
    )
    mu_fwd = ", ".join(f"mu0_{j}" for j in range(1, k + 1))
    base = shared if shared is not None else tag
    ctes: list[tuple[str, str]] = []
    if shared is None:
        ctes += [
            (f"{tag}_cum",
             f"SELECT x, cnt, SUM(cnt) OVER (ORDER BY x) AS cm"
             f" FROM {src}"),
            (f"{tag}_tot",
             "SELECT CAST(SUM(cnt) AS BIGINT) AS n, "
             f"CAST(SUM({_snap('x', SX_SC)} * cnt) AS BIGINT) AS s1u, "
             f"CAST(SUM({_snap('(x * x)', SXX_SC)} * cnt) AS BIGINT) AS s2u"
             f" FROM {src}"),
        ]
    ctes += [
        (f"{tag}_q",
         f"SELECT {', '.join(qcols)}"
         f" FROM {base}_cum CROSS JOIN {base}_tot"),
        (f"{tag}_i0",
         f"SELECT CAST(n AS DOUBLE) AS nd, n, s1u, s2u, {mu0}"
         f" FROM {tag}_q CROSS JOIN {base}_tot"),
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
    return ctes, f"{tag}_i2"


def iter_ctes(dialect: str, src: str, P: dict[str, str], k: int,
              tag: str, mode: str) -> tuple[list[tuple[str, str]], str]:
    """One EM pass over histogram ``src`` with parameter texts ``P``
    (keys mu{j}, s2{j}, nrm{j} [, lnc{j} for mode='lnl']).  mode='fit'
    emits the snapped sufficient-statistic sums n{j}u/sx{j}u/sxx{j}u;
    mode='lnl' emits the snapped log-likelihood sum lnlu."""
    J = range(1, k + 1)
    # Param texts are either plain column refs (oracle: the
    # cross-joined 1-row params CTE — these must be CARRIED through
    # the stage chain) or folded literal expressions (Spark — nothing
    # to carry; see parity_em_spark_multi's docstring for the measured
    # literal-vs-view decision).
    pnames = sorted({v for v in P.values() if v.isidentifier()})
    pfwd = (", " + ", ".join(pnames)) if pnames else ""
    zc = ", ".join(
        f"least(((x - {P[f'mu{j}']}) * (x - {P[f'mu{j}']}))"
        f" / (2.0 * {P[f's2{j}']}), {X.dlit_exact(X.EXP_CLAMP)}) AS zc{j}"
        for j in J
    )
    zarr = X.arr([f"zc{j}" for j in J], dialect)
    et = X.exp_neg_arr(zarr, dialect)
    zfwd = ", ".join(f"zc{j}" for j in J)
    wcols = ", ".join(
        f"{P[f'nrm{j}']} * {X.ix('et', j, dialect)} AS w{j}" for j in J
    )
    wfwd = ", ".join(f"w{j}" for j in J)
    rs = f"greatest({' + '.join(f'w{j}' for j in J)}, {_FLOOR})"
    ctes = [
        (f"{tag}_b",
         f"SELECT x, CAST(cnt AS DOUBLE) AS c{pfwd}, {zc} FROM {src}"),
        (f"{tag}_e",
         f"SELECT x, c{pfwd}, {zfwd}, {et} AS et FROM {tag}_b"),
        (f"{tag}_w",
         f"SELECT x, c{pfwd}, {zfwd}, {wcols} FROM {tag}_e"),
        (f"{tag}_r",
         f"SELECT x, c{pfwd}, {zfwd}, {wfwd}, {rs} AS rs FROM {tag}_w"),
    ]
    if mode == "fit":
        sums = []
        for j in J:
            g = f"(w{j} / rs)"
            sums.append(
                f"CAST(SUM({_snap(f'({g} * c)', N_SC)}) AS BIGINT)"
                f" AS n{j}u"
            )
            sums.append(
                f"CAST(SUM({_snap(f'(({g} * x) * c)', SX_SC)}) AS BIGINT)"
                f" AS sx{j}u"
            )
            sums.append(
                f"CAST(SUM({_snap(f'((({g} * x) * x) * c)', SXX_SC)})"
                f" AS BIGINT) AS sxx{j}u"
            )
        ctes.append((f"{tag}_s", f"SELECT {', '.join(sums)} FROM {tag}_r"))
        return ctes, f"{tag}_s"
    # mode == 'lnl': ln(rs) = lnb + atanh-series(rs / max-w), bounded
    # series argument in [1, k] (see module docstring)
    big = f"greatest({', '.join(f'w{j}' for j in J)})"
    ctes.append(
        (f"{tag}_m",
         f"SELECT c{pfwd}, {zfwd}, {wfwd}, rs,"
         f" greatest({big}, {_FLOOR}) AS bg"
         f" FROM {tag}_r")
    )
    # argmax-selected ln(w_max) ≈ lnc_m − zc_m; floor fallback when all
    # densities underflowed (bg clamped to the rs floor)
    cases = []
    for j in J:
        conds = [f"w{j} >= w{jj}" for jj in J if jj > j]
        lnb_j = f"({P[f'lnc{j}']} - zc{j})"
        if conds and j < k:
            cases.append(f"WHEN {' AND '.join(conds)} THEN {lnb_j}")
        else:
            cases.append(f"ELSE {lnb_j}")
    sel = f"CASE {' '.join(cases)} END"
    lnb = (
        f"(CASE WHEN {' + '.join(f'w{j}' for j in J)} <= {_FLOOR}"
        f" THEN {X.dlit_exact(math.log(1e-300))} ELSE {sel} END)"
    )
    ctes.append(
        (f"{tag}_l0", f"SELECT c, lnbv, (rs / bg) AS sv FROM"
                      f" (SELECT c, rs, bg, {lnb} AS lnbv FROM {tag}_m)")
    )
    a_steps = X.atanh_ln_series("sv", f"{tag}_a")
    # atanh steps reference earlier step columns → chain as CTEs
    prev = f"{tag}_l0"
    carry = ["c", "lnbv", "sv"]
    for n, e in a_steps:
        ctes.append(
            (f"cte_{n}", f"SELECT {', '.join(carry)}, {e} AS {n} FROM {prev}")
        )
        carry.append(n)
        prev = f"cte_{n}"
    final_a = a_steps[-1][0]
    ctes.append(
        (f"{tag}_lnl",
         f"SELECT CAST(SUM({_snap(f'((lnbv + {final_a}) * c)', LNL_SC)})"
         f" AS BIGINT) AS lnlu FROM {prev}")
    )
    return ctes, f"{tag}_lnl"


# ---- Python-side parameter fold (mirrors the oracle's CTE math) ---------


def init_fold(row, k: int) -> tuple[float, dict[str, float]]:
    """From the collected init row → (nd, params dict)."""
    nd = float(row["nd"])
    phi0 = 1.0 / float(k)
    s20 = float(row["s20"])
    P: dict[str, float] = {}
    for j in range(1, k + 1):
        P[f"mu{j}"] = float(row[f"mu0_{j}"])
        P[f"s2{j}"] = s20
        P[f"phi{j}"] = phi0
        P[f"nrm{j}"] = max(
            phi0 / math.sqrt(X.TWO_PI * s20), _FLOOR_F
        )
    return nd, P


def update_fold(row, nd: float, k: int) -> dict[str, float]:
    """From a collected sums row → next params (op-for-op mirror of the
    oracle's pa/pb/pc/pd CTE chain)."""
    P: dict[str, float] = {}
    for j in range(1, k + 1):
        nf = max(float(row[f"n{j}u"]) / _N_SCF, _FLOOR_F)
        phi = nf / nd
        mu = (float(row[f"sx{j}u"]) / _SX_SCF) / nf
        s2 = max((float(row[f"sxx{j}u"]) / _SXX_SCF) / nf - mu * mu, _VAR_FLOOR_F)
        P[f"phi{j}"] = phi
        P[f"mu{j}"] = mu
        P[f"s2{j}"] = s2
        P[f"nrm{j}"] = max(phi / math.sqrt(X.TWO_PI * s2), _FLOOR_F)
    return P


def update_ctes(sums_cte: str, tot_cte: str, k: int, tag: str
                ) -> tuple[list[tuple[str, str]], str]:
    """Oracle-side parameter update CTEs from a sums row (mirrors
    :func:`update_fold`)."""
    J = range(1, k + 1)
    nf = ", ".join(
        f"greatest(CAST(n{j}u AS DOUBLE) / {N_SC}, {_FLOOR}) AS nf{j}"
        for j in J
    )
    sums_fwd = ", ".join(
        f"sx{j}u, sxx{j}u" for j in J
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
        f"{phi0} AS phi{j}, mu0_{j} AS mu{j}, s20 AS s2{j}" for j in J
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
    """Designed loud refusal for an empty corpus (VERDICT r6 item 4):
    the init statement's histogram total is NULL when events.value has
    no non-NULL rows, and a mixture fit is undefined without data —
    refuse with the same friendly-ValueError posture as the similarity
    family's probe guards instead of crashing in ``init_fold``."""
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
    and ``localCheckpoint`` runs the aggregate through AQE, which
    coalesces its shuffle partitions to the data — one partition (one
    task per iteration job) for a narrow domain, as many as the
    advisory partition size asks for a wide one."""
    return sql_on_tables(spark, sf_dir, hist_sql("{events}")).localCheckpoint()


class _Fit:
    """One fit's window over a lockstep row's ``k{K}_``-prefixed columns."""

    def __init__(self, row, k):
        self._row, self._k = row, k

    def __getitem__(self, name):
        return self._row[f"k{self._k}_{name}"]


def parity_em_spark(spark: SparkSession, sf_dir: str, k: int, iters: int,
                    want_lnl: bool = False, hist: DataFrame | None = None):
    """One fit of :func:`parity_em_spark_multi`; returns ``(nd, P, lnl)``."""
    return parity_em_spark_multi(spark, sf_dir, (k,), iters, want_lnl, hist)[k]


def parity_em_spark_multi(spark: SparkSession, sf_dir: str,
                          ks: tuple[int, ...], iters: int,
                          want_lnl: bool = False,
                          hist: DataFrame | None = None):
    """Run the bit-exact EM on Spark for one or more independent K values
    in lockstep over ONE histogram (``hist``, or a fresh
    :func:`prepare_hist`): one statement for all inits, then ONE
    statement per iteration (SURVEY §4.3) computing every fit's
    sufficient-statistic sums — per-fit CTE chains cross-joined at the
    end, columns prefixed ``k{K}_``.  Params fold driver-side with the
    Python mirrors between statements (``update_fold`` is the op-for-op
    mirror of the oracle's ``update_ctes`` — same IEEE ops on the same
    doubles).  Returns ``{k: (nd, P, lnl)}``.

    The histogram is bound into each statement as ``{hist}`` through
    ``spark.sql`` keyword arguments, so no view outlives a statement.
    Each fit's expressions are the same text whatever else runs beside
    it, so a lockstep run is bit-identical to separate one-K runs
    (asserted by TestParityEMInvariants); merging K values only cuts
    the per-statement fixed cost (~0.35 s of analyze+JIT+schedule) from
    ``len(ks)``× to 1× per iteration — 5.1 → ~2.6 s for q_gmm_bic at
    sf0.1.  Merging keeps tree depth constant; unrolling several
    iterations into one statement does not, and Catalyst optimizer cost
    grows superlinearly with depth (sf0.1, 15-iteration fit: 4.2 s
    per-iteration vs 5.7/7.5/28.6 s at 3/5/15 iterations per statement —
    ROUND8_NOTES §9).

    Params fold as literals: a 1-row params view cross-joined for a
    constant statement text costs a createDataFrame round-trip plus a
    broadcast join per iteration and times worse (9 s vs 5.5 s for the
    15-iteration fit at sf0.1)."""
    if hist is None:
        hist = prepare_hist(spark, sf_dir)

    def collect(ctes, parts):
        q = _with(ctes, "SELECT * FROM " + " CROSS JOIN ".join(parts))
        return spark.sql(q, hist=hist).collect()[0]

    def prefixed(cols, k, fin):
        return (f"(SELECT {', '.join(f'{c} AS k{k}_{c}' for c in cols)}"
                f" FROM {fin}) t{k}")

    # one statement for ALL inits (cum/tot shared across k)
    ctes: list[tuple[str, str]] = []
    parts = []
    for i, k in enumerate(ks):
        shared = f"i{ks[0]}" if i > 0 else None
        ic, fin = init_ctes("{hist}", k, f"i{k}", shared=shared)
        ctes += ic
        cols = ["nd", "n"] + [f"mu0_{j}" for j in range(1, k + 1)] + ["s20"]
        parts.append(prefixed(cols, k, fin))
    row = collect(ctes, parts)
    _require_nonempty(row[f"k{ks[0]}_n"])
    state = {k: init_fold(_Fit(row, k), k) for k in ks}

    for _ in range(iters):
        ctes, parts = [], []
        for k in ks:
            pt = {key: X.dlit_exact(val) for key, val in state[k][1].items()}
            ic, fin = iter_ctes("spark", "{hist}", pt, k, f"m{k}", "fit")
            ctes += ic
            cols = [f"{a}{j}u" for j in range(1, k + 1)
                    for a in ("n", "sx", "sxx")]
            parts.append(prefixed(cols, k, fin))
        row = collect(ctes, parts)
        for k in ks:
            nd = state[k][0]
            state[k] = (nd, update_fold(_Fit(row, k), nd, k))

    if not want_lnl:
        return {k: (nd, P, None) for k, (nd, P) in state.items()}
    ctes, parts = [], []
    for k in ks:
        P = state[k][1]
        pt = {key: X.dlit_exact(val) for key, val in P.items()}
        for j in range(1, k + 1):
            pt[f"lnc{j}"] = X.dlit_exact(X.xln(P[f"nrm{j}"]))
        ic, fin = iter_ctes("spark", "{hist}", pt, k, f"l{k}", "lnl")
        ctes += ic
        parts.append(prefixed(["lnlu"], k, fin))
    row = collect(ctes, parts)
    return {k: (nd, P, float(row[f"k{k}_lnlu"]) / _LNL_SCF)
            for k, (nd, P) in state.items()}


# ---- DuckDB oracle builders ---------------------------------------------


def _oracle_em_ctes(k: int, iters: int, tag: str, want_lnl: bool
                    ) -> tuple[list[tuple[str, str]], str, str]:
    """Full oracle CTE list for one fit; returns (ctes, params_cte,
    lnl_cte_or_None)."""
    ctes: list[tuple[str, str]] = []
    ictes, ifin = init_ctes(f"{tag}_hist", k, f"{tag}_ini")
    ctes += ictes
    pctes, pcur = init_param_ctes(ifin, k, f"{tag}_x0")
    ctes += pctes
    for i in range(1, iters + 1):
        P = {key: f"{key}" for key in
             [f"{a}{j}" for j in range(1, k + 1)
              for a in ("mu", "s2", "nrm")]}
        src = f"{tag}_hist CROSS JOIN {pcur}"
        bctes, bfin = iter_ctes("duckdb", src, P, k, f"{tag}_x{i}", "fit")
        ctes += bctes
        uctes, pcur = update_ctes(bfin, f"{tag}_ini_tot", k, f"{tag}_x{i}")
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
        lctes, lnl_cte = iter_ctes("duckdb", src, P, k, f"{tag}_ll", "lnl")
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
        lnl = f"(CAST(lnlu AS DOUBLE) / {LNL_SC})"
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
    (K=3, fixed 15 iterations) — now hash-checked against a DuckDB
    replay via the bit-exact parity EM (module docstring); through r5
    this was rows-only.  One histogram scan + 15 histogram-sized
    aggregation jobs; the driver holds 9 floats of state."""
    _, P, _ = parity_em_spark(spark, sf_dir, K_FIT, ITERS_FIT)
    rows = [
        (j - 1, _round6(P[f"phi{j}"]), _round6(P[f"mu{j}"]),
         _round6(P[f"s2{j}"]))
        for j in range(1, K_FIT + 1)
    ]
    return spark.createDataFrame(
        rows, "component BIGINT, weight DOUBLE, mean DOUBLE, variance DOUBLE"
    )


@query("q_gmm_bic", oracle=gmm_bic_oracle_sql())
def q_gmm_bic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model selection over K ∈ {2,3,4} via BIC = (3K−1)·ln n − 2·lnL
    (6 fixed iterations per candidate, lnL evaluated at the final
    parameters) — hash-checked against a DuckDB replay (module
    docstring); through r5 this was rows-only.  ONE histogram scan
    shared by all three fits; lnL rides the same snapped-integer sum
    discipline as the sufficient statistics.

    INTENTIONAL (since r2): n is the histogram total — the count of
    non-NULL values the likelihood actually sees — not the raw row
    count."""
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
    return spark.createDataFrame(
        rows, "k BIGINT, log_likelihood DOUBLE, bic DOUBLE"
    )
