"""The package's one EM engine, bit-exact across Spark, CPython and DuckDB.

It backs the library :func:`ema_bigdata_spark.gmm.gmm_fit` and the
registered ``gmm_fit`` and ``q_gmm_bic``, which are hash-checked
against a DuckDB replay.  A numpy EM on libm ``exp``/``ln`` could not
be: those differ by an ulp between engines and EM feedback amplifies
the difference.  Here every arithmetic step is IEEE-exact and identical
across Spark SQL, DuckDB SQL and CPython (``functions/xmath.py``):
- per-row density math is SHARED SQL text (dialects differ only in
  the exp's form, scalar CTE stages on Spark vs ``list_transform``s
  over an array on DuckDB, the same ops either way, and parameters as
  folded ``xmath.dlit_exact`` literals on Spark vs CTE column refs on
  DuckDB, whose literal parser is off by an ulp on some doubles);
- sufficient statistics and lnL are snapped to integers per bin
  (``floor(v·scale + 0.5)``) BEFORE summation, so the sums are
  order-free.  The Spark and numpy executors sum them exactly at any
  row count: a snap stays an exact double, splits into int64 limbs at
  :func:`_layouts` (one limb unless the histogram's largest |x| and
  counts say a snap can outgrow it), and the limb sums recombine in
  Python ints.  A snap that is not finite raises on both;
- parameter updates are a handful of scalar double ops, mirrored
  op-for-op between Python and the oracle's CTEs;
- ``exp`` is the 16-squaring polynomial (``exp_neg_arr``), per-row
  ``ln`` the argmax-component factorization ``ln(rs) = ln(w_max) +
  ln(rs/w_max)`` (series argument bounded in [1, K]), scalar ``ln``
  Python ``xln`` / a DuckDB CTE chain of the same ops.

Spark-first shape (SURVEY §4.3): ONE distributed ``groupBy(value)``
histogram scan (map-side combined — at 100 TB the only full pass),
cached and probed once with ``limit(gmm.MAX_DRIVER_BINS +
1).toArrow()``, which fills the cache and picks the executor (3 jobs).
- Driver executor, at most ``gmm.MAX_DRIVER_BINS`` bins (every
  2-decimal domain: ~60 k bins whatever the row count): the probe holds
  the whole histogram, and a numpy mirror of the statements runs the
  init, the iterations and the lnL over it in the same IEEE ops.  No
  further job, whatever K or the iteration count.
- Spark executor, a wider histogram: ``local_checkpoint`` of the cache
  (one job), then one statement for its bounds (bins, largest |x|,
  largest count), one for the init and one per EM step, each one
  projection chain over the checkpoint plus one aggregate, however
  many K values run in lockstep: no second scan, no join, no
  broadcast.  Over a one-partition histogram each statement is ONE job
  with no exchange (the checkpoint is ``SinglePartition``); a
  histogram of several partitions keeps its single-partition shuffle.

The cache is released before the first step either way, the checkpoint
when the fit ends, and the executors agree bit for bit
(tests/test_properties.py ``TestParityEMInvariants``).  The DuckDB oracle replays the same
computation as a flat materialized-CTE chain from the same text
builders, with one BIGINT ``SUM`` per snapped statistic.

Reference: the Scala ``Main.scala:59-92`` EM loop (5K+2 full data
passes per iteration — SURVEY §3.3).  Textbook math (Bishop PRML
§9.2), not the reference's precedence bugs (SURVEY §2.3).
"""

from __future__ import annotations

import math
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from ema_bigdata_spark import gmm
from ema_bigdata_spark.functions import xmath as X
from ema_bigdata_spark.registry import query
from ema_bigdata_spark.sources.tables import (
    local_checkpoint,
    local_frame,
    release_checkpoint,
    sql_on_tables,
)

#: sufficient-statistic snap scales: the snap sits below EM's
#: statistical noise by ≥ 6 orders.  The oracle sums each snap in one
#: BIGINT — headroom at |x| ≤ 1e3: n·1e9 < 2⁶³ to ~9e9 rows, Σgxc·1e6
#: to ~9e9 rows, Σgx²c·1e4 to ~9e8 rows; the Spark and numpy executors
#: sum in limbs and have no such bound.
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
#: bound on a bin's |lnL term| / cnt: |ln _FLOOR_F| + EXP_CLAMP (the
#: lowest ln w), the ln of the largest normalizer (≤ 13 at the variance
#: floor) and ln K (the series term), with room to spare
_LNL_TOP = 2048.0
_SNAP_ERR = "parity EM: a snapped statistic is not finite or overflows"

K_FIT = 3
ITERS_FIT = 15
ITERS_BIC = 6


# ---- shared SQL text builders -------------------------------------------


def _snap(expr: str, scale: str) -> str:
    """The oracle's snap: a BIGINT, raising where it leaves int64."""
    return f"CAST(floor((({expr}) * {scale}) + 0.5) AS BIGINT)"


def _exact_floor(u: str, bound: float) -> str:
    """Spark's snap of ``u = v·scale + 0.5``: ``floor(u)`` as an exact
    DOUBLE, raising where ``|u| ≥ bound`` or ``u`` is not finite.
    Spark's ``floor(DOUBLE)`` converts with JVM d2l (NaN → 0, past 2^63
    saturates, even under ANSI), so this floors in doubles: ``r = u %
    1.0`` is exact, ``u − r`` truncates exactly, and ``− 1`` where
    ``r < 0`` makes it a true floor, so negative ties match the
    oracle's (larger doubles than 2^52 are integers, ``r = 0``)."""
    u = f"({u})"
    r = f"({u} % 1.0)"
    return (
        f"CASE WHEN NOT abs({u}) < {X.dlit_exact(bound)}"
        f" THEN raise_error('{_SNAP_ERR}')"
        f" WHEN {r} < 0.0 THEN ({u} - {r}) - 1.0 ELSE {u} - {r} END"
    )


def _limb_shifts(nbins: int, top: int) -> list[int]:
    """Bit boundaries of the int64 limbs a snap below 2^top is split
    into: the multiples of ``w = 62 − bit_length(nbins)`` below
    ``top``, then ``top``; limb i holds bits ``[b[i], b[i+1])``.  Each
    limb is < 2^w and ``nbins < 2^bit_length``, so a limb's sum over all
    bins stays below 2^62 and cannot overflow int64 at any bin count."""
    w = 62 - nbins.bit_length()
    if w < 1:
        raise ValueError(f"histogram too wide for int64 limb sums: {nbins}")
    return list(range(0, top, w)) + [top]


def _layouts(bounds: tuple, e: int) -> tuple[list[int], list[int]]:
    """The :func:`_limb_shifts` of the init's and of an iteration's
    sums over a histogram with ``bounds = (nbins, max |x|, max cnt,
    n)``, scaled by 2^e.  The init sums each bin's x and x² snaps
    weighted by its count, so its limbs are sized for ``n`` terms; an
    iteration's per-bin terms carry their count and a γ ≤ 1, so none
    reaches ``max cnt·max(scale·|term| / cnt)``.  One limb covers every
    snap of a 2-decimal domain.  A snap past its layout raises rather
    than wraps (:func:`_exact_floor`)."""
    nbins, mx, mc, n = bounds
    mx = math.ldexp(mx, e)
    x1, x2 = _SX_SCF * mx, _SXX_SCF * mx * mx
    it = float(mc) * max(_N_SCF, x1, x2, _LNL_SCF * _LNL_TOP)
    if not math.isfinite(it):
        raise OverflowError(_SNAP_ERR)
    # a snap of a term below b is below 2^(exponent of b + 1)
    return (_limb_shifts(n, math.frexp(max(x1, x2))[1] + 1),
            _limb_shifts(nbins, math.frexp(it)[1] + 1))


def _pow2_exponent(mx: float) -> int:
    """The ``e ≥ 0`` that lifts a largest |x| ``mx`` below 2^8 into
    [2^8, 2^9): the snap steps are absolute (1e-6 for Σγx, 1e-4 for
    Σγx²), sized for data like ``events.value`` (largest |x| 490–600,
    ``e = 0``), and a fit of values near 1e-3 would lose its variances
    to them.  Scaling by 2^e is exact, so below 2^8 the fit is the same
    for the data at every power-of-two scale.  0 for ``mx = 0``; capped
    where 2^e is still a normal double."""
    return min(max(9 - math.frexp(mx)[1], 0), 1023) if mx > 0.0 else 0


def _sum_ctes(src: str, sums: dict[str, tuple[str, str]], out: str,
              limbs: list[int] | None) -> list[tuple[str, str]]:
    """CTEs ending in the one-row aggregate ``out`` of each per-bin
    term's snap, for ``sums``: name → (term text, scale).  Without
    ``limbs`` (the oracle): one BIGINT ``SUM`` per name.  With the
    :func:`_limb_shifts` boundaries (Spark): :func:`_limb_ctes`' limb
    sums."""
    if limbs is None:
        return [(out, "SELECT " + ", ".join(
            f"CAST(SUM({_snap(t, s)}) AS BIGINT) AS {n}"
            for n, (t, s) in sums.items()) + f" FROM {src}")]
    ctes, cols = _limb_ctes(src, sums, out, limbs)
    return ctes + [(out, f"SELECT {cols} FROM {out}_f")]


def _limb_ctes(src: str, sums: dict[str, tuple[str, str]], out: str,
               limbs: list[int], keep: str = "", weight: str = ""
               ) -> tuple[list[tuple[str, str]], str]:
    """``(ctes, cols)``: CTEs over ``src`` ending in ``{out}_f``, which
    holds the :func:`_exact_floor` snap of each term in ``sums`` (name
    → (term text, scale)), raising at or past 2^top, beside the
    columns ``keep``; and the aggregate columns summing each snap's
    magnitude split into BIGINT limbs at ``limbs``, times ``weight``,
    one plain ``SUM`` each (``{name}_q{i}``, folded back by
    :func:`_recombine`).  Each limb is computed flat from the
    magnitude, ``|f| % 2^hi / 2^lo`` (exact on a non-negative double),
    and then signed: a floor-mod of a negative value, ``2^s − |d|``,
    can need ``s`` significand bits and round."""
    ctes = [
        (f"{out}_u", f"SELECT {keep}" + ", ".join(
            f"(({t}) * {s}) + 0.5 AS u_{n}" for n, (t, s) in sums.items())
         + f" FROM {src}"),
        (f"{out}_f", f"SELECT {keep}" + ", ".join(
            f"{_exact_floor(f'u_{n}', 2.0 ** limbs[-1])} AS f_{n}"
            for n in sums)
         + f" FROM {out}_u"),
    ]
    cols = ", ".join(
        f"SUM(CASE WHEN f_{n} < 0 THEN -1L ELSE 1L END * floor("
        f"(abs(f_{n}) % {X.dlit_exact(2.0 ** hi)})"
        f" / {X.dlit_exact(2.0 ** lo)}){weight}) AS {n}_q{i}"
        for n in sums for i, (lo, hi) in enumerate(zip(limbs, limbs[1:]))
    )
    return ctes, cols


def _recombine(row: dict, limbs: list[int]) -> dict:
    """A row with :func:`_limb_ctes` limb sums → the same row with each
    name's limbs folded into one exact Python int."""
    out: dict = {}
    for key, v in row.items():
        name, sep, i = key.rpartition("_q")
        if sep and i.isdigit():
            out[name] = out.get(name, 0) + (int(v) << limbs[int(i)])
        else:
            out[key] = v
    return out


def hist_sql(events_src: str) -> str:
    """The ONE data-proportional pass: exact (value, count) histogram
    (map-side combined on Spark; shuffle = distinct values).  Values
    outside the fit domain |x| ≤ 1e6 (NaN/±Inf compare greater than any
    finite bound on both engines; NULL fails the predicate) are
    excluded like NULLs: a NaN or 1e308 bin would make the snaps raise,
    and one corrupt double must not kill a fit."""
    return (
        "SELECT value AS x, CAST(count(*) AS BIGINT) AS cnt"
        f" FROM {events_src}"
        " WHERE abs(value) <= 1e6 GROUP BY value"
    )


def init_ctes(dialect: str, src: str, ks: tuple[int, ...], tag: str,
              limbs: list[int] | None = None
              ) -> tuple[list[tuple[str, str]], str, str]:
    """Init CTEs over the histogram ``src`` for every K in ``ks``: exact
    frequency-weighted percentile means (linear interpolation at
    p·(n−1), Spark ``percentile`` semantics) and the snapped-integer
    moments.  One window pass carries the running count ``cm`` and the
    total ``tot`` on every bin; one aggregate over it emits ``n``, the
    snapped sums ``s1u``/``s2u`` and each fit's
    ``k{K}_vlo{j}``/``k{K}_vhi{j}``/``k{K}_frac{j}``.  Returns
    ``(ctes, agg, final)``: ``agg`` is that aggregate (the oracle's
    update reads ``n`` from it), ``final`` has n, nd and
    ``k{K}_mu0_1..K``.  The oracle sums snap·cnt in BIGINT and its
    ``final`` adds s20 (K-independent).  Spark sums the snaps in
    :func:`_limb_ctes` limbs weighted by cnt, at the init layout
    ``limbs`` of :func:`_layouts`; its ``final`` carries the limb sums
    instead, and :func:`init_fold` derives the moments from the exact
    ints, as for the driver executor."""
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
    snaps = {"s1u": ("x", SX_SC), "s2u": ("(x * x)", SXX_SC)}
    ctes = [
        (f"{tag}_cum",
         "SELECT x, cnt, SUM(cnt) OVER (ORDER BY x) AS cm,"
         f" SUM(cnt) OVER () AS tot FROM {src}"),
    ]
    if dialect == "spark":
        lctes, sums = _limb_ctes(f"{tag}_cum", snaps, f"{tag}_s", limbs,
                                 keep="x, cnt, cm, tot, ", weight=" * cnt")
        ctes += lctes
        agg_src = f"{tag}_s_f"
        fwd = ", ".join(f"{n}_q{i}" for n in snaps
                        for i in range(len(limbs) - 1))
    else:
        sums = ", ".join(f"CAST(SUM({_snap(t, s)} * cnt) AS BIGINT) AS {n}"
                         for n, (t, s) in snaps.items())
        agg_src = f"{tag}_cum"
        fwd = "s1u, s2u"
    ctes += [
        (f"{tag}_q",
         f"SELECT CAST(max(tot) AS BIGINT) AS n, {sums},"
         f" {', '.join(qcols)} FROM {agg_src}"),
        (f"{tag}_i0",
         f"SELECT CAST(n AS DOUBLE) AS nd, n, {fwd},"
         f" {', '.join(mu0)} FROM {tag}_q"),
    ]
    if dialect == "spark":
        return ctes, f"{tag}_q", f"{tag}_i0"
    ctes += [
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
              tag: str, mode: str, limbs: list[int] | None = None
              ) -> tuple[list[tuple[str, str]], str]:
    """One EM pass over histogram ``src`` for every fit in ``params``
    (K → parameter texts keyed mu{j}, s2{j}, nrm{j} [, lnc{j} for
    mode='lnl' or 'both']).  All fits share one projection chain and
    one aggregate, their columns prefixed ``k{K}_``; each column's
    expression is the same text whatever other fits run beside it, so
    a lockstep pass is bit-identical to separate one-K passes.
    mode='fit' emits the snapped sufficient-statistic sums
    ``k{K}_n{j}u``/``k{K}_sx{j}u``/``k{K}_sxx{j}u``; mode='lnl' emits
    the snapped log-likelihood sums ``k{K}_lnlu``; mode='both' emits
    all of them from one aggregate, the lnL at the same params the
    statistics use.  ``limbs`` selects :func:`_sum_ctes`' limb sums
    (Spark); without it each snap sums in one BIGINT (the oracle)."""
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
    zfwd = ", ".join(f"{c}zc{j}" for _, _, c, J in fits for j in J)
    wcols = ", ".join(
        f"{P[f'nrm{j}']} * "
        + (f"{c}e{j}" if dialect == "spark" else X.ix(f"{c}et", j, dialect))
        + f" AS {c}w{j}"
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
        *_exp_ctes(dialect, fits, tag, pfwd, zfwd),
        (f"{tag}_w",
         f"SELECT x, c{pfwd}, {zfwd}, {wcols} FROM {tag}_e"),
        (f"{tag}_r",
         f"SELECT x, c{pfwd}, {zfwd}, {wfwd}, {rs} FROM {tag}_w"),
    ]
    stats: dict[str, tuple[str, str]] = {}
    if mode != "lnl":
        for _, _, c, J in fits:
            for j in J:
                g = f"({c}w{j} / {c}rs)"
                stats[f"{c}n{j}u"] = (f"({g} * c)", N_SC)
                stats[f"{c}sx{j}u"] = (f"(({g} * x) * c)", SX_SC)
                stats[f"{c}sxx{j}u"] = (f"((({g} * x) * x) * c)", SXX_SC)
    if mode == "fit":
        ctes += _sum_ctes(f"{tag}_r", stats, f"{tag}_s", limbs)
        return ctes, f"{tag}_s"
    # mode 'lnl'/'both': ln(rs) = lnb + atanh-series(rs / max-w),
    # bounded series argument in [1, k] (see module docstring).  'both'
    # computes the statistics' per-bin terms here and carries them to
    # the one aggregate at the end of the series.
    terms = "".join(f", {t} AS t_{n}" for n, (t, _) in stats.items())
    tfwd = "".join(f", t_{n}" for n in stats)
    bg = ", ".join(
        f"greatest({', '.join(f'{c}w{j}' for j in J)}, {_FLOOR}) AS {c}bg"
        for _, _, c, J in fits
    )
    ctes.append(
        (f"{tag}_m",
         f"SELECT c{pfwd}, {zfwd}, {wfwd}, {rfwd}, {bg}{terms}"
         f" FROM {tag}_r")
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
    carry = (["c"] + [f"t_{n}" for n in stats]
             + [f"{c}{v}" for _, _, c, _ in fits for v in ("lnbv", "sv")])
    sv = ", ".join(f"{c}lnbv, ({c}rs / {c}bg) AS {c}sv"
                   for _, _, c, _ in fits)
    rbg = ", ".join(f"{c}rs, {c}bg" for _, _, c, _ in fits)
    ctes.append(
        (f"{tag}_l0", f"SELECT c{tfwd}, {sv} FROM"
                      f" (SELECT c{tfwd}, {rbg}, {', '.join(lnbs)}"
                      f" FROM {tag}_m)")
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
    sums = {n: (f"t_{n}", s) for n, (_, s) in stats.items()}
    for (_, _, c, _), s in zip(fits, series):
        sums[f"{c}lnlu"] = (f"(({c}lnbv + {s[-1][0]}) * c)", LNL_SC)
    ctes += _sum_ctes(prev, sums, f"{tag}_lnl", limbs)
    return ctes, f"{tag}_lnl"


# ---- Python-side parameter fold (mirrors the oracle's CTE math) ---------


def _exp_ctes(dialect: str, fits, tag: str, pfwd: str, zfwd: str
              ) -> list[tuple[str, str]]:
    """The CTEs from ``{tag}_b`` to ``{tag}_e``, which adds each fit's
    densities' exp: the oracle's one ``{c}et`` array column, or on
    Spark the scalar ``{c}e{j}`` columns of
    :func:`xmath.exp_neg_stages`, one CTE per stage (same bits, a
    fraction of the interpreted ``transform`` cost)."""
    if dialect != "spark":
        et = ", ".join(
            f"{X.exp_neg_arr(X.arr([f'{c}zc{j}' for j in J], dialect), dialect)}"
            f" AS {c}et"
            for _, _, c, J in fits
        )
        return [(f"{tag}_e", f"SELECT x, c{pfwd}, {zfwd}, {et} FROM {tag}_b")]
    stages = X.exp_neg_stages(
        [f"{c}zc{j}" for _, _, c, J in fits for j in J],
        [f"{c}e{j}" for _, _, c, J in fits for j in J])
    ctes, prev = [], f"{tag}_b"
    for i, stage in enumerate(stages):
        name = f"{tag}_e" if i == len(stages) - 1 else f"{tag}_e{i}"
        ctes.append((name, f"SELECT x, c{pfwd}, {zfwd}, "
                     + ", ".join(f"{e} AS {n}" for n, e in stage)
                     + f" FROM {prev}"))
        prev = name
    return ctes


def init_fold(row, k: int) -> tuple[float, dict[str, float]]:
    """From the init row (n, the exact snapped sums s1u/s2u and the
    percentile means) → fit K's (nd, params dict); the mean and
    variance fold mirrors the oracle's ``_i1``/``_i2`` CTEs."""
    nd = float(int(row["n"]))
    mean0 = (float(int(row["s1u"])) / _SX_SCF) / nd
    s20 = max((float(int(row["s2u"])) / _SXX_SCF) / nd - mean0 * mean0,
              _VAR_FLOOR_F)
    phi0 = 1.0 / float(k)
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


# ---- the EM loop and its two executors ---------------------------------


def _require_nonempty(n) -> None:
    """Loud refusal for an empty corpus: the init's histogram total is
    NULL (or 0) when no value lies in the fit domain, and a mixture fit
    is undefined without data — refuse with the same friendly
    ValueError as the similarity family's probe guards instead of
    crashing in ``init_fold``."""
    if n is None or n == 0:
        raise ValueError(
            "gmm: empty corpus — no non-NULL value in the fit domain;"
            " a mixture fit is undefined without data"
        )


def _with(ctes: list[tuple[str, str]], final_sql: str,
          materialized: bool = False) -> str:
    mat = " MATERIALIZED" if materialized else ""
    body = ", ".join(f"{n} AS{mat} ({b})" for n, b in ctes)
    return f"WITH {body} {final_sql}"


def events_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (value, count) histogram of ``events.value`` as a lazy frame
    (:func:`hist_sql`); :func:`run_em` materializes it."""
    return sql_on_tables(spark, sf_dir, hist_sql("{events}"))


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
    """:func:`run_em` for independent K values in lockstep, ``iters``
    fixed iterations over ONE histogram (``hist``, or
    :func:`events_hist`); returns ``{k: (nd, P, lnl)}``, ``lnl`` at the
    final params when ``want_lnl``.  A lockstep run is bit-identical to
    separate one-K runs (TestParityEMInvariants); on Spark it only cuts
    the per-statement fixed cost (~0.35 s) from ``len(ks)``× to 1×."""
    if hist is None:
        hist = events_hist(spark, sf_dir)
    return run_em(hist, ks, iters, want_lnl=want_lnl)[0]


def _with_lnc(params: dict[int, dict[str, float]]) -> dict:
    """Each fit's params plus ``lnc{j}`` = ln of its normalizers, which
    an lnL step reads."""
    return {k: {**P, **{f"lnc{j}": X.xln(P[f"nrm{j}"])
                        for j in range(1, k + 1)}}
            for k, P in params.items()}


def run_em(hist: DataFrame, ks: tuple[int, ...], iters: int,
           tol: float | None = None, want_lnl: bool = False,
           scale_free: bool = False):
    """The package's one EM loop: up to ``iters`` iterations of every fit
    in ``ks``, in lockstep over the ``(x, cnt)`` histogram ``hist``;
    returns ``({k: (nd, P, lnl)}, {k: lnL trace})``.  Params fold on the
    driver between the steps of :func:`_executor`'s pick.

    Without ``tol`` each step sums the sufficient statistics and every
    iteration runs (the registered queries' fixed budget); ``want_lnl``
    adds one step for the lnL at the final params.  With ``tol`` each
    step also sums, in the same pass, the lnL at the params it starts
    from onto the trace, and the loop stops once every fit has
    ``|ΔlnL| < tol`` or an update that returned parameters it had
    already reached: from there the fit repeats a cycle (a fixed point
    is the cycle of length 1) and every later iteration would repeat
    it (a mean of ±0.0 compares equal, and means only enter squared).
    ``tol = 0`` therefore stops only on such a repeat.

    ``scale_free`` fits the histogram scaled by :func:`_pow2_exponent`'s
    2^e (data whose largest |x| is below 2^8 is lifted into [2^8, 2^9),
    so the snaps' absolute steps stay small against its variances) and
    returns the params and lnL in the data's units; the registered
    queries fit ``events.value`` as it is, like their oracle."""
    _check_fit_args(ks, iters)
    with _executor(hist) as (bounds, steps):
        e = _pow2_exponent(bounds[1]) if scale_free else 0
        init, step = steps(e)
        row = init(ks)
        _require_nonempty(row["n"])
        fits = {k: init_fold(row, k) for k in ks}
        seen = {k: {_state(P)} for k, (_, P) in fits.items()}
        traces: dict[int, list[float]] = {k: [] for k in ks}
        for _ in range(iters):
            params = {k: P for k, (_, P) in fits.items()}
            if tol is None:
                row = step(params, "fit")
            else:
                row = step(_with_lnc(params), "both")
                for k, tr in traces.items():
                    tr.append(float(row[f"k{k}_lnlu"]) / _LNL_SCF)
            fits = {k: (nd, update_fold(row, nd, k))
                    for k, (nd, _) in fits.items()}
            done = tol is not None
            for k, tr in traces.items():
                state = _state(fits[k][1])
                done &= (state in seen[k]
                         or (len(tr) > 1 and abs(tr[-1] - tr[-2]) < tol))
                seen[k].add(state)
            if done:
                break
        lnl = dict.fromkeys(ks)
        if want_lnl:
            row = step(_with_lnc({k: P for k, (_, P) in fits.items()}), "lnl")
            lnl = {k: float(row[f"k{k}_lnlu"]) / _LNL_SCF for k in ks}
    # ln p(x) = ln p_e(x·2^e) + e·ln 2 for the density p_e of the fit
    # in scaled units
    shift = {k: nd * (e * X.LN2) for k, (nd, _) in fits.items()}
    return ({k: (nd, _unscale(P, e),
                 None if lnl[k] is None else lnl[k] + shift[k])
             for k, (nd, P) in fits.items()},
            {k: [v + shift[k] for v in tr] for k, tr in traces.items()})


def _state(P: dict[str, float]) -> tuple:
    return tuple(sorted(P.items()))


def _unscale(P: dict[str, float], e: int) -> dict[str, float]:
    """Params fitted to the data scaled by 2^e → the data's units
    (exact: each is a power-of-two multiple)."""
    power = {"phi": 0, "mu": -e, "s2": -2 * e, "nrm": e}
    return {key: math.ldexp(v, next(p for name, p in power.items()
                                    if key.startswith(name)))
            for key, v in P.items()}


@contextmanager
def _executor(hist: DataFrame):
    """``(bounds, steps)`` over ``hist`` for the duration of a fit:
    ``bounds = (nbins, max |x|, max cnt, n)`` and ``steps(e)`` →
    ``(init, step)`` over the histogram scaled by 2^e, its limb layouts
    from :func:`_layouts` — the driver executor when ``hist`` has
    at most ``gmm.MAX_DRIVER_BINS`` bins (read at call time), else the
    Spark statements.  The probe fills ``hist``'s cache, so a wide
    histogram is not computed again for the ``local_checkpoint`` (one
    job) that gives the statements their ``SinglePartition`` layout;
    statements over the bare cache would plan an exchange each.  AQE
    sizes the cached plan (``session.RUNTIME_CONFS``): a ~30 k-bin
    histogram builds and probes in one task each.  The cache is
    released before the first step, the checkpoint when the fit ends."""
    cached = hist.cache()
    try:
        head = cached.limit(gmm.MAX_DRIVER_BINS + 1).toArrow()
        wide = head.num_rows > gmm.MAX_DRIVER_BINS
        ckpt = local_checkpoint(cached) if wide else None
    finally:
        cached.unpersist()
    if ckpt is None:
        yield _driver_steps(head)
        return
    try:
        yield _spark_steps(ckpt)
    finally:
        release_checkpoint(ckpt)


def _spark_steps(hist: DataFrame):
    """``(bounds, steps)`` running one aggregate for the bounds, then
    :func:`init_ctes` / :func:`iter_ctes` as Spark statements over
    ``hist`` (bound as ``{hist}`` through ``spark.sql`` keyword
    arguments) scaled in a leading CTE, each returning its one-row
    result, limb sums recombined.  Params fold in as exact literals: a
    cross-joined 1-row params view costs a createDataFrame round-trip
    plus a broadcast join per iteration (9 s vs 5.5 s for the
    15-iteration fit at sf0.1), and unrolling iterations into one
    statement grows Catalyst's cost superlinearly (4.2 s per-iteration
    vs 5.7/7.5/28.6 s at 3/5/15 iterations per statement)."""
    spark = hist.sparkSession

    def collect(ctes, fin):
        q = _with(ctes, f"SELECT * FROM {fin}")
        return spark.sql(q, hist=hist).collect()[0].asDict()

    b = spark.sql(
        "SELECT count(*) AS nbins, coalesce(max(abs(x)), 0.0) AS mx,"
        " coalesce(max(cnt), 0) AS mc, coalesce(sum(cnt), 0) AS n"
        " FROM {hist}", hist=hist).collect()[0]
    bounds = (int(b["nbins"]), float(b["mx"]), int(b["mc"]), int(b["n"]))

    def steps(e):
        init_limbs, limbs = _layouts(bounds, e)
        src = [("h", f"SELECT x * {X.dlit_exact(2.0 ** e)} AS x, cnt"
                     " FROM {hist}")]

        def init(ks):
            ctes, _, fin = init_ctes("spark", "h", ks, "i", init_limbs)
            return _recombine(collect(src + ctes, fin), init_limbs)

        def step(params, mode):
            lits = {k: {key: X.dlit_exact(val) for key, val in P.items()}
                    for k, P in params.items()}
            tag = "m" if mode == "fit" else "l"
            ctes, fin = iter_ctes("spark", "h", lits, tag, mode, limbs)
            return _recombine(collect(src + ctes, fin), limbs)

        return init, step

    return bounds, steps


def _np_limb_sum(v, scale: float, limbs: list[int], weight=1) -> int:
    """Exact Σ of the snaps of ``v·scale``, times ``weight``, as a
    Python int: the :func:`_exact_floor` snaps, raising where Spark's
    raise, and the limbs of :func:`_limb_ctes`, each summed in int64.
    A limb of the magnitude
    ``a`` is ``⌊a/2^lo⌋ − ⌊a/2^hi⌋·2^(hi−lo)``: power-of-two scalings
    and floors are exact, and the difference, an integer below
    2^(hi−lo), is a multiple of the larger term's ulp, so it is exact
    too (half the cost of ``fmod``)."""
    import numpy as np

    u = v * scale + 0.5
    if not (np.abs(u) < 2.0 ** limbs[-1]).all():
        raise OverflowError(_SNAP_ERR)
    f = np.floor(u)
    a = np.abs(f)
    total = 0
    for lo, hi in zip(limbs, limbs[1:]):
        q = (np.floor(a * 2.0 ** -lo)
             - np.floor(a * 2.0 ** -hi) * 2.0 ** (hi - lo))
        q = np.copysign(q, f).astype(np.int64)
        total += int((q * weight).sum()) << lo
    return total


def _np_init(x, cnt, n: int, ks: tuple[int, ...], limbs: list[int]
             ) -> dict:
    """The Spark :func:`init_ctes` row over the histogram arrays (``x``
    ascending, ``n`` their total count), sums recombined.  The running
    count ``cm`` needs no RANGE-frame peers: the histogram's bins are
    distinct values."""
    import numpy as np

    if n >= 1 << 63:  # the BIGINT SUM(cnt) raises
        raise OverflowError(f"parity EM: BIGINT sum {n} overflows")
    if n == 0:
        return {"n": n}
    row = {"n": n}
    for name, v, scale in (("s1u", x, _SX_SCF), ("s2u", x * x, _SXX_SCF)):
        row[name] = _np_limb_sum(v, scale, limbs, cnt)
    nd = float(n)
    cm = np.cumsum(cnt)  # counts ≥ 0 and their total fits: no wrap
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


def _np_iter(x, cnt, limbs: list[int],
             params: dict[int, dict[str, float]], mode: str) -> dict:
    """:func:`iter_ctes`' aggregate row over the histogram arrays for
    float ``params``, recombined.  ``least``/``greatest`` are
    ``np.fmin`` / ``np.maximum`` and the argmax ``CASE`` treats NaN as
    the largest value, as Spark and DuckDB order doubles."""
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
        if mode != "lnl":
            for j in J:
                g = w[j] / rs
                gx = g * x
                for name, v, scale in (("n", g * c, _N_SCF),
                                       ("sx", gx * c, _SX_SCF),
                                       ("sxx", (gx * x) * c, _SXX_SCF)):
                    row[f"k{k}_{name}{j}u"] = _np_limb_sum(v, scale, limbs)
        if mode == "fit":
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
        row[f"k{k}_lnlu"] = _np_limb_sum(v, _LNL_SCF, limbs)
    return row


def _driver_steps(head):
    """``(bounds, steps)`` computing the same values as
    :func:`_spark_steps` on the Arrow probe ``head`` — the whole
    histogram — with numpy."""
    import numpy as np

    x = head.column("x").to_numpy(zero_copy_only=False).astype(
        np.float64, copy=False)
    cnt = head.column("cnt").to_numpy(zero_copy_only=False).astype(
        np.int64, copy=False)
    order = np.argsort(x, kind="stable")
    x, cnt = x[order], cnt[order]
    bounds = (len(x), float(np.abs(x).max(initial=0.0)),
              int(cnt.max(initial=0)), sum(cnt.tolist()))

    def steps(e):
        xs = np.ldexp(x, e)
        init_limbs, limbs = _layouts(bounds, e)
        return (lambda ks: _np_init(xs, cnt, bounds[3], ks, init_limbs),
                lambda params, mode: _np_iter(xs, cnt, limbs, params, mode))

    return bounds, steps


# ---- DuckDB oracle builders ---------------------------------------------


def _oracle_em_ctes(k: int, iters: int, tag: str, want_lnl: bool
                    ) -> tuple[list[tuple[str, str]], str, str]:
    """Full oracle CTE list for one fit; returns (ctes, params_cte,
    lnl_cte_or_None)."""
    ctes: list[tuple[str, str]] = []
    ictes, tot, ifin = init_ctes("duckdb", f"{tag}_hist", (k,),
                                 f"{tag}_ini")
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
    and one Arrow probe of its cache (3 jobs); the init and the 15
    iterations then run on the driver over the probed bins — or, for a
    histogram wider than ``gmm.MAX_DRIVER_BINS``, as its checkpoint and
    17 statements over it (bounds, init, 15 iterations).  The 9 fitted
    floats return as a
    ``local_frame`` (collect: no job)."""
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
    docstring).  ONE histogram scan and one Arrow probe of its cache
    (3 jobs), shared by all three fits, which run in lockstep on the
    driver over the probed bins — or, for a histogram wider than
    ``gmm.MAX_DRIVER_BINS``, as its checkpoint and 9 statements over it
    (bounds, init, 6 iterations, lnL).  lnL rides the same snapped-integer sum
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
