"""ML-adjacent distributed statistics (driver mandate, SURVEY.md §2.4):
k-means clustering and ordinary-least-squares regression — the two
"fit a tiny model over a huge table" primitives every feature/BI
pipeline runs, here in their exact, scale-correct Spark forms.

Both follow the repo's sufficient-statistics posture (``gmm.py``,
``q_ab_ttest``): the data-proportional work is ONE aggregation pass
that reduces the table to a tiny exact-integer summary (a value
histogram / a moment vector), and the iterative or algebraic "model
math" runs over that summary — so a 100 TB input costs one scan plus
histogram-sized iterations, never per-iteration corpus scans.

No reference counterpart (``Main.scala`` has only the GMM EM loop);
k-means semantics follow Lloyd (1982) with the deterministic
min/mid/max init, OLS is the closed-form normal equation.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ema_bigdata_spark.functions.parity import cents, sql_cents
from ema_bigdata_spark.registry import query
from ema_bigdata_spark.sources.tables import load_table, local_checkpoint

# -- q_kmeans: 1-D fixed-point Lloyd over the value histogram --------------

_K = 3
_ITERS = 3

#: shared cross-engine assignment text: nearest centroid by exact
#: BIGINT distance (values and centroids are both integer cents), ties
#: broken toward the lower cluster id — pure integer comparisons, so
#: the partition of bins is bit-identical on both engines.
_ASSIGN = (
    "CASE WHEN abs(v - c1) <= abs(v - c2) AND abs(v - c1) <= abs(v - c3) "
    "THEN 1 WHEN abs(v - c2) <= abs(v - c3) THEN 2 ELSE 3 END"
)


def _kmeans_body(dialect: str, hist_src: str, with_hist_cte: bool) -> str:
    """Render the Lloyd iterations as one SQL text, shared verbatim by
    both engines except for the integer-division operator token (the
    q_sql_tpch_q2 / q_zorder_layout lesson: never CAST a double
    quotient, DuckDB rounds where Spark truncates).  Integer division
    is FLOOR-consistent on both engines (r6, ADVICE r5; corrected by
    the r6 review): both Spark ``DIV`` and DuckDB ``//`` truncate
    toward zero — identical for non-negative operands but undefined
    territory for negative centroid sums, so BOTH sides spell floor
    division explicitly (:func:`fdiv` below; divisors here are always
    positive — counts and the literal 2 — so only the dividend's sign
    matters).

    Centroid updates are integer division too (fixed-point Lloyd): the
    next centroid is ``floor(Σ v·n / Σ n)`` in cents, so every
    iteration's state is a BIGINT triple and the whole fit is
    float-free until the final reported means.  Empty clusters keep
    their previous centroid (the standard Lloyd fallback).  Overflow
    headroom: ``Σ v·n`` with |value| ≤ 1e6 scaled ×100 stays under 2⁶³
    to ~9e10 rows; beyond that sum in DECIMAL(38,0)
    (functions/parity.py headroom rule).
    """

    def fdiv(a: str, b: str) -> str:
        """Floor division of BIGINTs, positive divisor, both dialects.

        BOTH engines' native integer division truncates toward zero
        (Spark ``DIV``; DuckDB ``//`` — verified on 1.0: ``(-7) // 2 =
        -3``, NOT floor, contrary to ADVICE r5's premise), so BOTH
        sides spell the same truncate-then-correct form: subtract 1
        when a negative dividend leaves a remainder (``%`` carries the
        dividend's sign on both engines, so the check is exact integer
        arithmetic)."""
        idiv = "//" if dialect == "duckdb" else "DIV"
        return (
            f"(({a}) {idiv} ({b}) - (CASE WHEN ({a}) % ({b}) <> 0"
            f" AND ({a}) < 0 THEN 1 ELSE 0 END))"
        )

    parts: list[str] = ["WITH"]
    if with_hist_cte:
        parts += [
            f"{hist_src} AS (",
            f"  SELECT {sql_cents('value')} AS v,",
            "         CAST(count(*) AS BIGINT) AS n",
            "  FROM events GROUP BY 1",
            "),",
        ]
    parts += [
        "c0 AS (",
        f"  SELECT min(v) AS c1, {fdiv('min(v) + max(v)', '2')} AS c2,",
        f"         max(v) AS c3 FROM {hist_src}",
        "),",
    ]
    for i in range(1, _ITERS + 1):
        upd = ", ".join(
            f"CAST(coalesce(max(CASE WHEN k = {j} THEN {fdiv('sv', 'sn')} END),"
            f" max(p.c{j})) AS BIGINT) AS c{j}"
            for j in range(1, _K + 1)
        )
        parts += [
            f"a{i} AS (",
            f"  SELECT v, n, {_ASSIGN} AS k",
            f"  FROM {hist_src} CROSS JOIN c{i - 1}",
            "),",
            f"u{i} AS (",
            "  SELECT k, CAST(sum(v * n) AS BIGINT) AS sv,",
            f"         CAST(sum(n) AS BIGINT) AS sn FROM a{i} GROUP BY k",
            "),",
            f"c{i} AS (SELECT {upd} FROM u{i} CROSS JOIN c{i - 1} p),",
        ]
    parts += [
        f"fin AS (",
        f"  SELECT v, n, {_ASSIGN} AS k, c1, c2, c3",
        f"  FROM {hist_src} CROSS JOIN c{_ITERS}",
        ")",
        # signed-zero guard (+ CAST(0 AS DOUBLE)) on every rounded float:
        # a tiny-negative mean would round to -0.0 in DuckDB, +0.0 in
        # Spark (the q_embed_covariance r5 lesson)
        "SELECT k AS cluster_id,",
        "       CAST(sum(n) AS BIGINT) AS n_points,",
        "       (round(CAST(sum(v * n) AS DOUBLE) / CAST(sum(n) AS DOUBLE)"
        " / 100.0, 6) + CAST(0 AS DOUBLE)) AS mean_value,",
        "       (round(CAST(max(CASE WHEN k = 1 THEN c1 WHEN k = 2 THEN c2"
        " ELSE c3 END) AS DOUBLE) / 100.0, 6) + CAST(0 AS DOUBLE))"
        " AS centroid_value",
        "FROM fin GROUP BY k",
    ]
    return "\n".join(parts)


@query("q_kmeans", oracle=_kmeans_body("duckdb", "hist", with_hist_cte=True))
def q_kmeans(spark, sf_dir):
    """1-D k-means (k=3, 3 Lloyd iterations, deterministic min/mid/max
    init) over ``events.value`` — the classic segment-the-measure
    clustering job, built on the ``gmm.py`` histogram design: the only
    data-proportional cost is ONE ``groupBy(value).count()`` scan; the
    Lloyd iterations then run over the materialized histogram
    (:func:`~ema_bigdata_spark.sources.tables.local_checkpoint` —
    without the cut each of the 4 downstream references would re-derive
    the corpus aggregate), each iteration a ≤3-key hash agg over
    histogram-sized input joined to a broadcast 1-row centroid tuple.
    A one-partition histogram is marked ``SinglePartition``, so the
    init aggregate and every iteration's GROUP BY read it in place,
    with no exchange.  At 100 TB: shuffle volume is distinct values
    (bounded by the fixed-point domain), iterations cost histogram
    passes, and nothing ever returns to the driver — the centroid
    state stays a 1-row DataFrame composed lazily into the final plan.

    Everything through the last assignment is exact BIGINT arithmetic
    (fixed-point Lloyd — see :func:`_kmeans_body`), so cluster
    membership is bit-identical cross-engine; only the two reported
    means divide as doubles, via shared expression text.  Semantics:
    Lloyd (1982); no Main.scala counterpart (its one iterative fit is
    the GMM EM, SURVEY §2.1)."""
    hist = local_checkpoint(
        load_table(spark, sf_dir, "events")
        .select(cents("value").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    # bound as a keyword argument: spark.sql names the view uniquely
    # and drops it once the statement is analysed, so the catalog
    # never holds (or pins the checkpoint storage of) this histogram
    return spark.sql(
        _kmeans_body("spark", "{hist}", with_hist_cte=False), hist=hist
    )


# -- q_linreg: closed-form OLS from exact integer moment sums --------------

#: shared cross-engine OLS text over the one-row moment aggregate
#: (n, sx, sy, sxy, sxx, syy — all DOUBLEs derived from exact integer
#: sums by the same CASTs, so every arithmetic step below is the same
#: IEEE-754 op sequence on both engines).  x is the per-order line
#: count (unit 1), y is o_totalprice in 1e-4 units, so slope/intercept
#: descale by 1e4 once at the end.
_OLS_NUM = "(n * sxy - sx * sy)"
_OLS_DEN = "(n * sxx - sx * sx)"
_OLS_SLOPE = f"({_OLS_NUM} / {_OLS_DEN})"


def _linreg_select(src: str) -> str:
    # signed-zero guard on slope/intercept (they straddle zero; the
    # engines round tiny negatives to differently-signed zeros).
    # The y-variance gate (n·syy − sy² > 0, r6 review): with a
    # constant y the r2 denominator is zero — ANSI Spark throws
    # DIVIDE_BY_ZERO where DuckDB emits inf/NaN, the q_ab_ttest crash
    # class; R² is undefined without y-variance, so both engines
    # filter the degenerate row out.
    return f"""
    SELECT CAST(n AS BIGINT) AS n_orders,
           (round({_OLS_SLOPE} / 10000.0, 6) + CAST(0 AS DOUBLE)) AS slope,
           (round(((sy - {_OLS_SLOPE} * sx) / n) / 10000.0, 6)
            + CAST(0 AS DOUBLE)) AS intercept,
           round({_OLS_NUM} * {_OLS_NUM}
                 / ({_OLS_DEN} * (n * syy - sy * sy)), 6) AS r2
    FROM {src}
    WHERE n > 1 AND {_OLS_DEN} <> 0 AND (n * syy - sy * sy) > 0
    """


@query(
    "q_linreg",
    oracle=f"""
    WITH xs AS (
      SELECT l_orderkey, CAST(count(*) AS BIGINT) AS xi
      FROM lineitem GROUP BY 1
    ),
    g AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(xi) AS DOUBLE) AS sx,
             CAST(sum(yi) AS DOUBLE) AS sy,
             CAST(sum(CAST(xi AS HUGEINT) * yi) AS DOUBLE) AS sxy,
             CAST(sum(xi * xi) AS DOUBLE) AS sxx,
             CAST(sum(CAST(yi AS HUGEINT) * yi) AS DOUBLE) AS syy
      FROM (
        SELECT xs.xi,
               TRY_CAST(round(o_totalprice * 10000) AS BIGINT) AS yi
        FROM orders JOIN xs ON o_orderkey = xs.l_orderkey
      ) WHERE yi IS NOT NULL
    )
    {_linreg_select("g")}
    """,
)
def q_linreg(spark, sf_dir):
    """Closed-form OLS of order value on order width: regress
    ``o_totalprice`` on the order's lineitem count — slope (marginal
    revenue per extra line), intercept, and R², the "fit a trend over
    the whole table" readout behind every BI scatter.

    Shape: derive the regressor with one lineitem aggregate (map-side
    partial, shuffle carries (orderkey, count)), join it to orders on
    the key both sides are already clustered by, then ONE moment pass
    reduces everything to a single six-number row — the normal
    equation needs nothing else, so at 100 TB the reducer sees one
    row and the driver never loops.  Moments are exact integers:
    x is a BIGINT count, y is ×10⁴ fixed point (``o_totalprice`` is
    4-decimal, functions/parity.py); Σy² terms reach ~2.5e19 and
    would overflow a per-row BIGINT product, so y² runs in
    DECIMAL(38,0) on Spark and HUGEINT on DuckDB — different
    spellings of the same exact integer, identical once CAST to
    DOUBLE.  The final algebra is shared expression text
    (:data:`_OLS_SLOPE`), with a degenerate-variance gate
    (``den <> 0``) on both engines.  No Main.scala counterpart;
    driver-mandated surface (SURVEY §2.4)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).cast("long").alias("xi"))
    )
    # row-filter form of the r8 non-finite gate: OLS moments must come
    # from COMPLETE (xi, yi) pairs — an in-pipeline NULL yi would let n
    # count a row whose y never contributed, silently biasing the fit
    o = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", cents("o_totalprice", 10000).alias("yi"))
        .where(F.col("yi").isNotNull())
    )
    dec = "decimal(38,0)"
    g = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("xi").cast("double").alias("sx"),
            F.sum("yi").cast("double").alias("sy"),
            F.sum(F.col("xi").cast(dec) * F.col("yi"))
            .cast("double")
            .alias("sxy"),
            F.sum(F.col("xi") * F.col("xi")).cast("double").alias("sxx"),
            F.sum(F.col("yi").cast(dec) * F.col("yi"))
            .cast("double")
            .alias("syy"),
        )
    )
    return spark.sql(_linreg_select("{g}"), g=g)
