"""Part B — relational core: scans, aggregates, grouping sets, sort,
set ops (SURVEY.md §2.4).

None of these exist in the reference (its only operators are
map/filter/reduce over one double column — SURVEY.md §2.1); they are
the driver-mandated extension surface, expressed as stock DataFrame
ops so Catalyst provides pushdown/pruning/AQE for free.

Money math uses the fixed-point integer helpers (functions/parity.py)
for bit-exact cross-engine sums: lineitem prices are 2-decimal,
o_totalprice is 4-decimal.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ema_bigdata_spark.functions.parity import (
    avg_fixed,
    cents,
    sql_avg_fixed,
    sql_cents,
    sql_sum_fixed,
    sum_fixed,
)
from ema_bigdata_spark.registry import query
from ema_bigdata_spark.sources.tables import (
    filter_ts_range,
    load_raw,
    load_table,
    plain_sql,
    sql_on_tables,
)

# lineitem derived measures as exact scaled integers (lazy: Column
# construction needs an active session):
#   disc_price = l_extendedprice·(1−l_discount)          → int ×10⁴
#   charge     = disc_price·(1+l_tax)                    → int ×10⁶


def _disc_price_int():
    return cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))


def _charge_int():
    return (
        cents("l_extendedprice")
        * (F.lit(100) - cents("l_discount"))
        * (F.lit(100) + cents("l_tax"))
    )

_SQL_PC = sql_cents("l_extendedprice")
_SQL_DC = sql_cents("l_discount")
_SQL_TC = sql_cents("l_tax")
_SQL_DISC_PRICE_INT = f"({_SQL_PC} * (100 - {_SQL_DC}))"
_SQL_CHARGE_INT = f"({_SQL_PC} * (100 - {_SQL_DC}) * (100 + {_SQL_TC}))"


# -- q_filter_project: scan + pushdown filter + arithmetic projection -----


@query(
    "q_filter_project",
    oracle=f"""
    SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           (CAST({_SQL_DISC_PRICE_INT} AS DOUBLE) / CAST(10000 AS DOUBLE))
             AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    """,
)
def q_filter_project(spark, sf_dir):
    # Filter on the RAW int64 nanos column so the predicate reaches the
    # parquet scan (PushedFilters + row-group stats pruning) — filtering
    # a converted timestamp column would defeat pushdown at 100 TB.
    li = filter_ts_range(
        load_raw(spark, sf_dir, "lineitem"), "l_shipdate", "1996-01-01", "1997-01-01"
    )
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        (_disc_price_int().cast("double") / F.lit(10000.0)).alias("revenue"),
    )


# -- q_pricing_summary: TPC-H Q1-shaped hash aggregate --------------------


@query(
    "q_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_sum_fixed('l_quantity')} AS sum_qty,
           {sql_sum_fixed('l_extendedprice')} AS sum_base_price,
           (CAST(sum({_SQL_DISC_PRICE_INT}) AS DOUBLE) / CAST(10000 AS DOUBLE))
             AS sum_disc_price,
           (CAST(sum({_SQL_CHARGE_INT}) AS DOUBLE) / CAST(1000000 AS DOUBLE))
             AS sum_charge,
           round({sql_avg_fixed('l_quantity')}, 6) AS avg_qty,
           round({sql_avg_fixed('l_extendedprice')}, 6) AS avg_price,
           round({sql_avg_fixed('l_discount')}, 6) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark, sf_dir):
    # One shuffle on (returnflag, linestatus) with map-side partial agg;
    # a handful of groups → tiny exchange even at 100 TB.
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum_fixed("l_quantity").alias("sum_qty"),
            sum_fixed("l_extendedprice").alias("sum_base_price"),
            (F.sum(_disc_price_int()).cast("double") / F.lit(10000.0)).alias(
                "sum_disc_price"
            ),
            (F.sum(_charge_int()).cast("double") / F.lit(1000000.0)).alias(
                "sum_charge"
            ),
            F.round(avg_fixed("l_quantity"), 6).alias("avg_qty"),
            F.round(avg_fixed("l_extendedprice"), 6).alias("avg_price"),
            F.round(avg_fixed("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).cast("long").alias("count_order"),
        )
    )


# -- q_agg_distinct: exact distinct aggregate -----------------------------


@query(
    "q_agg_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_distinct(spark, sf_dir):
    # Spark expands multi-distinct via Expand (one shuffle); exact — the
    # sketch-based alternative is q_approx_distinct.
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").cast("long").alias("n_parts"),
            F.countDistinct("l_suppkey").cast("long").alias("n_supps"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
    )


# -- q_approx_distinct: HLL sketch with driver-checkable invariant --------


def approx_distinct_sketch(df, key: str, by: str, rsd: float = 0.02):
    """Sketch-only HLL++ distinct count — the production operator.

    HLL++ partial sketches merge associatively → one small shuffle of
    fixed-size sketches regardless of data size; THE cardinality tool
    at 100 TB where exact distinct would shuffle the full key set.
    rsd=0.02 (≈4k registers): measured 3× faster than rsd=0.01's 16k
    registers, and 2% error is far inside any capacity-planning use."""
    return df.groupBy(by).agg(
        F.approx_count_distinct(key, rsd=rsd).cast("long").alias("approx_custs"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )


@query(
    "q_approx_distinct",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
           CAST(count(*) AS BIGINT) AS n_rows,
           TRUE AS approx_ok
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_approx_distinct(spark, sf_dir):
    """Driver-checkable form of :func:`approx_distinct_sketch`: sketch
    values are engine-specific, but the sketch's ERROR BOUND is not —
    so the registered query computes sketch AND exact in one aggregate
    and emits ``approx_ok = |approx − exact| ≤ 3·rsd·exact``; the
    oracle computes the exact side and literal TRUE.  A regression in
    the sketch path (wrong rsd, broken merge) flips the boolean and
    fails the hash — unlike the old rows-only contract, which checked
    nothing.  (The exact column here is the verification yardstick;
    the production sketch-only operator stays exact-free.)

    Plan note: sketch and exact are computed over a (priority,
    custkey) PRE-AGGREGATE rather than one multi-distinct agg — the
    latter plans an Expand that doubles every input row before the
    shuffle (measured 1.4 s vs 0.8 s at sf0.1).  HLL is duplicate-
    insensitive, so sketching the deduplicated keys gives the
    identical estimate, exact_custs becomes a plain count, and the
    map-side combine shrinks the exchange — strictly better at
    100 TB too."""
    pre = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_custkey")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    return (
        pre.groupBy("o_orderpriority")
        .agg(
            F.approx_count_distinct("o_custkey", rsd=0.02)
            .cast("long")
            .alias("_approx"),
            # count(col), not count(*): the pre-aggregate carries a
            # NULL-custkey group when such rows exist, and both
            # COUNT(DISTINCT) and the HLL sketch ignore NULLs — a bare
            # row count silently inflated exact_custs by one (r8
            # hostile-keys sweep)
            F.count("o_custkey").cast("long").alias("exact_custs"),
            F.sum("_cnt").cast("long").alias("n_rows"),
        )
        .select(
            "o_orderpriority",
            "exact_custs",
            "n_rows",
            (
                F.abs(F.col("_approx") - F.col("exact_custs"))
                <= F.lit(0.06) * F.col("exact_custs")
            ).alias("approx_ok"),
        )
    )


# -- q_rollup / q_cube: grouping sets -------------------------------------


@query(
    "q_rollup",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus,
           {sql_sum_fixed('o_totalprice', 10000)} AS revenue,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def q_rollup(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "orders")
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(
            sum_fixed("o_totalprice", 10000).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
    )


@query(
    "q_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_sum_fixed('l_quantity')} AS sum_qty,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            sum_fixed("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
    )


# -- q_sort_limit: total-order top-k --------------------------------------


@query(
    "q_sort_limit",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def q_sort_limit(spark, sf_dir):
    # Planned as TakeOrderedAndProject: per-partition top-10 + driver
    # merge — no global sort shuffle, O(k) driver memory at any scale.
    return (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


# -- set operations --------------------------------------------------------


@query(
    "q_union",
    oracle="""
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
    UNION
    SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
    """,
)
def q_union(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("long").alias("nationkey")
    )
    return c.unionByName(s).distinct()


@query(
    "q_intersect",
    oracle="""
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
    INTERSECT
    SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
    """,
)
def q_intersect(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("long").alias("nationkey")
    )
    return c.intersect(s)


@query(
    "q_except",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '5-LOW'
    """,
)
def q_except(spark, sf_dir):
    # customers with urgent but never low-priority orders: non-empty at
    # every SF (17 / 188 / 1759 rows) — the earlier customer-vs-supplier
    # nationkey EXCEPT was vacuously empty (both span all 25 nations),
    # so the driver check hashed nothing.
    o = load_table(spark, sf_dir, "orders")
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    low = o.where(F.col("o_orderpriority") == "5-LOW").select(
        F.col("o_custkey").alias("custkey")
    )
    return urgent.subtract(low)


# -- q_corr_stats: exact Pearson correlation / covariance -----------------
# All five sufficient statistics are EXACT integer sums (DECIMAL(38,0)
# headroom — sum of squared price-cents exceeds BIGINT at sf>=0.1) and
# the final correlation is one shared double formula over identical
# inputs, so the result is bit-equal across engines.  Built-in
# corr()/covar_pop() stream doubles and are order-dependent — the same
# reason SURVEY §7 bans raw SUM(double) under the hash gate.

#: zero-variance gate (r7, found by the adversarial relational suite):
#: a group where either column is constant has no defined correlation —
#: ungated, ANSI Spark throws DIVIDE_BY_ZERO where DuckDB emits
#: NaN/inf (the q_ab_ttest / q_linreg crash class).  Identical CASE on
#: both engines → NULL.  The > 0 compare also absorbs the tiny
#: negative n·sxx − sx² rounding residue that would make sqrt NaN.
_CORR_FORMULA = (
    "CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0"
    " THEN (n * sxy - sx * sy)"
    " / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) END"
)
#: covar_pop, descaled from cents×cents
_COVAR_FORMULA = (
    "((sxy / n) - (sx / n) * (sy / n)) / CAST(10000 AS DOUBLE)"
)


@query(
    "q_corr_stats",
    oracle=f"""
    WITH g AS (
      SELECT l_returnflag,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(qx) AS DOUBLE) AS sx,
             CAST(sum(py) AS DOUBLE) AS sy,
             CAST(sum(qx * py) AS DOUBLE) AS sxy,
             CAST(sum(qx * qx) AS DOUBLE) AS sxx,
             CAST(sum(py * py) AS DOUBLE) AS syy
      FROM (
        SELECT l_returnflag,
               {sql_cents('l_quantity')} AS qx,
               {sql_cents('l_extendedprice')} AS py
        FROM lineitem
      )
      GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           round({_CORR_FORMULA}, 6) AS corr_qty_price,
           round({_COVAR_FORMULA}, 6) AS covar_pop_qty_price
    FROM g
    """,
)
def q_corr_stats(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        cents("l_quantity").alias("qx"),
        cents("l_extendedprice").alias("py"),
    )
    dec = "decimal(38,0)"
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("qx").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("py").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("qx") * F.col("py")).cast(dec)).cast("double").alias("sxy"),
        F.sum((F.col("qx") * F.col("qx")).cast(dec)).cast("double").alias("sxx"),
        F.sum((F.col("py") * F.col("py")).cast(dec)).cast("double").alias("syy"),
    )
    return g.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        F.round(F.expr(_CORR_FORMULA), 6).alias("corr_qty_price"),
        F.round(F.expr(_COVAR_FORMULA), 6).alias("covar_pop_qty_price"),
    )


# -- q_percentiles: exact interpolated percentiles ------------------------
# Integer-domain trick for bit-parity: interpolate over the exact
# ×10⁴-scaled BIGINT (integers < 2⁵³ and quarter fractions are both
# exact in double ⇒ lower + (upper−lower)·frac is exact), descale once.


@query(
    "q_percentiles",
    # TRY_CAST snap + count(ti) (r8 non-finite gate, parity.py module
    # docstring): out-of-domain o_totalprice is ignored, and the
    # denominator counts the snap the percentiles actually ranked
    oracle="""
    SELECT o_orderstatus,
           CAST(count(ti) AS BIGINT) AS n_orders,
           round(quantile_cont(ti, 0.25) / 10000, 6) AS p25,
           round(quantile_cont(ti, 0.50) / 10000, 6) AS p50,
           round(quantile_cont(ti, 0.75) / 10000, 6) AS p75
    FROM (
      SELECT o_orderstatus,
             TRY_CAST(round(o_totalprice * 10000) AS BIGINT) AS ti
      FROM orders
    )
    GROUP BY o_orderstatus
    """,
)
def q_percentiles(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        cents("o_totalprice", 10000).alias("ti"),
    )
    return o.groupBy("o_orderstatus").agg(
        F.count("ti").cast("long").alias("n_orders"),
        *[
            F.round(F.expr(f"percentile(ti, {q_})") / 10000, 6).alias(name)
            for q_, name in ((0.25, "p25"), (0.50, "p50"), (0.75, "p75"))
        ],
    )


# -- q_pivot: long→wide conditional aggregation ---------------------------


_EVENT_TYPES = ("click", "error", "purchase", "view")


@query(
    "q_pivot",
    oracle=f"""
    SELECT user_id,
           {", ".join(
               f"CAST(count(*) FILTER (event_type = '{t}') AS BIGINT) AS n_{t}"
               for t in _EVENT_TYPES)}
    FROM events
    GROUP BY user_id
    """,
)
def q_pivot(spark, sf_dir):
    # Explicit value list: without it Spark runs an extra distinct scan
    # to discover pivot columns AND the output schema becomes
    # data-dependent — both wrong at 100 TB.  Pivot compiles to exactly
    # the conditional-aggregate form in the oracle (one shuffle).
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[
                F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
                for t in _EVENT_TYPES
            ],
        )
    )


# -- q_grouping_sets: explicit grouping sets + grouping_id ----------------


_GROUPING_SETS_BODY = """
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
                AS BIGINT) AS gid
    FROM {orders}
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@query("q_grouping_sets", oracle=plain_sql(_GROUPING_SETS_BODY))
def q_grouping_sets(spark, sf_dir):
    """Arbitrary grouping sets (not the rollup/cube lattices) through
    the SQL entry path — Catalyst expands to a single Expand + one
    hash aggregate, not one scan per set."""
    return sql_on_tables(spark, sf_dir, _GROUPING_SETS_BODY)


# -- q_events_hourly: time-series rollup with pushdown time filter --------


@query(
    "q_events_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(TRY_CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
             / CAST(100 AS DOUBLE) AS sum_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'
      AND ts <  TIMESTAMP '2024-01-04 00:00:00'
    GROUP BY 1, 2
    """,
)
def q_events_hourly(spark, sf_dir):
    # The time filter hits the RAW INT64-nanos column (integer
    # comparison → parquet PushedFilters + row-group stats pruning);
    # the ns→NTZ conversion happens after — the 100 TB-safe order.
    ev = filter_ts_range(
        load_raw(spark, sf_dir, "events"), "ts",
        "2024-01-02", "2024-01-04",
    )
    # hour truncation via NTZ integer arithmetic: Spark's date_trunc
    # round-trips NTZ through the SESSION timezone (shifts the hour
    # under a non-UTC driver session); whole-hours-since-epoch is
    # timezone-free on both engines.
    hour_start = F.expr(
        "timestampadd(HOUR,"
        " timestampdiff(HOUR, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts),"
        " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
    )
    return (
        ev.groupBy(
            hour_start.alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            sum_fixed("value").alias("sum_value"),
        )
    )


# -- q_unpivot: wide→long (inverse of q_pivot) ----------------------------


@query(
    "q_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, val
    FROM (
      SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
             l_quantity, l_extendedprice, l_discount
      FROM lineitem WHERE l_orderkey <= 1000
    )
    UNPIVOT (val FOR measure IN (l_quantity, l_extendedprice, l_discount))
    """,
)
def q_unpivot(spark, sf_dir):
    # melt/unpivot compiles to a single Expand (3 output rows per input
    # row, no shuffle, no self-union of scans).
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") <= 1000)
        .select(
            "l_orderkey",
            F.col("l_linenumber").cast("long").alias("l_linenumber"),
            "l_quantity",
            "l_extendedprice",
            "l_discount",
        )
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "val",
    )


# -- q_approx_quantiles: mergeable quantile sketch ------------------------


@query(
    "q_approx_quantiles",
    # TRY_CAST snap + count(ti): r8 non-finite gate, same shape as
    # q_percentiles
    oracle="""
    SELECT o_orderstatus,
           CAST(count(ti) AS BIGINT) AS n_orders,
           round(quantile_cont(ti, 0.25) / 10000, 6) AS p25,
           round(quantile_cont(ti, 0.50) / 10000, 6) AS p50,
           round(quantile_cont(ti, 0.75) / 10000, 6) AS p75,
           TRUE AS approx_ok
    FROM (
      SELECT o_orderstatus,
             TRY_CAST(round(o_totalprice * 10000) AS BIGINT) AS ti
      FROM orders
    )
    GROUP BY o_orderstatus
    """,
)
def q_approx_quantiles(spark, sf_dir):
    """Approximate p25/p50/p75 of ``o_totalprice`` per status via the
    Greenwald-Khanna sketch — the constant-memory, mergeable companion
    to exact ``q_percentiles``: at 100 TB the exact form shuffles and
    sorts every group, the sketch shuffles fixed-size summaries.

    Sketch values are engine-specific (GK here vs DuckDB's t-digest),
    so the driver-checkable contract follows the q_approx_distinct
    pattern: exact percentiles (the ``ti`` integer-domain trick from
    q_percentiles, bit-exact vs quantile_cont) are the hashed values,
    and ``approx_ok`` asserts the GK estimate lands within the sketch's
    rank-error bound of the exact value (accuracy=10000 → ≤ n/10000
    ranks ≈ 2% of value + a cent of slack on this distribution)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        cents("o_totalprice", 10000).alias("ti"),
    )
    agg = o.groupBy("o_orderstatus").agg(
        F.count("ti").cast("long").alias("n_orders"),
        *[
            F.round(F.expr(f"percentile(ti, {p})") / 10000, 6).alias(name)
            for p, name in ((0.25, "p25"), (0.5, "p50"), (0.75, "p75"))
        ],
        *[
            (F.expr(f"approx_percentile(ti, {p}, 10000)") / 10000).alias(
                f"_a{name}"
            )
            for p, name in ((0.25, "p25"), (0.5, "p50"), (0.75, "p75"))
        ],
    )
    ok = None
    for name in ("p25", "p50", "p75"):
        cond = F.abs(F.col(f"_a{name}") - F.col(name)) <= (
            F.lit(0.02) * F.abs(F.col(name)) + F.lit(1.0)
        )
        ok = cond if ok is None else (ok & cond)
    return agg.select(
        "o_orderstatus", "n_orders", "p25", "p50", "p75", ok.alias("approx_ok")
    )


# -- q_having: post-aggregation filter ------------------------------------


@query(
    "q_having",
    oracle="""
    SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 8
    """,
)
def q_having(spark, sf_dir):
    # HAVING = filter above the aggregate; Catalyst keeps the partial
    # aggregation below the exchange, so the filter prunes groups after
    # one shuffle, not rows before it.
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .where(F.col("n_orders") >= 8)
    )


# -- q_collect_agg: array-valued aggregation ------------------------------


def collect_agg_arrays(spark, sf_dir):
    """Array-valued aggregation — the library form: one sorted
    array<string> column per group.  collect_list order is
    partitioning-dependent → array_sort makes the array value canonical
    (same parity rule as ROUND for floats).  Tested directly in
    tests/test_oracle_parity.py; the REGISTERED query scalarizes the
    array because the driver's hash canonicalizer cannot hash
    array-typed cells (numpy.ndarray is unhashable — r2 harness ERR)."""
    nations = F.array_sort(F.collect_list("n_name"))
    return (
        load_table(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(
            nations.alias("nations"),
            F.size(nations).cast("long").alias("n_nations"),
        )
    )


@query(
    "q_collect_agg",
    # FILTER + coalesce (r9, hostile-nulls sweep): collected multisets
    # EXCLUDE NULL elements — Spark's collect_list semantics.  DuckDB's
    # bare list() INCLUDES the NULL, which the string join then
    # silently skips but length() counts: the '|' strings matched while
    # n_nations read one high.  coalesce([]): an all-NULL group must
    # read as an empty list (size 0), not a NULL aggregate — and
    # DuckDB's array_to_string([]) is NULL where Spark's array_join is
    # '', hence the outer coalesce('').
    oracle="""
    SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
           coalesce(array_to_string(list_sort(coalesce(
             list(n_name) FILTER (n_name IS NOT NULL), [])), '|'), '')
             AS nations,
           CAST(length(coalesce(
             list(n_name) FILTER (n_name IS NOT NULL), []))
             AS BIGINT) AS n_nations
    FROM nation
    GROUP BY n_regionkey
    """,
)
def q_collect_agg(spark, sf_dir):
    # scalarized form of collect_agg_arrays (see its docstring): the
    # canonical sorted array is joined with '|' so every output cell is
    # a hashable scalar on both engines; the int32 group key is cast
    # BIGINT per the registry parity convention.
    nations = F.array_sort(F.collect_list("n_name"))
    return (
        load_table(spark, sf_dir, "nation")
        .groupBy(F.col("n_regionkey").cast("long").alias("n_regionkey"))
        .agg(
            F.array_join(nations, "|").alias("nations"),
            F.size(nations).cast("long").alias("n_nations"),
        )
    )
