"""Part B — join surface: inner/broadcast/outer/semi/anti/range
(SURVEY.md §2.4).  The reference contains no joins of any kind
(verified, SURVEY.md §2.1); these are the driver-mandated extension.

Scale strategy per join:
- fact⋈fact equi joins shuffle on the key; AQE converts to broadcast
  or splits skewed partitions at runtime;
- dim tables (region/nation/customer at low sf, region/nation always)
  get explicit ``F.broadcast`` hints — at 100 TB the dims stay MBs
  while facts grow, so the hint removes the big-side shuffle entirely;
- the range join bounds its band predicate with an equi key
  (user_id) so Spark plans a hash join with the band as a post-filter
  instead of a cartesian product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ema_bigdata_spark.functions.parity import (
    cents,
    sql_cents,
    sql_sum_fixed,
    sum_fixed,
)
from ema_bigdata_spark.registry import query
from ema_bigdata_spark.sources.tables import (
    load_table,
    plain_sql,
    sql_on_tables,
)


# -- q_join_inner: orders ⋈ customer, aggregate by segment ----------------


@query(
    "q_join_inner",
    oracle=f"""
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           {sql_sum_fixed('o.o_totalprice', 10000)} AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_join_inner(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            sum_fixed("o_totalprice", 10000).alias("revenue"),
        )
    )


# -- q_join_broadcast: star-schema dim chain ------------------------------


@query(
    "q_join_broadcast",
    oracle=f"""
    SELECT r.r_name, n.n_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           {sql_sum_fixed('c.c_acctbal')} AS acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def q_join_broadcast(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    # Two BroadcastHashJoins → the customer scan never shuffles; only
    # the final tiny (r_name, n_name) aggregate exchanges data.
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            sum_fixed("c_acctbal").alias("acctbal"),
        )
    )


# -- q_join_left: customers with zero orders included ---------------------


@query(
    "q_join_left",
    # the revenue snap goes through TRY_CAST (r8 non-finite gate,
    # parity.py): an out-of-domain o_totalprice is ignored by the sum
    # instead of hard-erroring the cast; n_orders still counts the
    # order row (the join fact), matching COUNT(o_orderkey)
    oracle="""
    SELECT c.c_custkey,
           CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(coalesce(sum(TRY_CAST(round(o.o_totalprice * 10000)
                                      AS BIGINT)), 0)
                AS DOUBLE) / CAST(10000 AS DOUBLE) AS revenue
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def q_join_left(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").cast("long").alias("n_orders"),
            (
                F.coalesce(F.sum(cents("o_totalprice", 10000)), F.lit(0))
                .cast("double")
                / F.lit(10000.0)
            ).alias("revenue"),
        )
    )


# -- q_join_semi / q_join_anti --------------------------------------------


@query(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_join_semi(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    # left_semi: probe side streams, no fact-side row duplication.
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


@query(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
)
def q_join_anti(spark, sf_dir):
    # "customers with no urgent order" — every customer has *some*
    # order in this data, so the unfiltered anti join is vacuously
    # empty; the priority filter keeps the check non-trivial (18 rows
    # at sf0.001, 203 at sf0.01) while the plan stays a pushed-filter
    # scan feeding a left-anti hash join.
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


# -- q_join_range: banded self-join (equi key + time-range predicate) -----


@query(
    "q_join_range",
    oracle="""
    SELECT a.user_id, CAST(count(*) AS BIGINT) AS n_pairs
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.event_id > a.event_id
     AND b.ts >= a.ts
     AND b.ts <= a.ts + INTERVAL 5 MINUTE
    GROUP BY a.user_id
    """,
)
def q_join_range(spark, sf_dir):
    # The equi conjunct (user_id) drives a hash join; the band predicate
    # filters inside each hash bucket — never a cartesian product.  At
    # 100 TB this shuffles each side once on user_id (AQE handles skewed
    # power users).
    ev = load_table(spark, sf_dir, "events")
    a = ev.alias("a")
    b = ev.alias("b")
    cond = (
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.event_id") > F.col("a.event_id"))
        & (F.col("b.ts") >= F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 5 MINUTE"))
    )
    return (
        a.join(b, cond)
        .groupBy(F.col("a.user_id").alias("user_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


# -- q_join_full: full outer join -----------------------------------------


@query(
    "q_join_full",
    oracle="""
    SELECT coalesce(CAST(c.c_nationkey AS BIGINT),
                    CAST(s.s_nationkey AS BIGINT)) AS nationkey,
           CAST(count(c.c_custkey) AS BIGINT) AS n_customers,
           CAST(count(s.s_suppkey) AS BIGINT) AS n_suppliers
    FROM customer c
    FULL OUTER JOIN supplier s ON c.c_custkey = s.s_suppkey
    GROUP BY 1
    """,
)
def q_join_full(spark, sf_dir):
    # Key chosen so both unmatched sides occur (custkey range exceeds
    # suppkey range); full outer forces a shuffle join — Spark cannot
    # broadcast either side of FULL OUTER.
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    j = c.join(s, c.c_custkey == s.s_suppkey, "full_outer")
    return j.groupBy(
        F.coalesce(
            F.col("c_nationkey").cast("long"),
            F.col("s_nationkey").cast("long"),
        ).alias("nationkey")
    ).agg(
        F.count("c_custkey").cast("long").alias("n_customers"),
        F.count("s_suppkey").cast("long").alias("n_suppliers"),
    )


# -- q_join_cross: cartesian product (small dims only) --------------------


@query(
    "q_join_cross",
    oracle="""
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    """,
)
def q_join_cross(spark, sf_dir):
    # Explicit cross joins are legitimate ONLY for tiny dims (here
    # 5×25); the engine never relies on an implicit cartesian fallback
    # for real joins (q_join_range keeps an equi conjunct for exactly
    # that reason).
    r = load_table(spark, sf_dir, "region").select("r_name")
    n = load_table(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n)


# -- q_sql_exists: correlated EXISTS via the SQL entry path ---------------


_EXISTS_BODY = """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM {orders}
    WHERE EXISTS (
      SELECT 1 FROM {lineitem}
      WHERE l_orderkey = o_orderkey
        AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
"""


@query("q_sql_exists", oracle=plain_sql(_EXISTS_BODY))
def q_sql_exists(spark, sf_dir):
    """TPC-H Q4 shape through ``spark.sql`` — the engine's SQL front
    door.  Catalyst rewrites the correlated EXISTS into a left-semi
    join (same physical plan as q_join_semi's DataFrame form)."""
    return sql_on_tables(spark, sf_dir, _EXISTS_BODY)


# -- q_sql_scalar_subquery: uncorrelated scalar subquery ------------------


_SCALAR_SUBQUERY_BODY = """
    SELECT o_orderkey, o_totalprice
    FROM {orders}
    WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM {orders})
"""


@query("q_sql_scalar_subquery", oracle=plain_sql(_SCALAR_SUBQUERY_BODY))
def q_sql_scalar_subquery(spark, sf_dir):
    """Scalar subquery via ``spark.sql``: the inner aggregate runs once
    and is broadcast into the filter (a subquery-reuse exchange, not a
    per-row loop).  Threshold 1.5× is non-vacuous at every testdata SF
    (380 rows at sf0.001, ~2.5%% of orders at sf0.01/0.1 — 3× matched
    nothing) while the nearest o_totalprice sits O(100) away from the
    boundary, so the order-dependent double `avg` can't flip a row."""
    return sql_on_tables(spark, sf_dir, _SCALAR_SUBQUERY_BODY)


# -- salted_join: explicit skew mitigation (library API, not a query) -----


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with manual key salting for pathological skew.

    The left (skewed, large) side gets a per-row salt in [0, n_salt);
    the right side is replicated n_salt times with every salt value, so
    the hot key's rows spread over ``n_salt`` shuffle partitions instead
    of one straggler task.  Result is identical to ``left.join(right,
    key, how)`` for equi-joins because every (key, salt) pair still
    meets its replicated match exactly once.

    AQE's skew-join split (enabled in session.py) handles most skew at
    runtime; this explicit form is for the cases AQE can't see — e.g. a
    skewed *aggregation* feeding the join, or deliberate pre-salting of
    a known-hot tenant key at 100 TB.  The division of labor is pinned
    mechanically by ``test_salted_join_vs_aqe_skew_split``: AQE's split
    requires a partition over BOTH 5× the median AND the 256 MB byte
    threshold, so it never fires at bench scale (and would leave a
    hot-but-under-threshold key serialized at any scale), while the
    salt moves the split into the join keys — scale-independent
    insurance that composes with AQE mopping up residual skew above
    its threshold.
    """
    salt = F.pmod(F.xxhash64(F.col(key), F.rand(seed=42)), F.lit(n_salt))
    lsalted = left.withColumn("_salt", salt)
    rsalted = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    return lsalted.join(rsalted, [key, "_salt"], how).drop("_salt")


# -- asof_join: time-series point-in-time join (library API) --------------


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    seq: str,
    right_vals: tuple[str, ...],
    prefix: str = "asof_",
) -> DataFrame:
    """As-of join: attach to every ``left`` row the ``right_vals``
    payload of the LATEST ``right`` row with the same ``key`` and
    ``right.ts <= left.ts`` (left outer — left rows with no prior
    right row keep NULL payloads).  ``seq`` is a unique ordering
    column on both sides so ties at identical timestamps are
    deterministic; a right row at exactly ``left.ts`` matches.

    Spark has no ASOF JOIN operator (the reference has no joins at
    all — SURVEY.md §2.1).  The naive formulations don't scale: a
    range join (``right.ts BETWEEN left.ts - band AND left.ts``)
    explodes candidate pairs and needs a band-width parameter, and a
    per-row correlated argmax is quadratic.  This is the
    scale-correct reformulation: tag both sides, union them, and
    forward-fill the right payload with ONE window over
    ``(key, ts)`` — a single shuffle on ``key``, zero join nodes,
    linear in ``|left| + |right|``, no tuning parameter.  Tested by
    ``test_asof_join_no_join_single_shuffle`` (plan: no Join node,
    exactly one Exchange).
    """
    rtypes = dict(right.dtypes)
    l2 = left.select(
        F.col(key).alias("_key"),
        F.col(ts).alias("_ts"),
        F.col(seq).alias("_seq"),
        F.lit(1).alias("_side"),
        *[
            F.lit(None).cast(rtypes[v]).alias(f"_r_{v}")
            for v in right_vals
        ],
        F.struct(*left.columns).alias("_l"),
    )
    r2 = right.select(
        F.col(key).alias("_key"),
        F.col(ts).alias("_ts"),
        F.col(seq).alias("_seq"),
        F.lit(0).alias("_side"),
        *[F.col(v).alias(f"_r_{v}") for v in right_vals],
        F.lit(None).cast(left.schema).alias("_l"),
    )
    # right rows (side 0) sort BEFORE a left row at the same ts, so
    # "at-or-before" includes same-instant matches on both engines.
    w = (
        Window.partitionBy("_key")
        .orderBy("_ts", "_side", "_seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = l2.unionByName(r2).select(
        "_side",
        "_l",
        *[
            F.last(
                F.when(F.col("_side") == 0, F.col(f"_r_{v}")),
                ignorenulls=True,
            )
            .over(w)
            .alias(f"{prefix}{v}")
            for v in right_vals
        ],
    )
    return filled.where(F.col("_side") == 1).select(
        F.col("_l.*"), *[f"{prefix}{v}" for v in right_vals]
    )


# -- q_join_asof: point-in-time enrichment as declared surface ------------


@query(
    "q_join_asof",
    oracle="""
    WITH u AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side,
             CASE WHEN event_type = 'click' THEN value END AS click_value,
             CASE WHEN event_type = 'click' THEN ts END AS click_ts
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    f AS (
      SELECT user_id, ts, event_id, side,
             last_value(click_value IGNORE NULLS) OVER w
               AS last_click_value,
             last_value(click_ts IGNORE NULLS) OVER w AS last_click_ts
      FROM u
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, ts, last_click_value, last_click_ts
    FROM f WHERE side = 1
    """,
)
def q_join_asof(spark, sf_dir):
    """Point-in-time enrichment: every purchase event gets the value
    and time of the same user's most recent click at-or-before it —
    the canonical feature-store / trades-vs-quotes as-of join, via
    :func:`asof_join` (union + forward-fill window; no join node)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        purchases,
        clicks,
        key="user_id",
        ts="ts",
        seq="event_id",
        right_vals=("value", "ts"),
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_value").alias("last_click_value"),
        F.col("asof_ts").alias("last_click_ts"),
    )


# -- q_sql_tpch_q3: shipping-priority (3-table join + agg + top-k) --------


_Q3_BODY = """
    SELECT l_orderkey,
           (CAST(sum(TRY_CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - TRY_CAST(round(l_discount * 100) AS BIGINT)))
             AS DOUBLE) / CAST(10000 AS DOUBLE)) AS revenue,
           o_orderdate, o_orderpriority
    FROM {customer}, {orders}, {lineitem}
    WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate  > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
"""


@query("q_sql_tpch_q3", oracle=plain_sql(_Q3_BODY))
def q_sql_tpch_q3(spark, sf_dir):
    """TPC-H Q3 shape through ``spark.sql``: selective dim filter →
    two hash joins (customer side broadcasts under AQE) → fixed-point
    revenue aggregate → TakeOrdered top-10.  Ties broken by
    (o_orderdate, l_orderkey) so the LIMIT is deterministic."""
    return sql_on_tables(spark, sf_dir, _Q3_BODY)


# -- q_sql_tpch_q5: local-supplier volume (6-way join) --------------------


_Q5_BODY = """
    SELECT n_name,
           (CAST(sum(TRY_CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - TRY_CAST(round(l_discount * 100) AS BIGINT)))
             AS DOUBLE) / CAST(10000 AS DOUBLE)) AS revenue
    FROM {customer}, {orders}, {lineitem}, {supplier}, {nation}, {region}
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1994-01-01'
      AND o_orderdate <  TIMESTAMP '1996-01-01'
    GROUP BY n_name
"""


@query("q_sql_tpch_q5", oracle=plain_sql(_Q5_BODY))
def q_sql_tpch_q5(spark, sf_dir):
    """TPC-H Q5 shape: a 6-relation join tree that exercises Catalyst's
    join reordering — the selective region filter prunes nation, which
    prunes supplier/customer, before the fact tables join.  region and
    nation broadcast; AQE picks strategies for the rest at runtime."""
    return sql_on_tables(spark, sf_dir, _Q5_BODY)


# -- q_sql_tpch_q10: returned-item revenue loss (4-way join + top-k) ------

_Q10_BODY = """
    SELECT c_custkey, c_name,
           (CAST(sum(TRY_CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - TRY_CAST(round(l_discount * 100) AS BIGINT)))
             AS DOUBLE) / CAST(10000 AS DOUBLE)) AS revenue,
           round(c_acctbal, 2) AS c_acctbal, n_name
    FROM {customer}, {orders}, {lineitem}, {nation}
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1993-10-01'
      AND o_orderdate <  TIMESTAMP '1994-01-01'
      AND l_returnflag = 'R'
      AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, round(c_acctbal, 2), n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""


@query("q_sql_tpch_q10", oracle=plain_sql(_Q10_BODY))
def q_sql_tpch_q10(spark, sf_dir):
    """TPC-H Q10 shape (top returned-revenue customers): selective
    quarter + returnflag filters push to both fact scans, nation
    broadcasts, the customer⋈orders⋈lineitem tree shuffles on its keys,
    and the top-20 is a TakeOrdered over the aggregate.  Fixed-point
    revenue sums; ties broken by c_custkey so the LIMIT is
    deterministic.  The identical SQL text runs on both engines
    (`_Q10_BODY`); only the table bindings differ."""
    return sql_on_tables(spark, sf_dir, _Q10_BODY)


# -- q_sql_tpch_q6: forecasting revenue change (pure scan-agg) ------------

_Q6_BODY = """
    SELECT (CAST(sum(TRY_CAST(round(l_extendedprice * 100) AS BIGINT)
                 * TRY_CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE)
             / CAST(10000 AS DOUBLE)) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM {lineitem}
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate <  TIMESTAMP '1996-01-01'
      AND l_discount BETWEEN 0.045 AND 0.075
      AND l_quantity < 24
"""


@query("q_sql_tpch_q6", oracle=plain_sql(_Q6_BODY))
def q_sql_tpch_q6(spark, sf_dir):
    """TPC-H Q6 shape (forecasting revenue change): the canonical
    pure scan-aggregate — every predicate (ship-year, discount band,
    quantity cap) is a per-row comparison that pushes into the parquet
    scan, the projection prunes to four columns, and the single global
    aggregate map-side combines to one row per task.  Zero shuffles of
    data (only the final 1-row-per-partition merge); at 100 TB this is
    bounded by scan bandwidth alone, which is the point of the query.
    Revenue is summed in exact integer cents×discount-percent units and
    descaled once (`/10⁴`), so the result is partition-order-stable.
    The identical SQL text runs on both engines (`_Q6_BODY`).
    Driver-mandated surface (SURVEY §2.4); no Main.scala counterpart."""
    return sql_on_tables(spark, sf_dir, _Q6_BODY)


# -- q_sql_tpch_q18: large-volume customers (HAVING subquery + 3-way) -----

_Q18_BODY = """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           round(o_totalprice, 2) AS o_totalprice,
           CAST(sum(TRY_CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
               AS sum_qty
    FROM {customer}, {orders}, {lineitem}
    WHERE o_orderkey IN (
            SELECT l_orderkey FROM {lineitem}
            GROUP BY l_orderkey
            HAVING sum(TRY_CAST(round(l_quantity) AS BIGINT)) > 250)
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate,
             round(o_totalprice, 2)
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 100
"""


@query("q_sql_tpch_q18", oracle=plain_sql(_Q18_BODY))
def q_sql_tpch_q18(spark, sf_dir):
    """TPC-H Q18 shape (large-volume customers): the aggregated IN
    subquery is Catalyst-rewritten to a left-semi join against the
    per-order quantity aggregate, which prunes orders BEFORE the
    customer join — the expensive 3-way join runs only on the ~top
    percentile of orders.  At 100 TB the semi-join side is a
    (orderkey, sum) pair stream, never lineitem rows, and AQE
    broadcasts it once the HAVING filter collapses it below the
    threshold.  Quantities are integral by data contract; summed as
    BIGINT (round() guards the double→int cast against engine
    truncate-vs-round divergence).  Top-100 is a TakeOrdered with
    unique o_orderkey tie-break.  Identical SQL text on both engines
    (`_Q18_BODY`).  Driver-mandated surface (SURVEY §2.4)."""
    return sql_on_tables(spark, sf_dir, _Q18_BODY)


# -- q_sql_tpch_q14: promotion revenue share (conditional aggregate) ------

_Q14_BODY = """
    SELECT round(CAST(100 AS DOUBLE) * CAST(promo AS DOUBLE)
                 / CAST(total AS DOUBLE), 6) AS promo_share,
           CAST(n_lines AS BIGINT) AS n_lines
    FROM (
      SELECT sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) AS promo,
             sum(rev) AS total, count(*) AS n_lines
      FROM (
        SELECT TRY_CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - TRY_CAST(round(l_discount * 100) AS BIGINT)) AS rev,
               p_type
        FROM {lineitem}, {part}
        WHERE l_partkey = p_partkey
          AND l_shipdate >= TIMESTAMP '1995-09-01'
          AND l_shipdate <  TIMESTAMP '1995-10-01'))
"""


@query("q_sql_tpch_q14", oracle=plain_sql(_Q14_BODY))
def q_sql_tpch_q14(spark, sf_dir):
    """TPC-H Q14 shape (promotion revenue share): the one-month filter
    pushes to the lineitem scan, part broadcasts (AQE converts on the
    filtered size), and the promo/total split is a CONDITIONAL
    aggregate in one pass — never two scans or a self-join.  Revenue
    sums are exact integer cents×discount units; the share is one
    double division over identical integers on both engines.
    Identical SQL text (`_Q14_BODY`).  Driver-mandated surface
    (SURVEY §2.4)."""
    return sql_on_tables(spark, sf_dir, _Q14_BODY)


# -- q_sql_tpch_q17: small-quantity-order revenue (correlated agg) --------

_Q17_BODY = """
    SELECT round(CAST(sum(TRY_CAST(round(l_extendedprice * 100) AS BIGINT))
                 AS DOUBLE) / CAST(100 AS DOUBLE) / CAST(7.0 AS DOUBLE),
                 2) AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM {lineitem} l, {part} p
    WHERE p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#9'
      AND l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                          FROM {lineitem} l2
                          WHERE l2.l_partkey = l.l_partkey)
"""


@query("q_sql_tpch_q17", oracle=plain_sql(_Q17_BODY))
def q_sql_tpch_q17(spark, sf_dir):
    """TPC-H Q17 shape (small-quantity-order revenue): the correlated
    AGGREGATE subquery — each lineitem compares against its own part's
    average quantity — which Catalyst de-correlates into a
    per-partkey aggregate joined back on the key (never a re-executed
    subquery per row: the plan has one extra aggregate + one join, and
    the Brand filter prunes the probe side first).  Quantities are
    integral by data contract so the 0.5·avg threshold derives from
    exact integer sums identically on both engines; revenue is exact
    cents descaled once.  Identical SQL text (`_Q17_BODY`).
    Driver-mandated surface (SURVEY §2.4)."""
    return sql_on_tables(spark, sf_dir, _Q17_BODY)


# -- q_join_salted: skew-safe equi join as declared surface ---------------


@query(
    "q_join_salted",
    oracle=f"""
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum({sql_cents('e.value')}) AS DOUBLE)
                 / 100, 2) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_join_salted(spark, sf_dir):
    """The salted-join path as a first-class query: events (the skewed
    fact — a handful of hot users own most rows) joined to customer
    through :func:`salted_join`, then aggregated per market segment.

    The salt spreads each hot key over 16 shuffle partitions, so no
    single task owns a hot user at 100 TB; the result is provably
    identical to the plain equi join (the oracle IS the plain join).
    Money sums go through exact cents (BIGINT) so the output is
    bit-stable under any partitioning/salting."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(ev, cust, "user_id")
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            (
                F.sum(cents("value"))
                .cast("double") / F.lit(100)
            ).alias("sum_value"),
        )
        .select(
            "c_mktsegment",
            "n_events",
            F.round("sum_value", 2).alias("sum_value"),
        )
    )


# -- q_sql_tpch_q7: volume shipping between two nations -------------------
# Adapted to the driver schema (TESTDATA.md): the full Q7 join graph
# and the OR-of-nation-pairs predicate are kept; only columns absent
# from the trimmed tables (none for Q7) differ from spec.

_Q7_BODY = """
    SELECT supp_nation, cust_nation, l_year,
           (CAST(sum(rev) AS DOUBLE) / CAST(10000 AS DOUBLE)) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
             TRY_CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - TRY_CAST(round(l_discount * 100) AS BIGINT)) AS rev
      FROM {supplier}, {lineitem}, {orders}, {customer},
           {nation} n1, {nation} n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey
        AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
          OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
"""


@query("q_sql_tpch_q7", oracle=plain_sql(_Q7_BODY))
def q_sql_tpch_q7(spark, sf_dir):
    """TPC-H Q7 shape (volume shipping): nation appears TWICE in the
    join graph (supplier side and customer side), and the disjunctive
    nation-pair predicate can only be applied after both lookups.
    Catalyst broadcasts both nation aliases (25 rows each) so the
    OR-of-pairs filter runs map-side right behind the fact joins —
    the 100 TB plan shuffles lineitem⋈orders⋈customer on their keys
    exactly once each and never materializes the unfiltered pair
    space.  Revenue is exact integer cents×discount units descaled
    once; year extraction is EXTRACT (identical in Spark SQL and
    DuckDB).  Identical SQL text on both engines (`_Q7_BODY`).
    Driver-mandated surface (SURVEY §2.4); no Main.scala
    counterpart."""
    return sql_on_tables(spark, sf_dir, _Q7_BODY)


# -- q_sql_tpch_q8: national market share ---------------------------------

_Q8_BODY = """
    SELECT o_year,
           round(CAST(sum(CASE WHEN nation = 'NATION_5' THEN rev
                               ELSE 0 END) AS DOUBLE)
                 / CAST(sum(rev) AS DOUBLE), 6) AS mkt_share,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
             TRY_CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - TRY_CAST(round(l_discount * 100) AS BIGINT)) AS rev,
             n2.n_name AS nation
      FROM {part}, {supplier}, {lineitem}, {orders}, {customer},
           {nation} n1, {nation} n2, {region}
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        AND r_name = 'EUROPE' AND s_nationkey = n2.n_nationkey
        AND o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate <  TIMESTAMP '1997-01-01'
        AND p_type = 'PROMO'
    ) all_nations
    GROUP BY o_year
"""


@query("q_sql_tpch_q8", oracle=plain_sql(_Q8_BODY))
def q_sql_tpch_q8(spark, sf_dir):
    """TPC-H Q8 shape (national market share): the widest join graph
    in the suite — 8 relations, nation twice (customer's region
    membership vs supplier's nationality).  The selective
    region+p_type dims prune the fact side before the big shuffles;
    part/supplier/nation/region all broadcast; the numerator/
    denominator market-share split is a single conditional aggregate
    (one pass, no self-join).  Both sums are exact BIGINT fixed-point
    so the final double division is bit-identical across engines.
    Identical SQL text on both engines (`_Q8_BODY`).  Driver-mandated
    surface (SURVEY §2.4)."""
    return sql_on_tables(spark, sf_dir, _Q8_BODY)


# -- q_sql_tpch_q13: customer order-count distribution --------------------

_Q13_BODY = """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey,
             CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM {customer} LEFT JOIN {orders}
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
"""


@query("q_sql_tpch_q13", oracle=plain_sql(_Q13_BODY))
def q_sql_tpch_q13(spark, sf_dir):
    """TPC-H Q13 shape (customer order-count distribution): an OUTER
    join with an extra non-equi conjunct (the priority exclusion rides
    the join, NOT a post-filter — a post-filter would drop the
    zero-order customers the query exists to count), then two stacked
    aggregations.  count(o_orderkey) counts non-NULL only, so
    customers with no surviving orders land in the c_count=0 bucket.
    At 100 TB the first aggregate collapses orders to one row per
    customer before the (tiny) histogram shuffle; spec's o_comment
    NOT LIKE filter is adapted to the trimmed schema's
    o_orderpriority (TESTDATA.md has no comment columns).  Identical
    SQL text on both engines (`_Q13_BODY`).  Driver-mandated surface
    (SURVEY §2.4)."""
    return sql_on_tables(spark, sf_dir, _Q13_BODY)


# -- q_sql_tpch_q15: top supplier by quarterly revenue --------------------

_Q15_BODY = """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum(TRY_CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - TRY_CAST(round(l_discount * 100) AS BIGINT)))
                 AS total_rev_u
      FROM {lineitem}
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name,
           (CAST(total_rev_u AS DOUBLE) / CAST(10000 AS DOUBLE))
               AS total_revenue
    FROM {supplier}, revenue
    WHERE s_suppkey = supplier_no
      AND total_rev_u = (SELECT max(total_rev_u) FROM revenue)
    ORDER BY s_suppkey
"""


@query("q_sql_tpch_q15", oracle=plain_sql(_Q15_BODY))
def q_sql_tpch_q15(spark, sf_dir):
    """TPC-H Q15 shape (top supplier): spec defines a revenue VIEW
    used twice — once joined to supplier, once under max() — expressed
    here as a CTE, which Spark plans as two references to one
    aggregate subtree (the scalar max broadcasts as a 1-row subquery
    result).  The argmax filter compares the UNSCALED BIGINT revenue
    (`total_rev_u`), so the spec's equality-with-max tie semantics is
    exact — comparing post-descale doubles could drop a tied supplier
    on a last-ulp divergence.  ORDER BY s_suppkey per spec (also the
    determinism tiebreak if several suppliers tie).  Identical SQL
    text on both engines (`_Q15_BODY`).  Driver-mandated surface
    (SURVEY §2.4)."""
    return sql_on_tables(spark, sf_dir, _Q15_BODY)


# -- q_sql_tpch_q19: discounted revenue (disjunctive multi-attr filter) ---

_Q19_BODY = """
    SELECT (CAST(sum(TRY_CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - TRY_CAST(round(l_discount * 100) AS BIGINT)))
             AS DOUBLE) / CAST(10000 AS DOUBLE)) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM {lineitem}, {part}
    WHERE p_partkey = l_partkey
      AND ((p_brand = 'Brand#2'
            AND p_size BETWEEN 1 AND 15
            AND l_quantity BETWEEN 1 AND 11)
        OR (p_brand = 'Brand#15'
            AND p_size BETWEEN 1 AND 25
            AND l_quantity BETWEEN 10 AND 20)
        OR (p_brand = 'Brand#23'
            AND p_size BETWEEN 1 AND 35
            AND l_quantity BETWEEN 20 AND 30))
"""


@query("q_sql_tpch_q19", oracle=plain_sql(_Q19_BODY))
def q_sql_tpch_q19(spark, sf_dir):
    """TPC-H Q19 shape (discounted revenue): the canonical
    DISJUNCTIVE join filter — three (brand, size-band, quantity-band)
    conjunctions OR'd together, each touching BOTH sides of the join.
    Catalyst splits the predicate: the part-only disjunction
    (brand/size) and the lineitem-only disjunction (quantity bands)
    are inferred and PUSHED BELOW the join as scan filters, while the
    full cross-side OR stays as the join residual — so at 100 TB the
    join probes only quantity-banded lineitem rows against the
    (broadcast) brand-filtered part slice instead of evaluating the
    disjunction on the full fact table.  Spec's shipmode/container
    attributes don't exist in the trimmed schema (TESTDATA.md); the
    brand/size/quantity structure is preserved.  Revenue exact
    fixed-point.  Identical SQL text on both engines (`_Q19_BODY`).
    Driver-mandated surface (SURVEY §2.4)."""
    return sql_on_tables(spark, sf_dir, _Q19_BODY)


# -- q_zorder_layout: Z-order clustering audit (r5 addition) --------------

#: bits per dimension for the interleave (16-bit Z-value total).
_Z_BITS = 8
#: Z-value bucket width: 16 buckets of 4096 Z-codes.
_Z_BUCKET = 4096


def _z_expr(a: str, b: str, dialect: str) -> str:
    """Bit-interleave expression for two ``_Z_BITS``-bit ints.

    ``dialect`` abstracts the one syntax difference between the
    engines (``shiftleft``/``shiftright`` functions in Spark SQL,
    ``<<``/``>>`` operators in DuckDB); the arithmetic is identical
    unrolled integer ops, so the Z-codes agree bit for bit."""
    def shl(x: str, n: int) -> str:
        if n == 0:
            return x
        return (f"shiftleft({x}, {n})" if dialect == "spark"
                else f"(({x}) << {n})")

    def shr(x: str, n: int) -> str:
        if n == 0:
            return x
        return (f"shiftright({x}, {n})" if dialect == "spark"
                else f"(({x}) >> {n})")

    terms = []
    for i in range(_Z_BITS):
        bit_a = f"({shr(a, i)} & 1)"
        bit_b = f"({shr(b, i)} & 1)"
        terms.append(shl(bit_a, 2 * i))
        terms.append(shl(bit_b, 2 * i + 1))
    return "(" + " + ".join(terms) + ")"


def _zorder_body(dialect: str) -> str:
    a = "CAST(user_id % 256 AS BIGINT)"
    # minute-of-day bucket from NTZ calendar fields — deliberately NOT
    # unix_timestamp/epoch(), which would re-interpret the naive
    # timestamp in the session timezone and break tz-independence
    b = "CAST((hour(ts) * 60 + minute(ts)) % 256 AS BIGINT)"
    z = _z_expr("a", "b", dialect)
    # integer division, NOT CAST(x / k): casting the double quotient
    # rounds-to-nearest in DuckDB but truncates in Spark, shifting
    # every bucket boundary by half a bucket between engines
    zdiv = (f"(zval DIV {_Z_BUCKET})" if dialect == "spark"
            else f"(zval // {_Z_BUCKET})")
    return f"""
    WITH dims AS (
      SELECT {a} AS a, {b} AS b FROM {{events}}
    ),
    z AS (
      SELECT a, b, {z} AS zval FROM dims
    )
    SELECT CAST({zdiv} AS BIGINT) AS zbucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(a) AS BIGINT) AS min_a,
           CAST(max(a) AS BIGINT) AS max_a,
           CAST(min(b) AS BIGINT) AS min_b,
           CAST(max(b) AS BIGINT) AS max_b,
           CAST(max(a) - min(a) + max(b) - min(b) AS BIGINT) AS spread
    FROM z
    GROUP BY CAST({zdiv} AS BIGINT)
    """


@query("q_zorder_layout", oracle=plain_sql(_zorder_body("duck")))
def q_zorder_layout(spark, sf_dir):
    """Z-order (Morton) clustering audit: interleave the low 8 bits of
    two scan-predicate dimensions (user bucket, minute-of-day
    bucket) into a 16-bit Z-code and report, per Z-bucket, how narrow
    BOTH dimensions' min/max ranges stay.

    Why it's here: at 100 TB the write path sorts by this Z-code so
    parquet row-group min/max statistics stay tight on BOTH columns
    simultaneously — point/range predicates on EITHER dimension then
    prune most row groups at scan time (the multi-dimensional
    counterpart of a single-column sort, which keeps only one
    predicate prunable).  This query is the audit half: ``spread``
    per bucket is exactly the statistic a layout job publishes to
    prove the clustering worked.  The Z-code is unrolled integer
    bit-ops (whole-stage codegen'd; `_z_expr` renders the same
    arithmetic in each engine's shift syntax), the aggregate is one
    map-side-combined groupBy over 16 buckets.  Driver-mandated
    surface (SURVEY §2.4); no Main.scala counterpart."""
    return sql_on_tables(spark, sf_dir, _zorder_body("spark"))


# -- q_sql_tpch_q2: min-cost supplier (correlated min over a view) --------
# partsupp doesn't exist in the driver schema; the supply cost is
# derived as each (part, supplier)'s best observed unit price from
# lineitem, in exact integer micro-units (price-cents × 10⁴ integer-
# divided by the integral quantity) so the argmin equality is pure
# BIGINT — the Q2 SHAPE (region-restricted correlated minimum + dim
# join + top-100) is preserved exactly.


def _q2_body(dialect: str) -> str:
    idiv = "DIV" if dialect == "spark" else "//"
    return f"""
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             min((TRY_CAST(round(l_extendedprice * 100) AS BIGINT) * 10000)
                 {idiv} TRY_CAST(round(l_quantity) AS BIGINT)) AS unit_mu
      FROM {{lineitem}}, {{supplier}}, {{nation}}, {{region}}
      WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        AND n_regionkey = r_regionkey AND r_name = 'EUROPE'
      GROUP BY l_partkey, l_suppkey
    ),
    best AS (
      SELECT l_partkey, min(unit_mu) AS best_mu
      FROM cost GROUP BY l_partkey
    )
    SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name,
           p_partkey, p_name,
           round(CAST(best_mu AS DOUBLE) / 1000000, 4) AS unit_cost
    FROM {{part}}, cost, best, {{supplier}}, {{nation}}, {{region}}
    WHERE p_partkey = cost.l_partkey
      AND cost.l_partkey = best.l_partkey AND unit_mu = best_mu
      AND s_suppkey = cost.l_suppkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE'
      AND p_size BETWEEN 10 AND 20 AND p_type = 'STANDARD'
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
"""


@query("q_sql_tpch_q2", oracle=plain_sql(_q2_body("duck")))
def q_sql_tpch_q2(spark, sf_dir):
    """TPC-H Q2 shape (minimum-cost supplier): the region-restricted
    cost view is referenced twice — once per (part, supplier), once
    under a per-part min — and the argmin equality joins them back,
    exactly the spec's correlated-subquery structure after Catalyst
    de-correlates it.  The unit cost is an exact integer
    micro-division (`DIV`/`//` — integer division spelled per
    dialect; CASTing a double quotient would round in DuckDB but
    truncate in Spark, the q_zorder_layout lesson), so the min and
    the equality are pure BIGINT on both engines.  At 100 TB the
    cost/best aggregates collapse lineitem before any dim join, and
    part/supplier/nation/region broadcast.  Driver-mandated surface
    (SURVEY §2.4)."""
    return sql_on_tables(spark, sf_dir, _q2_body("spark"))


# -- q_sql_tpch_q9: product-type profit by nation and year ----------------

_Q9_BODY = """
    SELECT nation, o_year,
           (CAST(sum(rev) AS DOUBLE) / CAST(10000 AS DOUBLE)) AS profit,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM (
      SELECT n_name AS nation,
             CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
             TRY_CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - TRY_CAST(round(l_discount * 100) AS BIGINT)) AS rev
      FROM {part}, {supplier}, {lineitem}, {orders}, {nation}
      WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        AND p_name LIKE '%gear%'
    ) profit
    GROUP BY nation, o_year
"""


@query("q_sql_tpch_q9", oracle=plain_sql(_Q9_BODY))
def q_sql_tpch_q9(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit): the LIKE-filtered part
    dim prunes lineitem first (the '%gear%' contains-match cannot
    push to parquet, but the ~1/|part-names| selectivity broadcast
    join does the pruning), then supplier nationality and order year
    classify every surviving lineitem.  Spec's profit subtracts
    ps_supplycost·qty; without partsupp in the driver schema the
    revenue term stands in — the join graph, LIKE dimension filter,
    and (nation, year) rollup are the shape under test.  Exact
    fixed-point sums.  Identical SQL text (`_Q9_BODY`).
    Driver-mandated surface (SURVEY §2.4)."""
    return sql_on_tables(spark, sf_dir, _Q9_BODY)


# -- q_sql_tpch_q16: supplier-part relationship count ---------------------

_Q16_BODY = """
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM {part}, {lineitem}
    WHERE p_partkey = l_partkey
      AND p_brand <> 'Brand#2' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND l_suppkey NOT IN (
            SELECT s_suppkey FROM {supplier} WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
"""


@query("q_sql_tpch_q16", oracle=plain_sql(_Q16_BODY))
def q_sql_tpch_q16(spark, sf_dir):
    """TPC-H Q16 shape (parts/supplier relationship): negated dim
    predicates + an IN-list + a NOT IN exclusion subquery (Catalyst:
    null-aware anti join — the supplier side is tiny and broadcasts)
    feeding a count-DISTINCT grouped by three part attributes.
    Spec counts partsupp relationships and excludes complaint
    suppliers; the driver schema derives relationships from lineitem
    and excludes negative-balance suppliers — same shape, same
    anti-join + distinct-aggregate plan.  At 100 TB the distinct
    runs as the standard two-phase partial-distinct aggregate, and
    the (brand, type, size) filter prunes part before the fact join.
    Identical SQL text (`_Q16_BODY`).  Driver-mandated surface
    (SURVEY §2.4)."""
    return sql_on_tables(spark, sf_dir, _Q16_BODY)


# -- q_sql_tpch_q21: suppliers who kept orders waiting --------------------

_Q21_BODY = """
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM {supplier}, {lineitem} l1, {orders}, {nation}
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
            SELECT 1 FROM {lineitem} l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
            SELECT 1 FROM {lineitem} l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
      AND s_nationkey = n_nationkey AND n_name = 'NATION_5'
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
"""


@query("q_sql_tpch_q21", oracle=plain_sql(_Q21_BODY))
def q_sql_tpch_q21(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting): the
    double-correlated EXISTS / NOT EXISTS pair over the same fact
    table — "this supplier was late on a multi-supplier order, and
    was the ONLY late one" — the hardest subquery shape in the suite
    (Catalyst plans one left-semi and one null-safe left-anti join
    against lineitem keyed on l_orderkey).  Spec's lateness predicate
    (receipt > commit) uses columns the driver schema doesn't carry;
    shipped-more-than-60-days-after-order stands in, correlating the
    inner NOT EXISTS on the OUTER order's date — preserving the
    correlated-on-two-tables structure.  At 100 TB all three
    lineitem references shuffle once on l_orderkey (AQE reuses the
    exchange).  Identical SQL text (`_Q21_BODY`).  Driver-mandated
    surface (SURVEY §2.4)."""
    return sql_on_tables(spark, sf_dir, _Q21_BODY)


# -- q_sql_tpch_q22: global sales opportunity (dormant customers) ---------

_Q22_BODY = """
    WITH eligible AS (
      SELECT c_custkey, c_acctbal, n_name,
             TRY_CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
      FROM {customer} JOIN {nation} ON c_nationkey = n_nationkey
      WHERE n_name IN ('NATION_1', 'NATION_3', 'NATION_5', 'NATION_7',
                       'NATION_9', 'NATION_11', 'NATION_13')
    ),
    avg_bal AS (
      SELECT CAST(sum(bal_c) AS BIGINT) AS tot_c,
             CAST(count(*) AS BIGINT) AS n
      FROM eligible WHERE bal_c > 0
    )
    SELECT n_name AS cntry,
           CAST(count(*) AS BIGINT) AS numcust,
           round(CAST(sum(bal_c) AS DOUBLE) / 100, 2) AS totacctbal
    FROM eligible, avg_bal
    WHERE bal_c * n > tot_c
      AND NOT EXISTS (
            SELECT 1 FROM {orders}
            WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY n_name
"""


@query("q_sql_tpch_q22", oracle=plain_sql(_Q22_BODY))
def q_sql_tpch_q22(spark, sf_dir):
    """TPC-H Q22 shape (global sales opportunity): an uncorrelated
    scalar aggregate (the average balance of the positive-balance
    cohort) gating a customer filter, plus a NOT EXISTS anti join
    against orders, grouped by country.  Spec selects countries by
    phone prefix (no phone column in the driver schema) — nation
    membership stands in; spec's "never ordered" is vacuous on this
    data (every customer has orders), so "dormant since 2000" keeps
    the anti join selective.  The above-average comparison is
    cross-multiplied to exact integers (`bal_c · n > tot_c`) —
    comparing against a double average would flip on last-ulp
    sum-order divergence between engines.  At 100 TB the scalar agg
    is one tiny broadcast row and the anti join is date-pruned
    before it shuffles.  Identical SQL text (`_Q22_BODY`).
    Driver-mandated surface (SURVEY §2.4)."""
    return sql_on_tables(spark, sf_dir, _Q22_BODY)
