"""SparkSession construction tuned for the 100-TB design point.

The reference (``/root/reference`` ``Main.scala:22-30``) builds a bare
``local[2]`` session with no tuning.  Our sessions enable AQE (runtime
join-strategy + skew handling), partition coalescing, and Arrow so the
same code scales from ``local[*]`` tests to a 1000-executor cluster
without plan changes.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

# Confs that are safe (and desirable) at any scale.  All of these are
# runtime-settable so they also work when applied to an externally
# provided session (the verify driver owns its own SparkSession).
RUNTIME_CONFS: dict[str, str] = {
    # AQE re-plans joins/shuffles from runtime statistics: converts
    # sort-merge joins to broadcast when a side turns out small, splits
    # skewed shuffle partitions, coalesces tiny ones.  Essential at
    # 100 TB where static estimates are unreliable.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE coalesce (and re-plan joins in) the final stage of a
    # CACHED plan too.  Spark's default builds every cache with these
    # final-stage optimizations off, so a cached groupBy keeps all
    # ``spark.sql.shuffle.partitions`` partitions.  What it buys: CC's
    # per-round label cache (``dedup.connected_components``) is built in
    # as few tasks as its size needs instead of one near-empty task per
    # shuffle partition.  Why it is safe: the two caches whose LAYOUT
    # later plans rely on — CC's dst-partitioned edge cache
    # (``dedup.py``) and ``q_pagerank``'s src-partitioned one
    # (``analytics.py``) — are built with
    # ``repartition(n, key)``, whose partitioning AQE never changes, so
    # their iteration joins stay exchange-free on the edge side
    # (pinned in tests/test_plans.py).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # (The AQE sort-merge→shuffled-hash threshold is set in ``tune()``,
    # not here: its value must track the session's ACTUAL advisory
    # partition size — Spark only applies the rewrite when the
    # threshold is ≥ advisoryPartitionSizeInBytes, so a static 64 MiB
    # would silently disable it on any deployment that raises the
    # advisory size.)
    # Guard for TIMESTAMP(NANOS) parquet columns, which Spark cannot
    # read natively: read them as long (ns since epoch); the loader
    # (tables.py) converts to TIMESTAMP_NTZ only when a column actually
    # arrives as a raw long.  The current testdata is TIMESTAMP(MICROS)
    # (reads natively), so this is dormant — but harmless — there.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for any pandas interchange (mapInPandas paths).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

# Confs only applied when *we* build the session (static or
# environment-shaped).
BUILDER_CONFS: dict[str, str] = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.session.timeZone": "UTC",
    # 64 MiB broadcast threshold: region/nation/customer/supplier/part
    # are dimension tables; at 100 TB the fact tables grow but the dims
    # stay broadcastable.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


#: confs that ``tune()`` could not set, name → error text.  A
#: driver-owned session may reject a conf (static, or locked by its
#: deployment); the query still runs, without that conf's effect, so
#: the failure is recorded here and logged once per name rather than
#: passed silently.
CONF_FAILURES: dict[str, str] = {}


def _set_conf(spark: SparkSession, key: str, value: str) -> None:
    try:
        spark.conf.set(key, value)
    except Exception as e:
        if key not in CONF_FAILURES:
            _log.warning("could not set %s=%s: %s", key, value, e)
        CONF_FAILURES[key] = f"{type(e).__name__}: {e}"


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (driver-owned).
    Confs the session rejects land in ``CONF_FAILURES``."""
    for k, v in RUNTIME_CONFS.items():
        _set_conf(spark, k, v)
    # AQE sort-merge→shuffled-hash rewrite (guide §3.1; Spark default 0
    # = off): when every post-shuffle partition of the build side is
    # under the threshold, the sort of both sides is skipped.  The
    # threshold DERIVES from the session's advisory partition size
    # (Spark only applies the rewrite when threshold ≥ advisory size,
    # and the advisory size is exactly the "one normal post-AQE
    # partition" bound that makes the rewritten hash table OOM-safe),
    # so cluster sizing moves it through the advisory size alone.
    # Evidence: interleaved min-of-3 A/B at sf1 on the five
    # SMJ-shaped queries — q_join_full −8.8%, q_cdc_merge −10.8%,
    # q_dedup_incremental_near −11.8%, q_pagerank −7.9%,
    # q_sql_tpch_q2 flat (+2%, noise); the sf0.1 A/B is within noise,
    # the sf1 one is not.  A session that cannot report its
    # advisory size gets Spark's default one, 64 MiB.
    try:
        shj = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    except Exception:
        shj = str(64 * 1024 * 1024)
    _set_conf(
        spark, "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", shj
    )
    return spark


def get_spark(
    app_name: str = "ema-bigdata-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    b = SparkSession.builder.master(master).appName(app_name)
    for k, v in {**BUILDER_CONFS, **RUNTIME_CONFS}.items():
        b = b.config(k, v)
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return tune(spark)
