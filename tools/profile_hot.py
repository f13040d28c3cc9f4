#!/usr/bin/env python
"""Sub-step timing for the bench's most expensive entries (guide §1:
measure first).  Prints one line per step, warm min-of-N like the
bench, so the per-operator notes in OPTIMIZATION_r12.md can attribute
seconds to steps instead of guessing.

Usage: python tools/profile_hot.py [step ...]
Steps: cc, em, pagerank, parity, collect
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("PROFILE_RUNS", "3"))


def _force(df):
    df.write.format("noop").mode("overwrite").save()


def timed(label, thunk, runs=RUNS):
    ts = []
    for _ in range(runs):
        t0 = time.monotonic()
        thunk()
        ts.append(time.monotonic() - t0)
    print(f"{label:55s} min {min(ts):7.3f}  all {[round(t,3) for t in ts]}",
          flush=True)
    return min(ts)


def main():
    want = set(sys.argv[1:]) or {"cc", "em", "pagerank", "parity", "collect"}

    from pyspark.sql import functions as F

    from ema_bigdata_spark.session import get_spark

    spark = get_spark(app_name="profile-hot")
    # same warm-up as bench.py
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    spark.read.parquet(f"{SF_DIR}/events.parquet").count()

    if "collect" in want:
        # cost of moving 500k 2-long rows driver-side: Row-collect vs Arrow
        edges = spark.range(0, 500_001, 1, 32).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
        )
        timed("collect 500k rows (pickled Rows)", lambda: edges.collect())
        timed("toArrow 500k rows", lambda: edges.toArrow())

    if "cc" in want:
        from ema_bigdata_spark.operators.dedup import (
            chain_edges,
            connected_components,
        )

        ce = chain_edges(spark)
        timed("cc: chain_edges noop", lambda: _force(ce))
        timed("cc: probe limit(500001).collect",
              lambda: ce.select(F.col("doc_a").alias("src"),
                                F.col("doc_b").alias("dst"))
              .limit(500_001).collect())
        timed("cc: full connected_components",
              lambda: _force(connected_components(chain_edges(spark))))

    if "em" in want:
        from ema_bigdata_spark import gmm

        def wide_df():
            return spark.range(0, 4_000_000, 1, 32).select(
                (
                    F.pmod(F.xxhash64("id"), F.lit(2_000_000)).cast("double")
                    / 5000.0
                ).alias("value")
            )

        driver_bins = gmm.MAX_DRIVER_BINS
        # the bench fixture body on each executor of the EM engine over
        # the 2 M-bin histogram; the cutover constant picks the executor
        for executor, max_bins in (("driver", 1 << 22), ("spark", 0)):
            gmm.MAX_DRIVER_BINS = max_bins
            try:
                timed(f"em[{executor}]: 3-iter gmm_fit over 2 M bins",
                      lambda: gmm.gmm_fit(wide_df(), "value", k=3, tol=0.0,
                                          max_iter=3), runs=2)
            finally:
                gmm.MAX_DRIVER_BINS = driver_bins

    if "pagerank" in want:
        from ema_bigdata_spark.sources.tables import load_table

        orders = load_table(spark, SF_DIR, "orders").select(
            "o_orderkey", "o_custkey"
        )
        li = load_table(spark, SF_DIR, "lineitem").select(
            "l_orderkey", "l_suppkey"
        )
        pairs = (
            orders.join(li, orders.o_orderkey == li.l_orderkey)
            .where(F.col("o_custkey").isNotNull()
                   & F.col("l_suppkey").isNotNull())
            .select((F.col("o_custkey") * 2).alias("c"),
                    (F.col("l_suppkey") * 2 + 1).alias("s"))
            .distinct()
        )
        edges = pairs.selectExpr("c AS src", "s AS dst").unionAll(
            pairs.selectExpr("s AS src", "c AS dst")
        )
        deg = edges.groupBy("src").agg(
            F.count(F.lit(1)).cast("long").alias("deg"))

        def build_e():
            return edges.join(deg, "src").localCheckpoint()

        timed("pr: build+checkpoint edge table", build_e)
        e = build_e()
        timed("pr: n = distinct count", lambda: e.select("src")
              .distinct().count())
        timed("pr: ranks seed distinct (noop)",
              lambda: _force(e.select("src").distinct()))

        from ema_bigdata_spark import registry
        registry.load_all()
        timed("pr: full q_pagerank",
              lambda: _force(registry.QUERIES["q_pagerank"](spark, SF_DIR)))

    if "parity" in want:
        from ema_bigdata_spark import gmm
        from ema_bigdata_spark import gmm_parity as GP

        hist = GP.events_hist(spark, SF_DIR)
        driver_bins = gmm.MAX_DRIVER_BINS
        # both executors over the same histogram; the cutover constant
        # forces the Spark statements
        for executor, max_bins in (("driver", driver_bins), ("spark", 0)):
            gmm.MAX_DRIVER_BINS = max_bins
            try:
                timed(f"parity[{executor}]: 15-iter single fit (gmm_fit)",
                      lambda: GP.parity_em_spark(spark, SF_DIR, 3, 15,
                                                 want_lnl=False, hist=hist),
                      runs=2)
                timed(f"parity[{executor}]: multi-k 6-iter (q_gmm_bic)",
                      lambda: GP.parity_em_spark_multi(
                          spark, SF_DIR, (2, 3, 4), 6, want_lnl=True,
                          hist=hist),
                      runs=2)
            finally:
                gmm.MAX_DRIVER_BINS = driver_bins

    spark.stop()


if __name__ == "__main__":
    main()
