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
        from ema_bigdata_spark.gmm import (
            _distributed_em,
            _init_params_hist,
            gmm_fit_hist,
            value_histogram,
        )
        from ema_bigdata_spark.sources.tables import spread

        def wide_df():
            return spark.range(0, 4_000_000, 1, 32).select(
                (
                    F.pmod(F.xxhash64("id"), F.lit(2_000_000)).cast("double")
                    / 5000.0
                ).alias("value")
            )

        timed("em: histogram build (noop)",
              lambda: _force(value_histogram(wide_df(), "value")))

        def cached_hist():
            h = spread(value_histogram(wide_df(), "value")).cache()
            h.count()
            return h

        h = cached_hist()
        timed("em: init agg over cached hist",
              lambda: _init_params_hist(h, 3))
        timed("em: 3-iter distributed_em over cached hist",
              lambda: _distributed_em(h, 3, 0.0, 3))
        h.unpersist()
        timed("em: head-probe limit(1M+1).collect over hist",
              lambda: value_histogram(wide_df(), "value")
              .limit((1 << 20) + 1).collect(), runs=2)
        timed("em: full gmm_fit_hist (= bench fixture body)",
              lambda: gmm_fit_hist(value_histogram(wide_df(), "value"),
                                   k=3, tol=0.0, max_iter=3), runs=2)

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

        timed("parity: prepare_hist", lambda: GP.prepare_hist(spark, SF_DIR))
        hist = GP.prepare_hist(spark, SF_DIR)
        driver_bins = gmm.MAX_DRIVER_BINS
        # both executors over the same checkpoint; the cutover constant
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
