#!/usr/bin/env python
"""Second-decade scale probes for the two distributed bench fixtures
(VERDICT r11 item 6): extend the 510k-edge connected-components and
2M-bin distributed-EM curves one more decade (5.1M edges / 20M bins)
so the scaling evidence for the engine's two iterative operators
covers TWO decades above their gate cutovers, not one.

Both fixtures are generated (spark.range + hash), deterministic, and
carry analytic ground truth, so each probe is also a CORRECTNESS
check at the new scale:

- CC: chain components of diameter 5 → cluster_id must equal
  doc_id - doc_id % 6 for EVERY node (checked with one aggregate —
  zero rows collected).
- EM: the distributed histogram path must run exactly max_iter
  cluster aggregations and produce a finite, monotone-ish lnp trace
  (same invariant the bench fixture asserts at 2M bins).

Timing protocol matches bench_scaling: min-of-N (default 2) per
scale, spread recorded, exponent = log10(t_big/t_small).  Read the
exponents with the standing rule: fixed overhead deflates them, so
≫1 is the alarm shape, not the slope itself.

Usage: python tools/decade2_probe.py [out.json]   (default
       DECADE2_r12.json; SPARK_GRAFT_CPUS overrides local cores)
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")


def _min_of(thunk, repeats: int = 2) -> dict:
    ts = []
    for _ in range(repeats):
        t0 = time.monotonic()
        thunk()
        ts.append(time.monotonic() - t0)
    return {"sec": round(min(ts), 3), "spread": round(max(ts) - min(ts), 3)}


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, "DECADE2_r12.json"
    )
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    builder = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if "driver-memory" not in os.environ.get("PYSPARK_SUBMIT_ARGS", ""):
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from ema_bigdata_spark.gmm import MAX_DRIVER_BINS, gmm_fit
    from ema_bigdata_spark.operators.dedup import (
        _CC_DRIVER_MAX,
        chain_edges,
        connected_components,
    )

    results: dict = {}

    # --- connected components: 510k → 5.1M chain edges -------------
    def cc_at(n_nodes: int) -> dict:
        group = 6
        n_edges = n_nodes - n_nodes // group

        def run():
            labels = connected_components(chain_edges(spark, n_nodes))
            bad = labels.where(
                F.col("cluster_id")
                != F.col("doc_id") - F.pmod(F.col("doc_id"), F.lit(group))
            ).count()
            assert bad == 0, f"{bad} wrong labels at {n_edges} edges"
            n = labels.count()
            assert n == n_nodes, f"label count {n} != {n_nodes}"

        rec = _min_of(run)
        rec["n_edges"] = n_edges
        return rec

    assert 510_000 > _CC_DRIVER_MAX
    small = cc_at(612_000)      # 510k edges — the standing bench shape
    big = cc_at(6_120_000)      # 5.1M edges — the second decade
    results["cc_chain"] = {
        "small": small,
        "big": big,
        "exponent_10x": round(
            math.log10(big["sec"] / small["sec"]), 3
        ),
    }

    # --- distributed EM: 2M → 20M distinct-value bins ---------------
    def em_at(n_rows: int, n_bins: int) -> dict:
        def run():
            wide = spark.range(0, n_rows, 1, 32).select(
                (
                    F.pmod(F.xxhash64("id"), F.lit(n_bins)).cast("double")
                    / 5000.0
                ).alias("value")
            )
            model = gmm_fit(wide, "value", k=3, tol=0.0, max_iter=3)
            assert model.n_iter == 3 and len(model.lnp_trace) == 3
            assert all(math.isfinite(v) for v in model.lnp_trace)

        rec = _min_of(run)
        rec["n_rows"] = n_rows
        rec["n_bins"] = n_bins
        return rec

    assert 2_000_000 > MAX_DRIVER_BINS
    small = em_at(4_000_000, 2_000_000)    # the standing bench shape
    big = em_at(40_000_000, 20_000_000)    # the second decade
    results["gmm_hist_em"] = {
        "small": small,
        "big": big,
        "exponent_10x": round(
            math.log10(big["sec"] / small["sec"]), 3
        ),
    }

    payload = {
        "harness": "tools/decade2_probe.py",
        "protocol": (
            "min-of-2 per scale; exponent = log10(t_big/t_small); each "
            "run re-verifies analytic ground truth at that scale"
        ),
        "probes": results,
    }
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps({
        "out": out_path,
        "cc_exponent": results["cc_chain"]["exponent_10x"],
        "em_exponent": results["gmm_hist_em"]["exponent_10x"],
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
