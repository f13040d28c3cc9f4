"""Workload definitions: the ops each workload runs, the inputs each op
consumes, and the output check each op's result must pass.

An op is one public call into a layer plus the action that forces it.
It runs in up to three steps, each timed as its own span in a traced
pass: an optional explicit ``load`` through ``sources``, the ``build``
(the layer's public call; eager layers do all their work here) and the
action (``collect``, or a ``write`` through ``sources.sinks``).
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass
from typing import Any, Callable

from perfbench import inputs

#: EM iteration cap of the mixture fit (tol=0: it stops early only at
#: an exact fixed point)
MIX_ITERS = 60
#: allowed distance between fitted and generating means
MIX_MEAN_TOL = 0.25
#: iterations of the bit-exact parity EM
PARITY_K = 3
PARITY_ITERS = 2


@dataclass
class Ctx:
    """Everything an op needs: the session, the generated-input dir, the
    dir writes go to and the DuckDB connection the oracles run on."""

    spark: Any
    data: str
    out: str
    duck: Any


@dataclass
class Op:
    name: str
    layer: str
    #: inputs the op consumes, by generated-input name
    reads: tuple[str, ...]
    build: Callable[[Ctx, Any], Any]
    #: "collect" | "write" | None (the build is eager and returns rows)
    action: str | None = "collect"
    load: Callable[[Ctx], Any] | None = None
    #: eager result -> (columns, rows)
    rows: Callable[[Any], tuple[list[str], list[tuple]]] | None = None
    #: analytic check of (columns, rows); registered ops use the oracle
    check: Callable[[Ctx, list[str], list[tuple]], None] | None = None
    registered: bool = False


@dataclass
class Workload:
    name: str
    why: str
    ops: list[Op]

    def rows_per_pass(self) -> int:
        sizes = dict(inputs.SIZES, mixture=inputs.MIXTURE_ROWS)
        return sum(sizes[r] for op in self.ops for r in op.reads)


def _registered(name: str, layer: str, reads: tuple[str, ...],
                action: str = "collect") -> Op:
    def build(ctx: Ctx, _loaded):
        from ema_bigdata_spark import registry

        return registry.QUERIES[name](ctx.spark, ctx.data)

    return Op(name, layer, reads, build, action=action, registered=True)


# -- batch: relational, joins, windows, gmm, gmm_parity ----------------------


def _mixture_load(ctx: Ctx):
    from ema_bigdata_spark.sources.textfile import read_doubles_text

    return read_doubles_text(ctx.spark, os.path.join(ctx.data, "mixture.txt"))


def _mixture_fit(ctx: Ctx, df):
    from ema_bigdata_spark import gmm

    return gmm.gmm_fit(df, k=3, tol=0.0, max_iter=MIX_ITERS)


def _model_rows(m):
    rows = [(j, m.weights[j], m.means[j], m.variances[j], m.n_iter)
            for j in range(len(m.means))]
    return ["component", "weight", "mean", "variance", "n_iter"], rows


def _check_mixture(ctx: Ctx, cols, rows) -> None:
    vals = [v for r in rows for v in r[1:4]]
    if not all(math.isfinite(v) for v in vals):
        raise AssertionError("mixture fit: non-finite parameters")
    if not all(1 <= r[4] <= MIX_ITERS for r in rows):
        raise AssertionError(f"mixture fit: n_iter outside 1..{MIX_ITERS}")
    got = sorted(r[2] for r in rows)
    want = sorted(m for m, _, _ in inputs.MIXTURE)
    if max(abs(a - b) for a, b in zip(got, want)) > MIX_MEAN_TOL:
        raise AssertionError(f"mixture fit: means {got} not within "
                             f"{MIX_MEAN_TOL} of {want}")


def _parity_fit(ctx: Ctx, _loaded):
    from ema_bigdata_spark import gmm_parity

    _, params, _ = gmm_parity.parity_em_spark(
        ctx.spark, ctx.data, PARITY_K, PARITY_ITERS
    )
    return params


_PARITY_KEYS = [f"{a}{j}" for j in range(1, PARITY_K + 1)
                for a in ("phi", "mu", "s2", "nrm")]


def _parity_rows(params):
    return ["param", "value"], [(k, params[k]) for k in _PARITY_KEYS]


def _check_parity(ctx: Ctx, cols, rows) -> None:
    """Bit-exact against the engine's own DuckDB replay of the EM."""
    from ema_bigdata_spark import gmm_parity as gp
    from perfbench.stats import fingerprint

    ctes = [("g_hist", gp.hist_sql("events"))]
    ectes, pcur, _ = gp._oracle_em_ctes(PARITY_K, PARITY_ITERS, "g", False)
    sql = gp._with(ctes + ectes, f"SELECT {', '.join(_PARITY_KEYS)} "
                   f"FROM {pcur}", materialized=True)
    want = ctx.duck.execute(sql).fetchone()
    want_rows = list(zip(_PARITY_KEYS, want))
    if fingerprint(cols, rows) != fingerprint(cols, want_rows):
        raise AssertionError(f"parity EM: {rows} != oracle {want_rows}")


WORKLOADS = {
    "batch": Workload(
        "batch",
        "1-client closed loop: relational, join and window queries plus "
        "both EM fits on a seeded star schema; dedup, text and streaming "
        "stay idle",
        ops=[
            _registered("q_pricing_summary", "operators.relational",
                        ("lineitem",)),
            _registered("q_sql_tpch_q3", "operators.joins",
                        ("customer", "orders", "lineitem")),
            _registered("q_sql_tpch_q6", "operators.joins", ("lineitem",)),
            _registered("q_window_rank", "operators.windows", ("orders",)),
            Op("gmm_fit_mixture", "gmm", ("mixture",), _mixture_fit,
               action=None, load=_mixture_load, rows=_model_rows,
               check=_check_mixture),
            Op("parity_em_fit", "gmm_parity", ("events",), _parity_fit,
               action=None, rows=_parity_rows, check=_check_parity),
        ],
    ),
    "pipeline": Workload(
        "pipeline",
        "1-client closed loop: LLM-data cleaning, near-dup clustering, "
        "vector search, a parquet write and a streaming drain; relational, "
        "joins, windows and EM stay idle",
        ops=[
            _registered("q_corpus_clean", "operators.text", ("documents",),
                        action="write"),
            _registered("q_dedup_cluster", "operators.dedup",
                        ("documents",)),
            _registered("q_similarity_topk", "operators.similarity",
                        ("embeddings",)),
            _registered("s_stream_dedup", "streaming", ("events",)),
        ],
    ),
}


def path_guards(name: str, data: str) -> dict[str, bool]:
    """Each op stays on the side of the engine's cutover it was chosen
    for, asserted from the library's own constants."""
    from ema_bigdata_spark import gmm
    from ema_bigdata_spark.operators import dedup

    g: dict[str, bool] = {}
    if name == "batch":
        with open(os.path.join(data, "mixture.txt")) as f:
            distinct = len(set(f.read().split()))
        g["mixture_fit_on_driver"] = distinct <= gmm.MAX_DRIVER_BINS
    if name == "pipeline":
        n = inputs.SIZES["documents"]
        g["corpus_cc_on_driver"] = n * (n - 1) // 2 <= dedup._CC_DRIVER_MAX
    return g
