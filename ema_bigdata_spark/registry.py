"""Query registry: the single source of truth for the tested contract.

Every operator from ``SURVEY.md §2`` registers here with its Spark
implementation and (when SQL-expressible) its DuckDB oracle SQL.
``__spark_entry__.py`` simply re-exports the two dicts.

Convention (driver hash-compare requirements):
- every computed column is aliased identically in Spark and oracle SQL;
- every float output is ``round(x, N)`` on BOTH sides (default N=6);
- integer-ish computed outputs are cast to BIGINT on both sides;
- no unseeded randomness anywhere.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle`` is DuckDB SQL or None (rows-only)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


#: Verification priority.  The external driver records a CORRECTNESS
#: row for only the FIRST 50 names in ``queries()`` order, so this
#: window decides which queries a run certifies.  Rotation rule:
#: never-checked first, then red rows and queries whose code changed
#: after their latest official row, then the stalest official rows (an
#: old green row doesn't certify refactored code).  Freshness invariant
#: (enforced by ``tools/check_freshness.py``): at round close, no
#: query's latest official row may be more than three rounds old.
#:
#: The window holds four groups:
#:
#: (1) s_stream_dedup, s_stream_join, s_stream_static_join and
#:     s_stream_upsert: the oldest official rows, at the freshness
#:     edge, and their drain now skips the no-data micro-batch
#:     (stream_queries._state_partitions), which no official row has
#:     certified.
#:
#: (2) The five other s_stream_* queries: the same drain change,
#:     rows-identical in-repo, not yet certified by the driver.
#:
#: (3) Seven queries whose PLANS changed after their latest official
#:     rows: the six sort-removals and q_pagerank.  q_pagerank,
#:     q_dedup_cluster and q_dedup_keep_best also changed again
#:     (pre-partitioned caches; self-loop CC), so their rows certify
#:     the current plans directly.
#:
#: (4) Thirty-four of the 45 next-stalest rows (alphabetical).
#:
#: Next window first: the eleven next-stalest rows that did not fit,
#: which reach the freshness edge next: q_skew_metrics, q_skyline,
#: q_source_interleave, q_sql_tpch_q10, q_sql_tpch_q14,
#: q_sql_tpch_q17, q_sql_tpch_q6, q_train_val_split, q_unigram_lm,
#: q_window_frames, q_window_running.  All unchanged for multiple
#: rounds and green in every full driver sim.
#:
#: (Earlier windows' rationales live in git history and the
#: ROUND*_NOTES.md files.)
_CHECK_WINDOW: tuple[str, ...] = (
    # — (1) the four oldest stream rows, at the freshness edge —
    "s_stream_dedup", "s_stream_join", "s_stream_static_join",
    "s_stream_upsert",
    # — (2) the rest of the stream family (same drain change) —
    "s_stream_anomaly", "s_stream_session", "s_stream_sliding",
    "s_stream_topk", "s_stream_tumbling",
    # — (3) plans changed after their latest official rows —
    "q_pagerank", "q_dedup_cluster", "q_dedup_keep_best",
    "q_dedup_minhash", "q_dedup_simhash", "q_minhash_jaccard_est",
    "q_embed_quantize",
    # — (4) 34 of the 45 next-stalest rows (alphabetical) —
    "gmm_fit", "q_agg_distinct", "q_ann_ivf", "q_bm25",
    "q_char_entropy", "q_collect_agg", "q_compact_latest",
    "q_contamination", "q_corpus_clean", "q_corr_stats", "q_cube",
    "q_dedup_exact_hash", "q_dedup_incremental",
    "q_dedup_incremental_near", "q_dup_spans", "q_embed_centroid",
    "q_except", "q_funnel", "q_gmm_bic", "q_grouping_sets", "q_having",
    "q_init_means", "q_join_anti", "q_join_asof", "q_join_broadcast",
    "q_join_full", "q_join_range", "q_kmeans", "q_lang_id", "q_linreg",
    "q_mix_weights", "q_pack_sequences", "q_retention", "q_semdedup",
)

#: The round whose window is staged above.  ``tools/check_freshness.py``
#: (and its CI test) read this instead of inferring the round from the
#: recorded CORRECTNESS files, so committing a round's artifact does
#: not flip the tripwire before the next window is actually staged.
_CHECK_WINDOW_ROUND = 13


def load_all() -> None:
    """Import every operator module so registrations run, then reorder
    ``QUERIES`` so the driver's 50-row check window
    (``_CHECK_WINDOW``) comes first — see that constant's docstring.
    Idempotent: imports are cached and the reorder is deterministic.
    """
    from ema_bigdata_spark.operators import reference  # noqa: F401
    from ema_bigdata_spark.operators import (  # noqa: F401
        relational,
        scalars,
        text,
        windows,
    )
    from ema_bigdata_spark.operators import (  # noqa: F401
        analytics,
        joins,
        profiling,
        similarity,
    )
    from ema_bigdata_spark.operators import ml, multimodal  # noqa: F401
    from ema_bigdata_spark.operators import dedup  # noqa: F401
    from ema_bigdata_spark import gmm, gmm_parity  # noqa: F401
    from ema_bigdata_spark.streaming import stream_queries  # noqa: F401

    missing = [n for n in _CHECK_WINDOW if n not in QUERIES]
    if missing:  # typo guard: a misspelled window entry must fail loudly
        raise RuntimeError(f"_CHECK_WINDOW names not registered: {missing}")
    ordered = {n: QUERIES[n] for n in _CHECK_WINDOW}
    ordered.update((n, f) for n, f in QUERIES.items() if n not in ordered)
    QUERIES.clear()
    QUERIES.update(ordered)
