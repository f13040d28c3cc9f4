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


#: Round-13 verification priority.  The external driver records a
#: CORRECTNESS row for only the FIRST 50 names in ``queries()`` order.
#: Rotation rule (steady state since r3): never-checked first, then
#: red rows / changed-this-round, then stalest-official-row (an old
#: green row doesn't certify refactored code).  Freshness invariant
#: (VERDICT r9 item 7, enforced by ``tools/check_freshness.py``): at
#: round close, no query's latest official row may predate N-3.
#:
#: This window (r13, optimization round 2):
#:
#: (1) The four OWED r9 rows (N-3 edge this round; staged by the r12
#:     registry docstring): s_stream_dedup, s_stream_join,
#:     s_stream_static_join, s_stream_upsert.  Their execution also
#:     changed this round (the no-data micro-batch is now skipped in
#:     the drain context — stream_queries._state_partitions), so the
#:     re-certification is doubly owed.
#:
#: (2) The five remaining s_stream_* rows (r11/r12 rows, same
#:     changed-this-round drain conf; A/B'd rows-identical in-repo,
#:     but the driver-of-record should certify the new execution).
#:
#: (3) The seven queries whose PLANS changed in r12 after their
#:     latest official rows (VERDICT r12 item 1 / Next-round #2):
#:     the six sort-removals + q_pagerank.  q_pagerank,
#:     q_dedup_cluster and q_dedup_keep_best changed AGAIN this round
#:     (pre-partitioned caches; self-loop CC), so their inclusion
#:     certifies the r13 plans directly.
#:
#: (4) THIRTY-FOUR of the 45 remaining r10 rows (alphabetical) —
#:     the rest of the stalest cohort.
#:
#: OWED r14 (the eleven r10 rows that did not fit; they hit the N-3
#: edge next round, so they MUST head the r14 window):
#: q_skew_metrics, q_skyline, q_source_interleave, q_sql_tpch_q10,
#: q_sql_tpch_q14, q_sql_tpch_q17, q_sql_tpch_q6, q_train_val_split,
#: q_unigram_lm, q_window_frames, q_window_running.  All unchanged
#: for multiple rounds; green in every full driver sim since r10.
#:
#: (The full r9-r12 window rationales live in git history and
#: ROUND9_NOTES.md … ROUND12_NOTES.md.)
_CHECK_WINDOW: tuple[str, ...] = (
    # — (1) the four owed r9 stream rows (N-3 edge this round) —
    "s_stream_dedup", "s_stream_join", "s_stream_static_join",
    "s_stream_upsert",
    # — (2) the rest of the stream family (drain conf changed r13) —
    "s_stream_anomaly", "s_stream_session", "s_stream_sliding",
    "s_stream_topk", "s_stream_tumbling",
    # — (3) plans changed r12 (and three of them again r13) —
    "q_pagerank", "q_dedup_cluster", "q_dedup_keep_best",
    "q_dedup_minhash", "q_dedup_simhash", "q_minhash_jaccard_est",
    "q_embed_quantize",
    # — (4) 34 of the 45 remaining r10 rows (alphabetical) —
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
#: recorded CORRECTNESS files, so committing round N's artifact does not
#: flip the tripwire before the N+1 window is actually staged
#: (ADVICE r10, tools/check_freshness.py:54).
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
