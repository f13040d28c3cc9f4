"""PySpark-native analytics engine with the capabilities of the
Krosent/ema-bigdata reference (EM/GMM over Spark), extended with the
relational + LLM-data-pipeline operator surface of a large-scale
training-data platform.  See README.md and SURVEY.md.

Library entry points (each also backs a declared ``queries()`` entry):

>>> from ema_bigdata_spark import gmm_fit, sessionize, minhash_pairs
>>> model = gmm_fit(df, "value", k=3)          # 1 scan, EM on histogram
>>> sessions = sessionize(events_df)           # gaps-and-islands
>>> dups = minhash_pairs(docs_df)              # MinHash-LSH candidates
"""

from __future__ import annotations

__all__ = [
    "ann_ivf_topk",
    "assign_splits",
    "connected_components",
    "cosine_topk",
    "dup_span_stats",
    "embed_dup_pairs",
    "get_spark",
    "gmm_fit",
    "keep_best",
    "lang_id_join",
    "minhash_incremental",
    "minhash_pairs",
    "minhash_pairs_from_sigs",
    "mix_weights",
    "ngram_jaccard_pairs",
    "read_doubles_text",
    "salted_join",
    "sessionize",
    "simhash_pairs",
    "spread",
    "unigram_lm",
    "value_outliers",
]


def __getattr__(name: str):
    # Lazy re-exports: importing the package must not require a JVM.
    targets = {
        "gmm_fit": ("ema_bigdata_spark.gmm", "gmm_fit"),
        "sessionize": ("ema_bigdata_spark.operators.windows", "sessionize"),
        "minhash_pairs": ("ema_bigdata_spark.operators.dedup", "minhash_pairs"),
        "minhash_pairs_from_sigs": (
            "ema_bigdata_spark.operators.dedup", "minhash_pairs_from_sigs"),
        "ngram_jaccard_pairs": (
            "ema_bigdata_spark.operators.dedup", "ngram_jaccard_pairs"),
        "keep_best": ("ema_bigdata_spark.operators.dedup", "keep_best"),
        "simhash_pairs": (
            "ema_bigdata_spark.operators.dedup", "simhash_pairs"),
        "ann_ivf_topk": (
            "ema_bigdata_spark.operators.similarity", "ann_ivf_topk"),
        "embed_dup_pairs": (
            "ema_bigdata_spark.operators.similarity", "embed_dup_pairs"),
        "lang_id_join": (
            "ema_bigdata_spark.operators.text", "lang_id_join"),
        "unigram_lm": (
            "ema_bigdata_spark.operators.text", "unigram_lm"),
        "dup_span_stats": (
            "ema_bigdata_spark.operators.dedup", "dup_span_stats"),
        "mix_weights": (
            "ema_bigdata_spark.operators.text", "mix_weights"),
        "minhash_incremental": (
            "ema_bigdata_spark.operators.dedup", "minhash_incremental"),
        "assign_splits": (
            "ema_bigdata_spark.operators.text", "assign_splits"),
        "value_outliers": (
            "ema_bigdata_spark.operators.profiling", "value_outliers"),
        "connected_components": (
            "ema_bigdata_spark.operators.dedup", "connected_components"),
        "cosine_topk": (
            "ema_bigdata_spark.operators.similarity", "cosine_topk"),
        "salted_join": ("ema_bigdata_spark.operators.joins", "salted_join"),
        "read_doubles_text": (
            "ema_bigdata_spark.sources.textfile", "read_doubles_text"),
        "spread": ("ema_bigdata_spark.sources.tables", "spread"),
        "get_spark": ("ema_bigdata_spark.session", "get_spark"),
    }
    if name in targets:
        import importlib

        mod, attr = targets[name]
        return getattr(importlib.import_module(mod), attr)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
