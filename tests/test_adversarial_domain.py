"""Cross-engine parity on ADVERSARIAL value domains (r6).

The driver checks correctness on benign testdata (events.value ∈
[0, 600], no negatives, well-separated modes).  These tests rerun the
events-only queries — including the newly-oracled parity EM and the
floor-division-sensitive q_kmeans — on synthetic tables that force the
paths testdata never hits: negative values (sign-sensitive division,
signed-zero rounds), wide magnitude ranges (exp clamp), a constant
column (variance floor, degenerate percentiles), and a 3-row table
(empty EM components, nf/nrm floors, fractional percentile
interpolation).  Same bit-faithful compare as the driver sim.
"""

from __future__ import annotations

import pytest

from ema_bigdata_spark import registry
from tests.conftest import write_events

registry.load_all()

#: queries that read ONLY the events table
_EVENTS_QUERIES = (
    "q_mean",
    "q_variance_pop",
    "q_kmeans",
    "gmm_fit",
    "q_gmm_bic",
    # Welch t on click-vs-view (degenerate arms filter to zero rows on
    # the tiny fixture — both engines must agree on that too)
    "q_ab_ttest",
    # per-user z-scores / MAD outliers over adversarial magnitudes
    "q_value_outliers",
    "q_outlier_mad",
    # r7 coverage-gap close: the reference _fixed family (fixed-
    # constant density/loglik/M-step arithmetic over events.value) —
    # all events-only, all sharing the scan+snap paths the fixtures
    # above stress (q_linreg reads lineitem → relational suite)
    "q_scan_count", "q_gamma_fixed", "q_init_means",
    "q_loglik_fixed", "q_mstep_mean_fixed", "q_mstep_var_fixed",
    "q_mstep_weight_fixed",
)


def _make_duck(sf_dir: str, table: str):
    """DuckDB connection with one view over a Spark-written parquet
    DIRECTORY (glob its part files)."""
    import duckdb

    duck = duckdb.connect()
    duck.execute(
        f"CREATE VIEW {table} AS SELECT * FROM"
        f" read_parquet('{sf_dir}/{table}.parquet/*.parquet')"
    )
    return duck


def _check_parity(spark, duck, sf_dir: str, name: str) -> None:
    """ONE copy of the driver-style compare for every adversarial
    suite in this file (r6 review: this loop was hand-rolled three
    times)."""
    from tests.oracle import rowset

    sdf = registry.QUERIES[name](spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    ores = duck.execute(registry.ORACLES[name])
    ocols = [d[0] for d in ores.description]
    orows = ores.fetchall()
    assert len(srows) == len(orows), (name, len(srows), len(orows))
    sn, sset = rowset(sdf.columns, srows)
    on, oset = rowset(ocols, orows)
    assert sn == on, (name, sn, on)
    assert sset == oset, (
        name,
        [(a, b) for a, b in zip(sset, oset) if a != b][:3],
    )


def _compare(spark, sf_dir: str, names) -> None:
    duck = _make_duck(sf_dir, "events")
    for name in names:
        _check_parity(spark, duck, sf_dir, name)


class TestAdversarialDomains:
    def test_neg_wide_domain(self, spark, adv_dirs):
        """Negative + wide-magnitude values: exercises the floor
        division on negative cluster sums (the r6 review bug), the
        signed-zero guards, and EM over a sign-spanning histogram."""
        _compare(spark, adv_dirs["neg_wide"], _EVENTS_QUERIES)

    def test_constant_domain(self, spark, adv_dirs):
        """A constant column: variance floor (1e-12), single-bin
        histogram, degenerate percentiles (vlo == vhi), identical
        components with argmax ties."""
        _compare(spark, adv_dirs["constant"], _EVENTS_QUERIES)

    def test_tiny_domain(self, spark, adv_dirs):
        """Three rows: fractional percentile interpolation, empty EM
        components at K=4 (nf/nrm floors), 1-2 member k-means
        clusters."""
        _compare(spark, adv_dirs["tiny"], _EVENTS_QUERIES)


#: documents-reachable queries exercised on the degenerate corpus
#: (everything in the registry that needs ONLY the documents table)
_DOC_QUERIES = (
    "q_text_tokens", "q_lang_id", "q_quality_score", "q_token_count",
    "q_doc_fingerprint", "q_tfidf", "q_normalize_text",
    "q_repetition_score", "q_source_mix", "q_token_histogram",
    "q_char_entropy", "q_filter_report", "q_source_interleave",
    "q_topk_ngrams", "q_bpe_pairs", "q_bigram_lm", "q_unigram_lm",
    "q_bm25", "q_rag_chunk", "q_pii_scrub", "q_mix_weights",
    "q_stratified_sample", "q_train_val_split", "q_weighted_sample",
    "q_corpus_clean", "q_contamination", "q_pack_sequences",
    "q_dedup_exact", "q_dedup_exact_hash", "q_dedup_minhash",
    "q_dedup_simhash", "q_ngram_jaccard", "q_dedup_fuzzy",
    "q_dedup_cluster", "q_dedup_keep_best", "q_minhash_jaccard_est",
    "q_dup_spans",
    # r7 coverage-gap close: the incremental pair splits the corpus
    # on doc_id % mod internally, so the hostile corpus exercises both
    # the standing-corpus and arriving-batch sides
    "q_dedup_incremental", "q_dedup_incremental_near",
    "q_mm_features", "q_mm_png", "q_mm_frames", "q_mm_histogram",
)


@pytest.fixture(scope="module")
def adv_docs_dir(spark, tmp_path_factory):
    """Degenerate documents corpus: empty / whitespace-only /
    punctuation-only / single-char / repeated-char / unicode / huge /
    exact-duplicate / NULL-text docs plus a few normal ones."""
    d = str(tmp_path_factory.mktemp("advdocs"))
    docs = [
        (0, "", "en", "web", 0),
        (1, "   ", "en", "web", 3),
        (2, "x", "en", "web", 1),
        (3, "!!! ... ???", "en", "books", 11),
        (4, "héllo wörld héllo wörld", "de", "web", 23),
        (5, "the quick brown fox jumps over the lazy dog", "en",
         "books", 43),
        (6, "the quick brown fox jumps over the lazy dog", "en",
         "web", 43),
        (7, "word " * 2000, "en", "code", 10000),
        (8, None, "en", "web", 0),
        (9, "normal document with several words of content here", "en",
         "wiki", 50),
        (10, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaa", "en", "web", 29),
        # r8 hostile-docs sweep additions: an emoji-LEADING word
        # (ascii() returns the codepoint, 128512 — overflowed the
        # INT32 multiply in q_doc_fingerprint's word hash before the
        # BIGINT casts), a NULL source (un-filtered, it shifted every
        # real source's interleave slot: Spark numbers the NULL
        # source first, DuckDB last), and a NULL lang (group-key
        # pass-through)
        (11, "\U0001f600 emoji leading word", "en", "web", 20),
        (12, "document with a null source", "en", None, 27),
        (13, "document with a null lang", None, "web", 25),
    ]
    spark.createDataFrame(
        docs,
        "doc_id BIGINT, text STRING, lang STRING, source STRING,"
        " n_chars BIGINT",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


class TestAdversarialDocuments:
    """r6: the probe behind four real fixes — a signed-zero entropy
    (single-symbol doc), NULL-text semantics in q_lang_id, opposite
    NULL window-ordering in q_source_interleave, a NULL ngram at
    q_topk_ngrams' top-k boundary — and a NULL-payload crash in the
    four multimodal codecs."""

    def test_documents_queries_on_degenerate_corpus(
        self, spark, adv_docs_dir
    ):
        duck = _make_duck(adv_docs_dir, "documents")
        failures = []
        for name in _DOC_QUERIES:
            try:
                _check_parity(spark, duck, adv_docs_dir, name)
            except AssertionError:
                failures.append(name)
        assert not failures, failures


@pytest.fixture(scope="module")
def adv_emb_dir(spark, tmp_path_factory):
    """Degenerate embeddings: zero vector, negative-zero vector, exact
    duplicate, tiny-magnitude components, NULL embedding."""
    import random

    d = str(tmp_path_factory.mktemp("advemb"))
    D = 64

    def vec(seed):
        r = random.Random(seed)
        return [round(r.uniform(-1, 1), 4) for _ in range(D)]

    rows = [(i, vec(i), i % 4) for i in range(40)]
    rows += [
        (40, [0.0] * D, 0),
        (41, [-0.0] * D, 1),
        (42, vec(7), 2),
        (44, [1e-30] * D, 0),
        (45, None, 1),
    ]
    spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    return d


class TestAdversarialEmbeddings:
    """r6: the probe behind the similarity-family domain gates — under
    ANSI Spark (the driver's default) an ungated zero-norm vector was
    a DIVIDE_BY_ZERO crash in every cosine path, NULL embeddings
    crashed the numpy training samples and the quantize Arrow worker,
    and DuckDB's abs(-0.0) = -0.0 flipped q_embed_quantize's scale
    sign bit."""

    FAM = (
        "q_embed_norm", "q_similarity_topk", "q_similarity_batch",
        "q_embed_dup", "q_embed_quantize", "q_ann_lsh", "q_ann_ivf",
        "q_ann_pq", "q_embed_centroid", "q_embed_covariance",
        "q_semdedup",
    )

    def test_family_on_degenerate_embeddings(self, spark, adv_emb_dir):
        duck = _make_duck(adv_emb_dir, "embeddings")
        failures = []
        for name in self.FAM:
            try:
                _check_parity(spark, duck, adv_emb_dir, name)
            except AssertionError:
                failures.append(name)
        assert not failures, failures

    def test_out_of_envelope_magnitudes_are_excluded(
        self, spark, tmp_path_factory
    ):
        """r8 semantics change (similarity._NORM2_MAX): components at
        1e30 put the vector outside the declared domain Σx² ∈ (0, 1e4]
        and it is EXCLUDED like a NULL — before r8 this was a loud
        ANSI CAST_OVERFLOW, which at 100 TB means one corrupt vector
        kills the whole job mid-stage (ROUND8_NOTES §15's posture,
        applied to the embedding family).  In-domain rows in the same
        table still aggregate normally."""
        d = str(tmp_path_factory.mktemp("advhuge"))
        rows = [(i, [1e30] * 64, i % 4) for i in range(8)]
        rows += [(100 + i, [0.1] * 64, 0) for i in range(3)]
        spark.createDataFrame(
            rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{d}/embeddings.parquet"
        )
        out = registry.QUERIES["q_embed_centroid"](spark, d).collect()
        assert [(r.label, r.n_vecs) for r in out] == [(0, 3)]


class TestProfilingDomain:
    """r9 per-pipeline value domains (profiling.py module comment).

    The r8 shared gate |value| ≤ 9.2e12 was CAST-safety only; each
    profiling query's quadratic/cross-multiplied integer arithmetic
    overflows well inside it (probed r9: q_value_outliers' Σvu² blew
    DECIMAL(38,0)/HUGEINT with 12 same-user rows at 9.19e12;
    q_outlier_mad's 6745·au blew BIGINT on ±9.2e12 in one event_type —
    in-domain crashes on BOTH engines, ADVICE r8).  The r9 gates are
    each pipeline's proven headroom: 1e9 (value_outliers), 1e8
    (outlier_mad), 9.2e12 unchanged (winsorize, linear ops only).
    This fixture parks values exactly AT each bound (many same-user
    rows, the old crash shape) and just above it, and requires full
    bit-parity — at-bound rows aggregate crash-free, above-bound rows
    are excluded identically on both engines.
    """

    _QUERIES = ("q_value_outliers", "q_outlier_mad", "q_winsorize")

    @pytest.fixture(scope="class")
    def bounds_dir(self, spark, tmp_path_factory):
        d = str(tmp_path_factory.mktemp("profdomain"))
        values = (
            # 84 rows AT the value_outliers bound → 12 rows/user at
            # vu=1e15: Σvu² = 1.2e31, the exact shape that overflowed
            # the old 9.2e12 gate's headroom
            [1e9] * 84
            + [-1e9] * 42
            # AT the outlier_mad bound, both signs in every event_type
            # (worst-case au = 2e14 → 6745·au = 1.349e18 < 2^63)
            + [1e8, -1e8] * 12
            # just above each bound: excluded by the tighter gates,
            # still IN-domain for winsorize
            + [1000000000.01, -1000000000.01, 100000000.01]
            # winsorize bound and beyond, plus non-finites and NULL
            + [9.2e12, -9.2e12, 9200000000000.01, float("nan"),
               float("inf"), -float("inf"), None]
            # benign spread so medians/σ are nondegenerate
            + [round(100.0 + 0.25 * i, 2) for i in range(40)]
        )
        write_events(spark, d, values)
        return d

    @pytest.mark.parametrize("name", _QUERIES)
    def test_at_and_above_bound_parity(self, spark, bounds_dir, name):
        duck = _make_duck(bounds_dir, "events")
        try:
            _check_parity(spark, duck, bounds_dir, name)
        finally:
            duck.close()

    def test_above_bound_rows_are_ignored_not_fatal(
        self, spark, bounds_dir
    ):
        """The 1e9+ε rows must vanish from value_outliers' statistics
        (not crash them), and the at-bound rows must still be judged."""
        out = registry.QUERIES["q_value_outliers"](
            spark, bounds_dir
        ).collect()
        assert all(abs(r.value) <= 1e9 for r in out)
