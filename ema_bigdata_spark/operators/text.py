"""LLM-pipeline text analysis over ``documents`` (driver mandate,
SURVEY.md §2.4): token stats, language-ID heuristic, quality scoring,
token counting, document fingerprinting.

Everything is built-in expressions / higher-order functions — zero
Python in the row path, so the same code whole-stage-codegens and
scales linearly with document count (one shuffle only where a groupBy
genuinely needs it).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ema_bigdata_spark.functions.textfold import (
    fold_lower,
    sql_fold_lower,
)
from ema_bigdata_spark.registry import query
from ema_bigdata_spark.sources.tables import (
    load_table,
    local_checkpoint,
    local_frame,
    spread,
)

# Deterministic demo lexicon over the corpus vocabulary (synthetic
# docs; real deployments swap in per-language stopword lists — the
# *operator shape* is what scales: token explode + tiny broadcast join).
LEXICON: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "fast", "slow"),
    "es": ("data", "value", "key"),
    "de": ("sort", "merge", "order"),
    "fr": ("table", "row", "column"),
    "zh": ("spark", "stream", "batch"),
}

STOPWORDS = ("the", "a")


# -- q_text_tokens: corpus token frequency --------------------------------


@query(
    "q_text_tokens",
    oracle="""
    SELECT token, CAST(count(*) AS BIGINT) AS cnt
    FROM (
      SELECT unnest(string_split(text, ' ')) AS token
      FROM documents WHERE lang = 'en'
    ) WHERE token <> ''
    GROUP BY token
    """,
)
def q_text_tokens(spark, sf_dir):
    # explode → groupBy(token): one shuffle keyed by token; partial
    # (map-side) counts keep the exchange proportional to vocabulary,
    # not corpus size.
    return (
        load_table(spark, sf_dir, "documents")
        .where(F.col("lang") == "en")
        .select(F.explode(F.split("text", " ", -1)).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


# -- q_lang_id: marker-lexicon language identification --------------------


def _lexicon_sql_values() -> str:
    rows = [
        f"('{w}', '{lang}')" for lang, words in LEXICON.items() for w in words
    ]
    return ", ".join(rows)


@query(
    "q_lang_id",
    oracle=f"""
    WITH lex(word, lex_lang) AS (VALUES {_lexicon_sql_values()}),
    hits AS (
      SELECT t.doc_id, l.lex_lang, count(*) AS n_hits
      FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents WHERE doc_id IS NOT NULL
      ) t JOIN lex l ON t.token = l.word
      GROUP BY t.doc_id, l.lex_lang
    ),
    best AS (
      SELECT doc_id, lex_lang, n_hits,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY n_hits DESC, lex_lang) AS rn
      FROM hits
    )
    SELECT d.doc_id, d.lang,
           coalesce(b.lex_lang, 'und') AS pred_lang,
           CAST(coalesce(b.n_hits, 0) AS BIGINT) AS n_hits
    FROM documents d
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
    WHERE d.doc_id IS NOT NULL
    """,
)
def q_lang_id(spark, sf_dir):
    """Marker-lexicon language ID as a PURE PROJECTION: the
    lexicon is 16 literal words, so per-lang hit counts are per-row
    array folds and the argmax is a when-cascade — one scan, zero
    exchanges, zero joins.  The explode → broadcast-join → groupBy →
    rejoin shape shuffles (doc_id, lang) hit rows and then
    sort-merge-joins the corpus back to itself per run; at 100 TB
    that is two corpus-sized exchanges for something each row can
    answer alone.  For REAL lexicons (100k+ words, too big to inline)
    use :func:`lang_id_join`, which keeps the broadcast-join shape."""
    # doc_id IS NOT NULL: the output is keyed by doc_id, and the
    # oracle's hits re-attach through a LEFT JOIN USING (doc_id)
    # that a NULL id never matches (it would read 'und' where the
    # projection reads the true language) — an identity-less doc
    # has no per-document row
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull()
    )
    toks = "split(text, ' ', -1)"
    langs = sorted(LEXICON)
    hit_cols = []
    for lang in langs:
        arr = "array(" + ", ".join(f"'{w}'" for w in LEXICON[lang]) + ")"
        # coalesce: a NULL text must count as zero hits → 'und', the
        # same semantics as the oracle's LEFT JOIN + coalesce —
        # size(split(NULL)) is NULL, which would NULL pred_lang and
        # n_hits on Spark only
        hit_cols.append(
            F.expr(
                f"coalesce(size(filter({toks},"
                f" t -> array_contains({arr}, t))), 0)"
            )
            .cast("long")
            .alias(f"_h_{lang}")
        )
    df = docs.select("doc_id", "lang", *hit_cols)
    max_hits = F.greatest(*[F.col(f"_h_{lang}") for lang in langs])
    # when-cascade in ascending lang order = min-lang tie-break, the
    # same (n_hits DESC, lex_lang ASC) rule as the oracle's row_number
    pred = F.when(max_hits == 0, F.lit("und"))
    for lang in langs:
        pred = pred.when(F.col(f"_h_{lang}") == max_hits, F.lit(lang))
    return df.select(
        "doc_id",
        "lang",
        pred.alias("pred_lang"),
        max_hits.alias("n_hits"),
    )


def lang_id_join(docs, lexicon: dict[str, tuple[str, ...]]):
    """Language ID for lexicons too large to inline as literals: token
    explode → broadcast lexicon join → per-doc argmax → rejoin.  The
    broadcast keeps token matching shuffle-free; the groupBy and the
    corpus rejoin each shuffle by doc_id (AQE reuses the
    partitioning).  This is the 100 TB shape when the lexicon is a
    real dictionary; the registered q_lang_id uses the literal-fold
    projection instead."""
    pairs = [(w, lang) for lang, words in lexicon.items() for w in words]
    lex = F.broadcast(local_frame(
        docs.sparkSession, [[w for w, _ in pairs], [lg for _, lg in pairs]],
        "word STRING, lex_lang STRING",
    ))
    tokens = docs.select(
        "doc_id", F.explode(F.split("text", " ", -1)).alias("token")
    )
    hits = (
        tokens.join(lex, tokens.token == lex.word)  # broadcast: no shuffle
        .groupBy("doc_id", "lex_lang")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("n_hits"), F.asc("lex_lang")
    )
    best = hits.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return docs.join(best, "doc_id", "left").select(
        "doc_id",
        "lang",
        F.coalesce("lex_lang", F.lit("und")).alias("pred_lang"),
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
    )


# -- q_quality_score: length/stopword/word-shape heuristics ---------------

_STOP_IN = ", ".join(f"'{w}'" for w in STOPWORDS)

# identical expression text on both engines (parity) — pure per-row math
_QUALITY_EXPR = (
    "round(CAST(0.3 AS DOUBLE) * ln(1 + n_chars_calc)"
    " + CAST(0.4 AS DOUBLE) * (CAST(1 AS DOUBLE)"
    "   - abs(avg_word_len - CAST(4.5 AS DOUBLE)) / CAST(4.5 AS DOUBLE))"
    " + CAST(0.3 AS DOUBLE) * stop_ratio, 6)"
)


@query(
    "q_quality_score",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars_calc,
             CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(length(list_filter(string_split(text, ' '),
                                     x -> x IN ({_STOP_IN}))) AS BIGINT)
               AS n_stop
      FROM documents
    )
    SELECT doc_id, n_chars_calc, n_tokens,
           round(CAST(length_wordchars AS DOUBLE) / n_tokens, 6)
             AS avg_word_len_r,
           round(stop_ratio, 6) AS stop_ratio_r,
           {_QUALITY_EXPR} AS quality
    FROM (
      SELECT *,
             (n_chars_calc - (n_tokens - 1)) AS length_wordchars,
             CAST(length_wordchars AS DOUBLE) / n_tokens AS avg_word_len,
             CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio
      FROM m
    )
    """,
)
def q_quality_score(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    m = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_calc"),
        F.size(F.split("text", " ", -1)).cast("long").alias("n_tokens"),
        F.expr(
            f"CAST(size(filter(split(text, ' ', -1), x -> x IN ({_STOP_IN})))"
            " AS BIGINT)"
        ).alias("n_stop"),
    )
    m = (
        m.withColumn(
            "length_wordchars", F.col("n_chars_calc") - (F.col("n_tokens") - 1)
        )
        .withColumn(
            "avg_word_len",
            F.col("length_wordchars").cast("double") / F.col("n_tokens"),
        )
        .withColumn(
            "stop_ratio", F.col("n_stop").cast("double") / F.col("n_tokens")
        )
    )
    return m.select(
        "doc_id",
        "n_chars_calc",
        "n_tokens",
        F.round(
            F.col("length_wordchars").cast("double") / F.col("n_tokens"), 6
        ).alias("avg_word_len_r"),
        F.round(F.col("stop_ratio"), 6).alias("stop_ratio_r"),
        F.expr(_QUALITY_EXPR).alias("quality"),
    )


# -- q_token_count: whitespace + BPE-ish regex token counts ---------------

#: simple BPE-ish pre-tokenizer: letter runs | single digits | symbols
_BPE_RE = "[a-z]+|[0-9]|[^a-z0-9 ]"


@query(
    "q_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(length(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(length(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT)
             AS bpe_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_calc
    FROM documents
    """,
)
def q_token_count(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ", -1)).cast("long").alias("ws_tokens"),
        F.size(F.expr(f"regexp_extract_all(text, '{_BPE_RE}', 0)"))
        .cast("long")
        .alias("bpe_tokens"),
        F.length("text").cast("long").alias("n_chars_calc"),
    )


# -- q_doc_fingerprint: position-weighted integer content hash ------------
# Pure BIGINT arithmetic (exact on both engines): h(word) folds length
# and boundary characters; the position weight makes it order-sensitive
# like a rolling hash, while the final modulus keeps it compact.

_FP_MOD = 1_000_000_007


def _word_hash(word: str) -> str:
    # every term is CAST to BIGINT before its multiply: ascii() is
    # INT32 on both engines and returns the full CODEPOINT, so a
    # word starting with an emoji (ascii = 128512) times 40503
    # overflows INT32: an ANSI ARITHMETIC_OVERFLOW that kills the
    # whole job on one document
    return (
        f"(CAST(length({word}) AS BIGINT) * 2654435761"
        f" + CAST(ascii(substr({word}, 1, 1)) AS BIGINT) * 40503"
        f" + CAST(ascii(substr({word}, length({word}), 1)) AS BIGINT))"
    )


@query(
    "q_doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           (CAST(sum(ord * {_word_hash('word')}) AS BIGINT) % {_FP_MOD})
             AS fingerprint,
           CAST(count(*) AS BIGINT) AS n_tokens
    FROM (
      SELECT doc_id, u.word, u.ord
      FROM documents,
           LATERAL (SELECT unnest(string_split(text, ' ')) AS word,
                           generate_subscripts(string_split(text, ' '), 1)
                             AS ord) u
    )
    GROUP BY doc_id
    """,
)
def q_doc_fingerprint(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ", -1)).alias("pos", "word"),
    ).withColumn("ord", F.col("pos") + 1)  # 1-based like generate_subscripts
    return tok.groupBy("doc_id").agg(
        (F.sum(F.col("ord") * F.expr(_word_hash("word"))) % _FP_MOD)
        .cast("long")
        .alias("fingerprint"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
    )


# -- q_tfidf: top TF-IDF term per document --------------------------------
# Two aggregations (term frequency per doc, document frequency per
# term) + a broadcast-size DF join + one ranking window.  Ranking key
# is the ROUNDED score so mathematically-tied scores take the same
# term tiebreak on both engines.

_TFIDF_SCORE = "round(tf * ln(n_docs / df), 6)"


@query(
    "q_tfidf",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
      FROM tok WHERE term <> '' GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
      FROM tok WHERE term <> '' GROUP BY term
    ),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, {_TFIDF_SCORE} AS score,
             row_number() OVER (PARTITION BY tf.doc_id
                                ORDER BY {_TFIDF_SCORE} DESC, tf.term) AS rn
      FROM tf JOIN df USING (term), n
    )
    SELECT doc_id, term AS top_term, score AS tfidf
    FROM scored WHERE rn = 1
    """,
)
def q_tfidf(spark, sf_dir):
    # single-partition scan, deliberately NOT spread() — A/B min-of-3
    # at sf0.1, interleaved: plain 1.07 s vs spread 1.52 s.  The
    # explode feeds a partial aggregation, so the one-partition stage
    # is shuffle-write-bound, not CPU-bound, and the round-robin
    # exchange of full text costs more than it frees (same verdict as
    # the cheap multimodal codecs; opposite of the CPU-bound
    # q_mm_png/q_char_entropy sites).
    docs = load_table(spark, sf_dir, "documents")
    n_docs = float(docs.count())
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ", -1)).alias("term")
    ).where(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    df_ = tok.groupBy("term").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    scored = (
        tf.join(F.broadcast(df_), "term")  # vocabulary is tiny vs corpus
        .withColumn("n_docs", F.lit(n_docs))
        .withColumn("score", F.expr(_TFIDF_SCORE))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("term").alias("top_term"),
                F.col("score").alias("tfidf"))
    )


# -- q_normalize_text: canonicalization for dedup/training pipelines ------


@query(
    "q_normalize_text",
    oracle=f"""
    SELECT doc_id,
           norm,
           CAST(length(norm) AS BIGINT) AS norm_len
    FROM (
      SELECT doc_id,
             trim(regexp_replace({sql_fold_lower('text')},
                                 ' +', ' ', 'g')) AS norm
      FROM documents
    )
    """,
)
def q_normalize_text(spark, sf_dir):
    """Canonical text normalization (lowercase, squash runs of spaces,
    trim) — the key-building step ahead of exact dedup.  Pure codegen'd
    string expressions; regex semantics chosen to parse identically
    under Java regex and DuckDB RE2 (no classes, no backrefs)."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.trim(F.regexp_replace(fold_lower("text"), " +", " ")).alias(
            "norm"
        ),
        F.length(
            F.trim(F.regexp_replace(fold_lower("text"), " +", " "))
        ).cast("long").alias("norm_len"),
    )


# -- q_stratified_sample: reproducible hash-based sampling ----------------

#: Knuth multiplicative constant; doc_id * C mod 1000 is a uniform,
#: engine-identical pseudo-random bucket.  (At >1e9 docs reduce doc_id
#: mod a prime first to keep the product inside BIGINT.)
_SAMPLE_C = 2_654_435_761
_SAMPLE_RATES = {"en": 200, "es": 100, "de": 100, "fr": 50, "zh": 50}


@query(
    "q_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE ((doc_id % 1000) * {_SAMPLE_C}) % 1000 <
          CASE lang {" ".join(f"WHEN '{k}' THEN {v}"
                              for k, v in sorted(_SAMPLE_RATES.items()))}
          ELSE 0 END
    """,
)
def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language stratified sampling — training-data
    mixing without ``rand()``: the same row set comes back on every
    engine, every run, every partitioning (seeded-rand sampling is
    partitioning-dependent and un-oracle-able).  Pure codegen'd integer
    arithmetic; the predicate pushes to the scan."""
    rate = F.lit(0)
    for k, v in sorted(_SAMPLE_RATES.items()):
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    # mod-first: doc_id * C overflows int64 under ANSI for |doc_id|
    # >= ~3.5e9; (d % 1000) * C tops out at ~2.7e12 and is
    # value-identical wherever d * C does not overflow ((d*C) mod m
    # == ((d mod m)*C) mod m, and both engines' truncated % keeps
    # the dividend's sign on both forms)
    bucket = ((F.col("doc_id") % 1000) * F.lit(_SAMPLE_C)) % 1000
    return (
        load_table(spark, sf_dir, "documents")
        .where(bucket < rate)
        .select("doc_id", "lang")
    )


# -- q_repetition_score: duplicate-bigram fraction (quality rule) ---------

#: word-bigram arrays, engine-shared shape: n-1 bigrams for n>=2
#: tokens, else empty.  (The Gopher-style repetition rule: a high
#: duplicate-n-gram fraction marks boilerplate/spam for filtering.)
#: zipped shifted slices, not element_at-in-a-lambda: the HOF
#: interpreter re-evaluates captured expressions per element, making
#: the indexed form O(tokens²) per doc (measured 3× slower).
_BIGRAMS = (
    "CASE WHEN size(split(text, ' ', -1)) >= 2"
    " THEN zip_with("
    "   slice(split(text, ' ', -1), 1, size(split(text, ' ', -1)) - 1),"
    "   slice(split(text, ' ', -1), 2, size(split(text, ' ', -1)) - 1),"
    "   (a, b) -> concat(a, ' ', b))"
    " ELSE array() END"
)


@query(
    "q_repetition_score",
    oracle="""
    WITH bg AS (
      SELECT doc_id, lang,
             CASE WHEN len(toks) >= 2
               THEN list_transform(
                      list_zip(list_slice(toks, 1, len(toks) - 1),
                               list_slice(toks, 2, len(toks))),
                      t -> concat(t[1], ' ', t[2]))
               ELSE [] END AS bigrams
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks
            FROM documents)
    )
    SELECT doc_id, lang,
           CAST(len(bigrams) AS BIGINT) AS n_bigrams,
           round(CASE WHEN len(bigrams) = 0 THEN 0.0
                 ELSE CAST(len(bigrams) - len(list_distinct(bigrams)) AS DOUBLE)
                      / len(bigrams) END, 6) AS dup_frac
    FROM bg
    """,
)
def q_repetition_score(spark, sf_dir):
    """Duplicate-bigram fraction per document — the Gopher-style
    repetition quality rule for LLM-corpus filtering.  Entirely
    per-row higher-order functions: zero shuffles, linear scan at any
    scale (the filter `dup_frac > threshold` composes onto the scan)."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "bigrams", F.expr(_BIGRAMS)
    )
    n = F.size("bigrams")
    dup = F.when(n == 0, F.lit(0.0)).otherwise(
        (n - F.size(F.array_distinct("bigrams"))).cast("double") / n
    )
    return docs.select(
        "doc_id",
        "lang",
        n.cast("long").alias("n_bigrams"),
        F.round(dup, 6).alias("dup_frac"),
    )


# -- q_source_mix: per-(source, lang) corpus mixing report ----------------


@query(
    "q_source_mix",
    oracle="""
    WITH per AS (
      SELECT source, lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source, lang
    )
    SELECT source, lang, n_docs, n_tokens,
           round(CAST(n_tokens AS DOUBLE)
                 / sum(n_tokens) OVER (), 6) AS token_share
    FROM per
    """,
)
def q_source_mix(spark, sf_dir):
    """Data-mixing report: docs, tokens, and corpus token share per
    (source, lang) — the table a training-mix designer reads before
    setting sampling weights.  One groupBy shuffle to ≤|sources|×|langs|
    rows; the global-share window runs on that tiny aggregate, never on
    raw documents."""
    per = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size(F.split("text", " ", -1))).cast("long").alias("n_tokens"),
        )
    )
    share = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(
        Window.partitionBy()
    )
    return per.select(
        "source", "lang", "n_docs", "n_tokens",
        F.round(share, 6).alias("token_share"),
    )


# -- q_token_histogram: token-count distribution per language -------------

_HIST_BUCKET = 10


@query(
    "q_token_histogram",
    oracle=f"""
    SELECT lang,
           CAST(len(string_split(text, ' ')) // {_HIST_BUCKET} AS BIGINT)
             AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY lang, bucket
    """,
)
def q_token_histogram(spark, sf_dir):
    """Document-length histogram (token-count buckets of
    {_HIST_BUCKET}) per language — the distribution check run before
    setting min/max-length filters on a corpus.  Bucketing is per-row
    integer arithmetic; one groupBy over ≤|langs|×|buckets| keys."""
    toks = F.size(F.split("text", " ", -1))
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy(
            "lang",
            (toks / _HIST_BUCKET).cast("long").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


# -- q_corpus_clean: the composed training-corpus cleaning pipeline -------

#: corpus-clean gates: language, token-length band, quality floor.
#: Chosen non-vacuous on the testdata (keeps 135/146/1433 docs at
#: sf0.001/0.01/0.1) and representative of a real pretraining filter.
_CLEAN_MIN_TOKENS = 30
_CLEAN_MAX_TOKENS = 1000
_CLEAN_MIN_QUALITY = 2.0


@query(
    "q_corpus_clean",
    oracle=f"""
    WITH m AS (
      SELECT doc_id, lang, source, text,
             CAST(length(text) AS BIGINT) AS n_chars_calc,
             CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(length(list_filter(string_split(text, ' '),
                                     x -> x IN ({_STOP_IN}))) AS BIGINT)
               AS n_stop
      FROM documents
    ),
    scored AS (
      SELECT *, {_QUALITY_EXPR} AS quality
      FROM (
        SELECT *,
               (n_chars_calc - (n_tokens - 1)) AS length_wordchars,
               CAST(n_chars_calc - (n_tokens - 1) AS DOUBLE) / n_tokens
                 AS avg_word_len,
               CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio
        FROM m
      )
    ),
    gated AS (
      SELECT * FROM scored
      WHERE lang = 'en'
        AND n_tokens BETWEEN {_CLEAN_MIN_TOKENS} AND {_CLEAN_MAX_TOKENS}
        AND quality >= {_CLEAN_MIN_QUALITY}
    ),
    winners AS (
      SELECT min(doc_id) AS doc_id FROM gated
      GROUP BY lower(replace(replace(trim(text), 'İ', 'i'), 'Σ', 'σ'))
    )
    SELECT g.doc_id, g.source, g.n_tokens, g.quality
    FROM gated g JOIN winners w ON g.doc_id = w.doc_id
    """,
)
def q_corpus_clean(spark, sf_dir):
    """The composed pretraining-corpus cleaning pipeline in ONE plan:
    language gate → token-length band → quality floor → exact-dedup
    winner per normalized text.  This is the end-to-end shape every
    LLM data pipeline runs before tokenization; declaring it as one
    query proves the individual operators (q_lang_id's gate,
    q_token_count's counting, q_quality_score's scoring,
    q_dedup_exact's keying) COMPOSE without materialization barriers.

    Scale shape: everything before dedup is a pushed-filter scan plus
    per-row expressions (no shuffle, no UDF); the dedup winner is a
    row_number-over-normalized-text window, so the whole pipeline is
    ONE scan and ONE exchange (plan-tested) — and the exchange runs on
    the ALREADY-GATED subset (here ~30% of docs; the gates cut shuffle
    volume before the expensive step — filter-then-shuffle ordering
    that matters at 100 TB).  The filter on the ROUNDED quality keeps
    the float boundary engine-portable (both sides compare identical
    6-decimal values).
    """
    from pyspark.sql import Window
    docs = load_table(spark, sf_dir, "documents")
    m = docs.select(
        "doc_id",
        "lang",
        "source",
        "text",
        F.length("text").cast("long").alias("n_chars_calc"),
        F.size(F.split("text", " ", -1)).cast("long").alias("n_tokens"),
        F.expr(
            f"CAST(size(filter(split(text, ' ', -1), x -> x IN ({_STOP_IN})))"
            " AS BIGINT)"
        ).alias("n_stop"),
    )
    scored = (
        m.withColumn(
            "length_wordchars", F.col("n_chars_calc") - (F.col("n_tokens") - 1)
        )
        .withColumn(
            "avg_word_len",
            F.col("length_wordchars").cast("double") / F.col("n_tokens"),
        )
        .withColumn(
            "stop_ratio", F.col("n_stop").cast("double") / F.col("n_tokens")
        )
        .withColumn("quality", F.expr(_QUALITY_EXPR))
    )
    gated = scored.where(
        (F.col("lang") == "en")
        & F.col("n_tokens").between(_CLEAN_MIN_TOKENS, _CLEAN_MAX_TOKENS)
        & (F.col("quality") >= _CLEAN_MIN_QUALITY)
    )
    w = Window.partitionBy(fold_lower(F.trim(F.col("text")))).orderBy("doc_id")
    return (
        gated.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)  # row 1 by doc_id == min doc_id
        .select("doc_id", "source", "n_tokens", "quality")
    )


# -- q_contamination: benchmark n-gram decontamination check --------------

#: contamination n-gram width and the deterministic "benchmark" subset
#: (every 50th doc stands in for an eval suite; 4-grams are the widest
#: that stay non-vacuous on this synthetic corpus — 7/19/1219 flagged
#: docs at sf0.001/0.01/0.1).
_CONTAM_K = 4
_CONTAM_MOD = 50


def _kgrams(col: str, k: int) -> F.Column:
    """Linear-time k-word shingles: k zipped shifted slices of the
    token array (the same trick as dedup._shingles — indexing inside a
    HOF lambda re-evaluates the captured split per element, going
    O(tokens²) per document).  Docs shorter than k tokens yield an
    empty array."""
    toks = f"split({col}, ' ', -1)"
    width = f"size({toks}) - {k - 1}"
    expr = f"slice({toks}, 1, {width})"
    for j in range(2, k + 1):
        expr = (
            f"zip_with({expr}, slice({toks}, {j}, {width}),"
            " (a, b) -> concat(a, ' ', b))"
        )
    return F.expr(
        f"CASE WHEN size({toks}) >= {k} THEN {expr}"
        f" ELSE slice({toks}, 1, 0) END"
    )


@query(
    "q_contamination",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, greatest(len(t) - {_CONTAM_K - 1}, 0)),
               i -> array_to_string(list_slice(t, i, i + {_CONTAM_K - 1}), ' ')))
               AS s
      FROM toks
    ),
    shd AS (SELECT DISTINCT doc_id, s FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shd GROUP BY doc_id),
    bench AS (
      SELECT DISTINCT s FROM shd WHERE doc_id % {_CONTAM_MOD} = 0
    ),
    hits AS (
      SELECT shd.doc_id, count(*) AS n_hits
      FROM shd JOIN bench USING (s)
      WHERE shd.doc_id % {_CONTAM_MOD} <> 0
      GROUP BY shd.doc_id
    )
    SELECT h.doc_id,
           CAST(z.n_shingles AS BIGINT) AS n_shingles,
           CAST(h.n_hits AS BIGINT) AS n_hits,
           round(CAST(h.n_hits AS DOUBLE) / z.n_shingles, 6)
             AS contamination
    FROM hits h JOIN sizes z ON z.doc_id = h.doc_id
    """,
)
def q_contamination(spark, sf_dir):
    """Benchmark decontamination: flag training documents sharing any
    {_CONTAM_K}-gram with the benchmark subset — the check every
    pretraining pipeline runs so eval data doesn't leak into training.

    Scale shape: the benchmark is a fixed-size eval suite, so its
    distinct-shingle set is BROADCAST (no shuffle of the corpus to
    meet it); per-doc shingling is linear per row, and the only
    exchange is the per-doc hit count — proportional to matched
    shingles, not corpus size.  Contaminated docs then feed q_except-
    style removal or q_corpus_clean's gates."""
    docs = load_table(spark, sf_dir, "documents")
    # Shape note (measured): carrying n_shingles through the
    # explode (the ngram_jaccard trick) removes the sizes scan + join
    # below but interleaves the kgram HOF chain with Generate in a way
    # that benched consistently ~1.6× SLOWER at sf0.1 (interleaved
    # min-of-4 A/B), so the 3-scan form stays.  The sizes join is
    # cheap at any scale: its shuffle carries (doc_id, count) — 16
    # bytes per document, not shingles.
    shd = docs.select(
        "doc_id",
        F.explode(F.array_distinct(_kgrams("text", _CONTAM_K))).alias("s"),
    )
    sizes = docs.select(
        "doc_id",
        F.size(F.array_distinct(_kgrams("text", _CONTAM_K)))
        .cast("long")
        .alias("n_shingles"),
    )
    bench = F.broadcast(
        shd.where(F.col("doc_id") % _CONTAM_MOD == 0).select("s").distinct()
    )
    hits = (
        shd.where(F.col("doc_id") % _CONTAM_MOD != 0)
        .join(bench, "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    return hits.join(sizes, "doc_id").select(
        "doc_id",
        "n_shingles",
        "n_hits",
        F.round(
            F.col("n_hits").cast("double") / F.col("n_shingles"), 6
        ).alias("contamination"),
    )


# -- q_pack_sequences: token-budget packing for training batches ----------

#: tokens per training sequence and shard fan-out.  Packing is
#: per-shard so it parallelizes: a global greedy pack would serialize
#: the corpus through one cumulative sum (single-partition window),
#: which is exactly what cannot run at 100 TB.  Sharding by a doc_id
#: hash keeps packs deterministic and the per-shard stream ordered.
_PACK_BUDGET = 512
_PACK_SHARDS = 8


@query(
    "q_pack_sequences",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
             CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents WHERE lang = 'en'
    ),
    c AS (
      SELECT *,
             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM d
    )
    SELECT shard,
           CAST((cum - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens
    FROM c
    GROUP BY shard, pack_id
    """,
)
def q_pack_sequences(spark, sf_dir):
    """Token-budget sequence packing: assign gated documents to
    ~{_PACK_BUDGET}-token training packs — the step between corpus
    cleaning and tokenization that decides batch shapes.

    Greedy start-offset packing per SHARD: within each shard documents
    stream in doc_id order and a running token total opens a new pack
    each time it crosses the budget (pack = cumulative-start ÷
    budget).  The window partitions by shard, so the only exchange is
    the shard hash and every shard packs independently — the
    embarrassingly-parallel layout real pipelines use (one packer per
    worker), versus a global cumulative sum which would funnel 100 TB
    through a single-partition window."""
    from pyspark.sql import Window

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("lang") == "en")
        .select(
            "doc_id",
            (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
            F.size(F.split("text", " ", -1)).cast("long").alias("n_tokens"),
        )
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.withColumn("cum", F.sum("n_tokens").over(w))
    return (
        c.groupBy(
            "shard",
            F.floor((F.col("cum") - F.col("n_tokens")) / _PACK_BUDGET)
            .cast("long")
            .alias("pack_id"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )


# -- q_unigram_lm: corpus-LM quality score (CCNet-style) ------------------

# Per-token information content in integer micro-nats.  Snapping
# ln(total/cnt) to a 1e-6 grid BEFORE summing makes every downstream
# sum a BIGINT — partition-order-independent and bit-identical across
# engines (the same trick as q_corr_stats / q_percentiles); the grid
# error (≤5e-7 nats/token) is far below any filtering threshold.
_COST_U = (
    "CAST(round(ln(CAST(total AS DOUBLE) / CAST(cnt AS DOUBLE))"
    " * 1000000, 0) AS BIGINT)"
)


#: broadcast the (token, cost) table only below this row count
#: (~20 M rows ≈ hundreds of MB serialized — inside executor broadcast
#: budgets; a web-scale vocab blows past it and must shuffle instead).
_VOCAB_BROADCAST_MAX = 20_000_000


def unigram_lm(docs, text_col: str = "text"):
    """Per-document mean self-information under the corpus's own
    unigram LM (the CCNet/Wikipedia-LM quality-filter shape: train a
    cheap LM on the corpus, flag documents whose tokens are
    collectively too surprising — boilerplate scores low, gibberish
    scores high).

    Two corpus scans, which is the canonical shape: pass 1 aggregates
    token counts (shuffle ∝ vocabulary, map-side combined) and
    MATERIALIZES them (``local_checkpoint`` — CCNet literally writes
    the trained LM out; without the cut, Spark re-derives the vocab
    subtree once for the cost table and once for the grand total = a
    third full corpus scan).  Pass 2 re-tokenizes and scores.  The
    vocabulary cost table re-joins by BROADCAST **only while it
    provably fits**: a whitespace-token vocab over web-scale text
    grows roughly with the corpus (URLs, hashes, typos), so the hint
    is applied iff the materialized vocab has
    ≤ ``_VOCAB_BROADCAST_MAX`` rows — counting the checkpoint is a
    cheap scan of already-materialized blocks, not a third corpus
    pass.  Beyond the cap the hint is dropped and AQE picks the join
    (shuffle-hash on token), keeping semantics exact; the CCNet
    min-count vocab floor is the lossy alternative and deliberately
    NOT applied (it would change every rare-token score).  Either way,
    at 100 TB the corpus text is never shuffled; only (doc_id, cost)
    partial sums move, collapsing to ~1 row per document.  The grand
    total is computed once on the checkpointed vocab blocks (same
    driver aggregate that feeds the broadcast gate) and folded into
    the cost expression as a literal — no 1-row cross join in the
    executed plan.  Driver-mandated surface (SURVEY §2.4); no
    Main.scala counterpart."""
    toks = docs.select(
        "doc_id", F.explode(F.split(text_col, " ", -1)).alias("token")
    ).where(F.col("token") != "")
    vocab = local_checkpoint(
        toks.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    # ONE driver aggregate over the already-materialized checkpoint
    # blocks yields both gate inputs, so no separate count() job:
    # n_vocab drives the broadcast gate, total becomes a literal in
    # the cost expression — so the executed plan has no 1-row
    # cross-join subtree.  A one-partition vocab reads in place
    # (no single-partition shuffle).
    n_vocab, total = vocab.agg(
        F.count(F.lit(1)), F.sum("cnt").cast("long")
    ).first()
    # empty corpus → sum() is None; the cost table has zero rows so
    # the folded value is never evaluated, but splicing the Python
    # None repr into SQL would fail analysis — fold a harmless 1
    total = int(total) if total is not None else 1
    cost = vocab.select(
        "token",
        F.expr(_COST_U.replace("total", str(total))).alias("cost_u"),
    )
    if n_vocab <= _VOCAB_BROADCAST_MAX:
        cost = F.broadcast(cost)
    return (
        toks.join(cost, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(
                F.sum("cost_u").cast("double")
                / F.count(F.lit(1))
                / F.lit(1000000),
                6,
            ).alias("lm_score"),
        )
    )


@query(
    "q_unigram_lm",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ), toks2 AS (SELECT * FROM toks WHERE token <> ''),
    vocab AS (
      SELECT token, CAST(count(*) AS BIGINT) AS cnt
      FROM toks2 GROUP BY token
    ), tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
    cost AS (
      SELECT token, {_COST_U} AS cost_u FROM vocab, tot
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(CAST(sum(c.cost_u) AS DOUBLE) / count(*) / 1000000, 6)
               AS lm_score
    FROM toks2 t JOIN cost c USING (token)
    GROUP BY t.doc_id
    """,
)
def q_unigram_lm(spark, sf_dir):
    """See :func:`unigram_lm` — scores every document against the
    corpus unigram LM.  The cost formula (`_COST_U`) is the identical
    SQL text on both engines, so the only engine-specific code is the
    dataflow around it."""
    return unigram_lm(load_table(spark, sf_dir, "documents"))


# -- q_mix_weights: temperature-scaled source sampling weights ------------

#: multinomial sampling temperature: weight_s ∝ share_s^alpha.
#: alpha < 1 upsamples small sources (the XLM-R / multilingual-LM
#: recipe); alpha = 1 is proportional, alpha = 0 uniform.
_MIX_ALPHA = 0.7

#: shared cross-engine expression text: powered share snapped to an
#: integer 1e-9 grid BEFORE the normalizing sum, so the sum is BIGINT —
#: partition-order-independent (power() itself is libm-adjacent; the
#: snap absorbs any last-ulp engine difference far below round(6)).
#: ``{a}`` is the alpha placeholder (format-substituted, never
#: string-replaced — a str.replace of the default could corrupt an
#: unrelated literal if the default ever becomes a substring of one).
_POW_U_T = (
    "CAST(round(power(CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE),"
    " {a}) * 1000000000, 0) AS BIGINT)"
)
_POW_U = _POW_U_T.format(a=_MIX_ALPHA)


def mix_weights(docs, alpha: float = _MIX_ALPHA):
    """Per-source sampling weights for training-mix construction:
    ``weight_s ∝ (token_share_s)^alpha``, normalized to 1 — the
    temperature-scaled multinomial used to upsample low-resource
    sources when drawing a training mixture.

    One groupBy collapses the corpus to ≤|sources| rows; every window
    below runs on that tiny aggregate (never on documents).  At 100 TB
    the shuffle carries one row per source."""
    from pyspark.sql import Window

    pow_u = _POW_U_T.format(a=repr(float(alpha)))
    w = Window.partitionBy()
    per = (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size(F.split("text", " ", -1)))
            .cast("long")
            .alias("n_tokens"),
        )
        .withColumn("tot", F.sum("n_tokens").over(w))
        .withColumn("p_u", F.expr(pow_u))
        .withColumn("sp", F.sum("p_u").over(w))
    )
    return per.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double") / F.col("tot").cast("double"), 6
        ).alias("token_share"),
        F.round(
            F.col("p_u").cast("double") / F.col("sp").cast("double"), 6
        ).alias("mix_weight"),
    )


@query(
    "q_mix_weights",
    oracle=f"""
    WITH per AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    t AS (SELECT *, CAST(sum(n_tokens) OVER () AS BIGINT) AS tot FROM per),
    p AS (SELECT *, {_POW_U} AS p_u FROM t)
    SELECT source, n_docs, n_tokens,
           round(CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE), 6)
               AS token_share,
           round(CAST(p_u AS DOUBLE)
                 / CAST(sum(p_u) OVER () AS DOUBLE), 6) AS mix_weight
    FROM p
    """,
)
def q_mix_weights(spark, sf_dir):
    """See :func:`mix_weights` (alpha = `_MIX_ALPHA`).  Driver-mandated
    surface (SURVEY §2.4); no Main.scala counterpart."""
    return mix_weights(load_table(spark, sf_dir, "documents"))


# -- q_train_val_split: leakage-free content-hash split -------------------

#: percent buckets: [0,90) train, [90,95) val, [95,100) test
_SPLIT_TRAIN = 90
_SPLIT_VAL = 95


def assign_splits(docs, text_col: str = "text"):
    """Deterministic train/val/test assignment keyed by a CONTENT hash
    (md5-60bit of the normalized text, not doc_id): exact duplicates —
    and re-ingested copies with different ids — always land in the
    same split, so a duplicated document can never leak from train
    into eval.  Pure per-row projection: zero shuffles, scales with
    scan bandwidth; the same expression doubles as a partition column
    for split-partitioned output.

    At production scale swap the md5 template for xxhash64 exactly as
    in the dedup family (`operators/dedup.py:_SPARK_H60` note); md5
    keeps the DuckDB oracle exact here."""
    from ema_bigdata_spark.operators.dedup import _SPARK_H60

    h = _SPARK_H60.format(x=f"lower(replace(replace(trim({text_col}), 'İ', 'i'), 'Σ', 'σ'))")
    bucket = f"pmod({h}, 100)"
    return docs.select(
        "doc_id",
        F.expr(bucket).cast("long").alias("bucket"),
        F.expr(
            f"CASE WHEN {bucket} < {_SPLIT_TRAIN} THEN 'train'"
            f" WHEN {bucket} < {_SPLIT_VAL} THEN 'val'"
            " ELSE 'test' END"
        ).alias("split"),
    )


def _train_val_split_oracle() -> str:
    from ema_bigdata_spark.operators.dedup import _DUCK_H60

    h = _DUCK_H60.format(x="lower(replace(replace(trim(text), 'İ', 'i'), 'Σ', 'σ'))")
    bucket = f"({h}) % 100"  # h is a positive 60-bit value: % == pmod
    return f"""
    SELECT doc_id,
           CAST({bucket} AS BIGINT) AS bucket,
           CASE WHEN {bucket} < {_SPLIT_TRAIN} THEN 'train'
                WHEN {bucket} < {_SPLIT_VAL} THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """


@query("q_train_val_split", oracle=_train_val_split_oracle())
def q_train_val_split(spark, sf_dir):
    """See :func:`assign_splits`.  Driver-mandated surface (SURVEY
    §2.4); no Main.scala counterpart."""
    return assign_splits(load_table(spark, sf_dir, "documents"))


# -- q_pii_scrub: PII detection + redaction -------------------------------

#: PII patterns shared verbatim by both engines (subset of regex syntax
#: where Java regex and RE2 agree: char classes, bounded repeats,
#: alternation-free).  Deliberately simple/auditable — production
#: scrubbers layer many more patterns through the same plan shape.
_PII_EMAIL = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
_PII_IP = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
#: replacement order matters (each pass sees the previous pass's
#: output); fixed email → phone → ip on both engines
_PII_PATTERNS = (_PII_EMAIL, _PII_PHONE, _PII_IP)


def pii_scrub(docs, text_col: str = "text"):
    """Redact emails / phone numbers / IPv4s to ``[PII]`` and count
    hits per document — the compliance pass every training-data
    pipeline runs before anything else sees the text.

    Pure per-row projection: zero shuffles, composes onto any scan for
    free at 100 TB (plan-tested), and the regexes stay in the dialect
    intersection of Java regex and RE2 so the oracle replays them
    bit-for-bit."""
    scrubbed = F.col(text_col)
    for pat in _PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, F.lit(pat), F.lit("[PII]"))
    return docs.select(
        "doc_id",
        F.regexp_count(text_col, F.lit(_PII_EMAIL))
        .cast("long")
        .alias("n_emails"),
        F.regexp_count(text_col, F.lit(_PII_PHONE))
        .cast("long")
        .alias("n_phones"),
        F.regexp_count(text_col, F.lit(_PII_IP)).cast("long").alias("n_ips"),
        F.length(scrubbed).cast("long").alias("clean_len"),
    )


@query(
    "q_pii_scrub",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT)
             AS n_phones,
           CAST(len(regexp_extract_all(text, '{_PII_IP}')) AS BIGINT)
             AS n_ips,
           CAST(length(
             regexp_replace(regexp_replace(regexp_replace(text,
               '{_PII_EMAIL}', '[PII]', 'g'),
               '{_PII_PHONE}', '[PII]', 'g'),
               '{_PII_IP}', '[PII]', 'g')) AS BIGINT) AS clean_len
    FROM documents
    """,
)
def q_pii_scrub(spark, sf_dir):
    """See :func:`pii_scrub`.  Part of the LLM-pipeline surface
    (SURVEY §2.4); no Main.scala counterpart."""
    return pii_scrub(load_table(spark, sf_dir, "documents"))


# -- q_topk_ngrams: corpus-wide frequent n-grams --------------------------

# shared shingle shapes with the dedup family: the SAME 3-gram
# definition must drive boilerplate detection and dup-span statistics,
# or the two reports disagree on what an "n-gram" is
from ema_bigdata_spark.operators.dedup import _DUCK_SHINGLES  # noqa: E402

_TOPK_NGRAMS = 20


@query(
    "q_topk_ngrams",
    oracle=f"""
    WITH grid AS (
      SELECT doc_id, sh, count(*) AS c_in_doc FROM (
        {_DUCK_SHINGLES}
      ) WHERE sh IS NOT NULL GROUP BY doc_id, sh
    )
    SELECT sh AS ngram,
           CAST(sum(c_in_doc) AS BIGINT) AS n_occurrences,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM grid GROUP BY sh
    ORDER BY n_occurrences DESC, ngram
    LIMIT {_TOPK_NGRAMS}
    """,
)
def q_topk_ngrams(spark, sf_dir):
    """Corpus-wide top-20 3-grams by occurrence count with document
    frequency — the boilerplate detector (headers, licence blurbs,
    navigation strings surface here first; the usual next step feeds
    the top list to a filter or to dup-span weighting).

    Scale shape: shingle explode → (doc, ngram) pre-aggregate (map-side
    combined, collapses within-doc repeats BEFORE the global shuffle,
    and gives exact doc-frequency without a count-distinct Expand) →
    ngram aggregate → TakeOrdered top-k (per-partition k + merge,
    never a global sort).  Both shuffles carry (hash-sized key, two
    longs); document text never moves."""
    from ema_bigdata_spark.operators.dedup import _shingles

    docs = load_table(spark, sf_dir, "documents")
    # NULL-text docs yield a [NULL] shingle fallback; drop it on both
    # engines — otherwise a NULL ngram ties at the top-k boundary and
    # the engines' opposite NULL orderings pick different rows
    grid = (
        docs.select(
            "doc_id", F.explode(_shingles()).alias("ngram")
        )
        .where(F.col("ngram").isNotNull())
        .groupBy("doc_id", "ngram")
        .agg(F.count(F.lit(1)).alias("c_in_doc"))
    )
    return (
        grid.groupBy("ngram")
        .agg(
            F.sum("c_in_doc").cast("long").alias("n_occurrences"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("ngram"))
        .limit(_TOPK_NGRAMS)
    )


# -- q_rag_chunk: overlapping retrieval chunks ----------------------------

#: chunk geometry: 120-char windows every 90 chars (25% overlap) — the
#: RAG-indexing default shape; production swaps token offsets in for
#: char offsets through the identical plan.
_CHUNK_SIZE = 120
_CHUNK_STRIDE = 90


@query(
    "q_rag_chunk",
    oracle=f"""
    WITH starts AS (
      SELECT doc_id, text,
             unnest(range(0, greatest(length(text), 1),
                          {_CHUNK_STRIDE})) AS chunk_start
      FROM documents
    )
    SELECT doc_id,
           CAST(chunk_start // {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(chunk_start AS BIGINT) AS chunk_start,
           substr(text, CAST(chunk_start + 1 AS INTEGER),
                  {_CHUNK_SIZE}) AS chunk,
           CAST(length(substr(text, CAST(chunk_start + 1 AS INTEGER),
                              {_CHUNK_SIZE})) AS BIGINT) AS chunk_len
    FROM starts
    """,
)
def q_rag_chunk(spark, sf_dir):
    """Document chunking for retrieval indexes: fixed-size overlapping
    character windows (`_CHUNK_SIZE`/`_CHUNK_STRIDE`), emitted with
    stable (doc_id, chunk_idx, chunk_start) addressing so downstream
    embedding/indexing stages can cite spans back to sources.

    Pure per-row ``sequence`` + ``posexplode`` + ``substring`` — zero
    shuffles, whole-stage-codegen'd end to end, output size a fixed
    ~1.33× the input text, so at 100 TB this composes onto the scan
    at I/O bandwidth.  Every doc yields ≥1 chunk (empty docs yield one
    empty chunk — losing documents at the chunker is the classic
    silent-corpus-shrink bug).  Driver-mandated surface (SURVEY §2.4);
    no Main.scala counterpart."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "text",
        F.posexplode(
            F.sequence(
                F.lit(0),
                F.greatest(F.length("text") - 1, F.lit(0)),
                F.lit(_CHUNK_STRIDE),
            )
        ).alias("chunk_idx", "chunk_start"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("chunk_start").cast("long").alias("chunk_start"),
        F.expr(f"substring(text, chunk_start + 1, {_CHUNK_SIZE})").alias(
            "chunk"
        ),
        F.length(
            F.expr(f"substring(text, chunk_start + 1, {_CHUNK_SIZE})")
        ).cast("long").alias("chunk_len"),
    )


# -- q_bm25: ranked retrieval scoring -------------------------------------

#: fixed demo query; production parameterizes the term list through
#: the same plan (tiny broadcast side).
_BM25_TERMS = ("join", "hash", "scan")
_BM25_K1 = 1.2
_BM25_B = 0.75

#: per-(doc, term) BM25 contribution in integer micro-units.  All
#: inputs (tf, df, dl, N, total) are exact integers on both engines,
#: the arithmetic is the same expression text, and the 1e-6 snap
#: BEFORE the per-doc sum makes the sum a BIGINT — partition-order
#: independent and immune to last-ulp libm divergence (same trick as
#: `_COST_U`).  {N}/{T} substitute as integer literals on the Spark
#: side (corpus scalars folded driver-side, no 1-row cross join) and
#: as 1-row-CTE columns in the oracle.
_BM25_TERM_U = (
    "CAST(round("
    "ln((({N} - df + 0.5) / (df + 0.5)) + 1)"
    f" * (CAST(tf AS DOUBLE) * {_BM25_K1 + 1})"
    f" / (CAST(tf AS DOUBLE) + {_BM25_K1} * ({1 - _BM25_B}"
    f" + {_BM25_B} * CAST(dl AS DOUBLE) * {{N}} / {{T}}))"
    " * 1000000, 0) AS BIGINT)"
)


def _bm25_oracle() -> str:
    terms = ", ".join(f"('{t}')" for t in _BM25_TERMS)
    term_u = _BM25_TERM_U.format(N="n_docs", T="total")
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ), toks2 AS (SELECT * FROM toks WHERE token <> ''),
    dl AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
      FROM toks2 GROUP BY doc_id
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(dl) AS BIGINT) AS total FROM dl),
    terms(term) AS (VALUES {terms}),
    tf AS (
      SELECT doc_id, token AS term, CAST(count(*) AS BIGINT) AS tf
      FROM toks2 JOIN terms ON token = term
      GROUP BY doc_id, token
    ),
    df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
           FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id, {term_u} AS term_u
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id), n
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_hit_terms,
           round(CAST(sum(term_u) AS DOUBLE) / 1000000, 6) AS bm25
    FROM scored GROUP BY doc_id
    """


@query("q_bm25", oracle=_bm25_oracle())
def q_bm25(spark, sf_dir):
    """BM25 ranked-retrieval scoring (k1=1.2, b=0.75) of every
    document against a fixed term set — the retrieval half of a RAG
    pipeline, and the classic "sparse" complement to the embedding
    similarity family.

    Plan: one tokenize pass feeds BOTH the per-doc length aggregate
    and the term-filtered tf aggregate; the df table (≤|terms| rows)
    broadcasts; corpus scalars (N, total tokens) fold into the scoring
    expression as literals driver-side, so the executed plan has no
    1-row cross join.  At 100 TB the shuffles carry (doc_id, counts)
    pairs — never text — and the term filter prunes the tf shuffle to
    matching tokens only.  Scoring is exact-integer inputs → shared
    expression text → 1e-6 grid snap (`_BM25_TERM_U`), so the per-doc
    sum is a BIGINT and bit-stable under any partitioning.
    Driver-mandated surface (SURVEY §2.4); no Main.scala
    counterpart.

    Single-partition scan, deliberately NOT spread() — A/B min-of-3
    at sf0.1: plain 0.95 s vs spread 1.84 s
    (the explode feeds partial aggregation; see q_tfidf's note)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ", -1)).alias("token")
    ).where(F.col("token") != "")
    dl = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("dl")
    )
    n_docs, total = dl.agg(
        F.count(F.lit(1)).cast("long"), F.sum("dl").cast("long")
    ).first()
    if not n_docs:
        # designed loud refusal: BM25's idf needs N > 0, and with
        # zero tokenizable documents the folded scoring literals
        # would be None — refuse friendly instead
        raise ValueError(
            "q_bm25: empty corpus — no tokenizable documents;"
            " BM25 scores are undefined without a collection"
        )
    tf = (
        toks.where(F.col("token").isin(*_BM25_TERMS))
        .groupBy("doc_id", F.col("token").alias("term"))
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .withColumn(
            "term_u",
            F.expr(_BM25_TERM_U.format(N=str(n_docs), T=str(total))),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
        F.round(F.sum("term_u").cast("double") / F.lit(1000000), 6).alias(
            "bm25"
        ),
    )


# -- q_char_entropy: character-entropy quality signal ---------------------

#: per-(doc, char) self-information term in integer micro-nats,
#: snapped to the 1e-6 grid BEFORE the per-doc sum (BIGINT sum →
#: partition-order independent; same trick as `_COST_U`).
_ENT_TERM_U = (
    "CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000, 0) AS BIGINT) * cnt"
)

#: H = ln L − (Σ n_c·ln n_c)/L — the identical final expression text
#: on both engines over identical integers.
#: trailing `+ CAST(0 AS DOUBLE)` = the signed-zero guard: a
#: single-symbol doc's entropy is a tiny negative residual of the
#: 1e-6 snap, which DuckDB rounds to -0.0 and Spark to +0.0.
_ENT_FINAL = (
    "(round(ln(CAST(n_chars AS DOUBLE))"
    " - CAST(sum_u AS DOUBLE) / 1000000 / CAST(n_chars AS DOUBLE), 6)"
    " + CAST(0 AS DOUBLE))"
)


@query(
    "q_char_entropy",
    oracle=f"""
    WITH idx AS (
      SELECT doc_id, length(text) AS n_chars,
             unnest(generate_series(1, length(text))) AS i, text
      FROM documents
    ),
    ch AS (
      SELECT doc_id, n_chars, substr(text, CAST(i AS INTEGER), 1) AS ch
      FROM idx
    ),
    cnts AS (
      SELECT doc_id, n_chars, ch, CAST(count(*) AS BIGINT) AS cnt
      FROM ch GROUP BY doc_id, n_chars, ch
    ),
    sums AS (
      SELECT doc_id, n_chars,
             CAST(sum({_ENT_TERM_U}) AS BIGINT) AS sum_u
      FROM cnts GROUP BY doc_id, n_chars
    )
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           {_ENT_FINAL} AS entropy
    FROM sums
    """,
)
def q_char_entropy(spark, sf_dir):
    """Character-level Shannon entropy per document — the cheap
    gibberish/boilerplate detector (natural text sits ~2.9-4.2 nats;
    base64 blobs and repeated-char spam land far outside the band).

    Shape: per-char explode → two aggregations, both keyed by doc_id,
    so AQE coalesces them into one shuffle lineage; the exploded rows
    carry (doc_id, 1-char string) only — at 100 TB the shuffle volume
    is bounded by |doc| × ~alphabet compression after the map-side
    combine on (doc_id, ch).  The math is exact-integer counts →
    shared expression text → 1e-6 grid snap (`_ENT_TERM_U`), so per-
    doc sums are BIGINT and bit-stable.  Zero-length docs drop via an
    explicit filter, matching the oracle's empty generate_series —
    Spark's ``sequence(1, 0)`` is NOT empty (start > stop flips the
    default step to −1 and yields [1, 0]), so without the filter an
    empty doc would emit a spurious NULL-entropy row the oracle
    doesn't have.  Driver-mandated surface (SURVEY §2.4); no
    Main.scala counterpart."""
    # spread() by measurement: the per-char explode + map-side
    # combine is the heaviest stage, on ONE core at sf0.1 without it
    # (single-file scan → one partition); widening the scan is the
    # same measured win as q_mm_png's. No-op at real scale.
    docs = spread(load_table(spark, sf_dir, "documents")).where(
        F.length("text") > 0
    )
    ch = docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        "text",
        F.explode(F.sequence(F.lit(1), F.length("text"))).alias("i"),
    ).select(
        "doc_id",
        "n_chars",
        F.expr("substring(text, i, 1)").alias("ch"),
    )
    cnts = ch.groupBy("doc_id", "n_chars", "ch").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    sums = cnts.groupBy("doc_id", "n_chars").agg(
        F.sum(F.expr(_ENT_TERM_U)).cast("long").alias("sum_u")
    )
    return sums.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.expr(_ENT_FINAL).alias("entropy"),
    )


# -- q_filter_report: rule-based quality gate audit -----------------------

#: Gopher-style repetition/quality rules, ALL expressed as integer
#: comparisons (ratios cross-multiplied) so the pass/fail bits are
#: exact on both engines — no float thresholds anywhere.
#:   short_doc      length(text) < 150
#:   few_tokens     n_tok < 40
#:   word_len_out   mean token length outside [3, 8]
#:   repetitive     max single-token share > 20%
#:   low_stopword   stopword share < 2%
_FILTER_RULES = (
    ("short_doc", "n_chars < 150"),
    ("few_tokens", "n_tok < 40"),
    ("word_len_out", "sum_len < 3 * n_tok OR sum_len > 8 * n_tok"),
    ("repetitive", "max_tf * 5 > n_tok"),
    ("low_stopword", "n_stop * 50 < n_tok"),
)


def _filter_report_oracle() -> str:
    stop = ", ".join(f"'{w}'" for w in STOPWORDS)
    flags = ",\n             ".join(
        f"({cond}) AS f_{name}" for name, cond in _FILTER_RULES
    )
    none = " OR ".join(f"f_{name}" for name, _ in _FILTER_RULES)
    counts = ",\n             ".join(
        f"CAST(count(*) FILTER (f_{name}) AS BIGINT) AS c_{name}"
        for name, _ in _FILTER_RULES
    )
    rows = "\n    UNION ALL ".join(
        f"SELECT '{name}' AS rule, c_{name} AS n_docs FROM a"
        for name, _ in _FILTER_RULES
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ), toks2 AS (SELECT * FROM toks WHERE token <> ''),
    ptf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
      FROM toks2 GROUP BY doc_id, token
    ),
    stats AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_tok,
             CAST(sum(length(token) * c) AS BIGINT) AS sum_len,
             CAST(max(c) AS BIGINT) AS max_tf,
             CAST(coalesce(sum(CASE WHEN token IN ({stop})
                                    THEN c END), 0) AS BIGINT) AS n_stop
      FROM ptf GROUP BY doc_id
    ),
    j AS (
      SELECT d.doc_id, length(d.text) AS n_chars,
             coalesce(s.n_tok, 0) AS n_tok,
             coalesce(s.sum_len, 0) AS sum_len,
             coalesce(s.max_tf, 0) AS max_tf,
             coalesce(s.n_stop, 0) AS n_stop
      FROM documents d LEFT JOIN stats s USING (doc_id)
    ),
    f AS (
      SELECT {flags}
      FROM j
    ),
    a AS (
      SELECT {counts},
             CAST(count(*) FILTER (NOT ({none})) AS BIGINT) AS c_pass
      FROM f
    )
    {rows}
    UNION ALL SELECT 'pass_all' AS rule, c_pass AS n_docs FROM a
    """


@query("q_filter_report", oracle=_filter_report_oracle())
def q_filter_report(spark, sf_dir):
    """Quality-gate audit: apply the Gopher-style rule battery
    (`_FILTER_RULES`) to every document and report HOW MANY documents
    each rule rejects, plus the pass-all count — the per-rule
    accounting every corpus-cleaning run publishes before anyone
    trusts the filtered output (a rule that suddenly rejects 40% of a
    crawl is a pipeline bug, not a data property).

    Shape: one tokenize pass → per-(doc, token) counts → per-doc
    stats (all map-side-combined aggregations keyed by doc_id), LEFT
    join back to documents so token-free docs still get audited, one
    conditional-aggregate row, then a 6-row ``stack`` unpivot.  At
    100 TB the only shuffles carry (doc_id, small ints) and the
    result is 6 rows.  Every rule is an integer comparison
    (cross-multiplied ratios — `_FILTER_RULES`), so pass/fail bits
    are exact cross-engine.  Driver-mandated surface (SURVEY §2.4);
    no Main.scala counterpart."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ", -1)).alias("token")
    ).where(F.col("token") != "")
    ptf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    stats = ptf.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tok"),
        F.sum(F.length("token") * F.col("c")).cast("long").alias("sum_len"),
        F.max("c").cast("long").alias("max_tf"),
        F.coalesce(
            F.sum(F.when(F.col("token").isin(*STOPWORDS), F.col("c"))),
            F.lit(0),
        ).cast("long").alias("n_stop"),
    )
    j = (
        docs.select("doc_id", F.length("text").alias("n_chars"))
        .join(stats, "doc_id", "left")
        .select(
            "n_chars",
            *(
                F.coalesce(F.col(c), F.lit(0)).alias(c)
                for c in ("n_tok", "sum_len", "max_tf", "n_stop")
            ),
        )
    )
    flag_cols = [
        F.expr(cond).alias(f"f_{name}") for name, cond in _FILTER_RULES
    ]
    none = " OR ".join(f"f_{name}" for name, _ in _FILTER_RULES)
    a = j.select(*flag_cols).agg(
        *(
            F.sum(F.when(F.col(f"f_{name}"), 1).otherwise(0))
            .cast("long")
            .alias(f"c_{name}")
            for name, _ in _FILTER_RULES
        ),
        F.sum(F.when(F.expr(f"NOT ({none})"), 1).otherwise(0))
        .cast("long")
        .alias("c_pass"),
    )
    stack_args = ", ".join(
        f"'{name}', c_{name}" for name, _ in _FILTER_RULES
    )
    return a.selectExpr(
        f"stack({len(_FILTER_RULES) + 1}, {stack_args},"
        " 'pass_all', c_pass) AS (rule, n_docs)"
    )


# -- q_source_interleave: deterministic training order --------------------


def _source_interleave_oracle() -> str:
    from ema_bigdata_spark.operators.dedup import _DUCK_H60

    # coalesce(-1): md5(NULL text) is NULL, and the engines disagree
    # on window NULL ordering (Spark NULLS FIRST, DuckDB NULLS LAST)
    # — pin NULL-text docs first with a concrete key
    h = f"coalesce({_DUCK_H60.format(x='text')}, -1)"
    return f"""
    WITH h AS (
      SELECT doc_id, source, {h} AS h FROM documents
      WHERE doc_id IS NOT NULL
    ),
    r AS (
      SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source
                                     ORDER BY h, doc_id) - 1 AS BIGINT)
                 AS round
      FROM h
    ),
    s AS (
      SELECT source,
             CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT)
                 AS slot
      FROM (SELECT DISTINCT source FROM documents
            WHERE source IS NOT NULL)
    )
    SELECT doc_id, source, round, slot FROM r JOIN s USING (source)
    """


@query("q_source_interleave", oracle=_source_interleave_oracle())
def q_source_interleave(spark, sf_dir):
    """Deterministic interleaved training order: shuffle each source
    by content hash (reproducible "random" order — md5, not a seeded
    RNG, so any engine derives the identical permutation), then deal
    sources round-robin.  Consumers stream rows ordered by
    ``(round, slot)`` and get an even source mix at every prefix of
    training — the property curriculum-sensitive runs need — without
    any global shuffle of the corpus.

    Scale note: the per-source ``row_number`` windows partition by
    source (parallel across sources; within a hot source Spark sorts
    that partition's rows only), and ``slot`` comes from a ~|sources|-
    row dimension joined back by broadcast.  Deliberately NOT a
    global ``row_number() OVER (ORDER BY …)`` — a single-partition
    window over the whole corpus is the classic driver-shaped
    bottleneck; (round, slot) carries the same total order as
    composite key.  Driver-mandated surface (SURVEY §2.4); no
    Main.scala counterpart."""
    from ema_bigdata_spark.operators.dedup import _SPARK_H60

    docs = load_table(spark, sf_dir, "documents")
    # doc_id IS NOT NULL: doc_id is the per-source tiebreak —
    # identical texts hash equal, and a NULL id in the tie group
    # lands on opposite ends between engines, shifting every later
    # round number.  No id, no position.
    h = docs.where(F.col("doc_id").isNotNull()).select(
        "doc_id",
        "source",
        F.expr(f"coalesce({_SPARK_H60.format(x='text')}, -1)").alias("h"),
    )
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    r = h.select(
        "doc_id",
        "source",
        (F.row_number().over(w) - 1).cast("long").alias("round"),
    )
    ws = Window.orderBy("source")  # ~|sources| rows: tiny window
    # source IS NOT NULL: a doc with no source cannot be dealt into
    # a source-interleaved order — both engines' equi-joins already
    # drop such rows, but an un-filtered slots dimension would
    # NUMBER them (Spark sorts the NULL source first, DuckDB last),
    # shifting every real source's slot
    slots = (
        docs.select("source")
        .where(F.col("source").isNotNull())
        .distinct()
        .select(
            "source",
            (F.row_number().over(ws) - 1).cast("long").alias("slot"),
        )
    )
    return r.join(F.broadcast(slots), "source").select(
        "doc_id", "source", "round", "slot"
    )


# -- q_bpe_pairs: tokenizer-training byte-pair statistics -----------------


@query(
    "q_bpe_pairs",
    oracle="""
    WITH words AS (
      SELECT token AS word, count(*) AS freq FROM (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
      ) WHERE token <> '' GROUP BY token
    ),
    pairs AS (
      SELECT unnest(list_transform(range(1, length(word)),
                                   i -> substr(word, i, 2))) AS pair,
             freq
      FROM words WHERE length(word) >= 2
    )
    SELECT pair, CAST(sum(freq) AS BIGINT) AS freq
    FROM pairs GROUP BY pair
    ORDER BY freq DESC, pair LIMIT 50
    """,
)
def q_bpe_pairs(spark, sf_dir):
    """BPE tokenizer training, step one: corpus-wide adjacent
    symbol-pair frequencies — the argmax of this table IS the first
    BPE merge (Sennrich et al. 2016, the algorithm behind GPT/Llama
    tokenizers).

    Spark-first shape exploits the two-level structure the naive
    per-document scan misses: pair counts factor through the word
    histogram, so the corpus scan collapses to ONE token
    explode + groupBy(word) — the q_text_tokens shuffle, sized by
    vocabulary — and the char-pair explode then runs over DISTINCT
    words only (|vocab| rows, not |corpus|).  At 100 TB the pair
    stage is microscopic regardless of corpus size; this is exactly
    how production BPE trainers (HuggingFace tokenizers) stage it.
    Pairs are 2-char substrings (`substring(word, i, 2)`) — identical
    text both engines, no char-split dialect trap; the `length >= 2`
    guard keeps Spark's `sequence(1, n-1)` ascending.
    Top-50 with the (freq DESC, pair ASC) total order so the result
    set is deterministic; Spark plans it as TakeOrdered (no global
    sort shuffle).

    No reference counterpart (driver-mandated LLM-pipeline surface,
    SURVEY §2.4).
    """
    words = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ", -1)).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .where(F.length("word") >= 2)
    )
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> substring(word, i, 2))"
            )
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("pair"))
        .limit(50)
    )


# -- q_bigram_lm: bigram-LM perplexity scoring (CCNet-style filter) -------

#: per-bigram information content ln(1/p) in integer micro-nats under
#: add-k smoothing (k = 0.5): p(w2|w1) = (cnt + k) / (cw + k·V) with
#: cw = Σ_w2 cnt(w1, w2) (proper conditional normalization) and V the
#: number of distinct continuation types.  Same snap-before-sum trick
#: as `_COST_U`; ``{nv}`` is the V placeholder (Spark folds the
#: driver-aggregated integer, the oracle references the CTE column —
#: the ln inputs are identical doubles either way, and the 1e-6 snap
#: absorbs the ≤1-ulp libm difference).
_BIGRAM_COST_U_T = (
    "CAST(round(ln((CAST(cw AS DOUBLE) + 0.5 * CAST({nv} AS DOUBLE))"
    " / (CAST(cnt AS DOUBLE) + 0.5)) * 1000000, 0) AS BIGINT)"
)

#: per-doc adjacent token pairs off the filtered token array
_PAIRS_EXPR = (
    "transform(sequence(1, size(t) - 1),"
    " i -> struct(t[i-1] AS w1, t[i] AS w2))"
)


def _doc_bigrams(docs, text_col: str = "text"):
    """(doc_id, w1, w2) — one row per adjacent token pair; docs with
    <2 tokens contribute nothing (``sequence`` stays ascending)."""
    return (
        docs.select(
            "doc_id",
            F.filter(
                F.split(text_col, " ", -1), lambda x: x != ""
            ).alias("t"),
        )
        .where(F.size("t") >= 2)
        .select("doc_id", F.explode(F.expr(_PAIRS_EXPR)).alias("p"))
        .select("doc_id", "p.w1", "p.w2")
    )


def bigram_lm(docs, text_col: str = "text"):
    """Score every document against the corpus bigram LM (add-0.5
    smoothing): mean ln(1/p(w2|w1)) per bigram in nats — the monotone
    log of perplexity, the CCNet-style quality signal (low = fluent /
    in-domain, high = gibberish; filtering on it is the classic
    training-data perplexity filter).

    Same two-pass architecture as :func:`unigram_lm` (gated broadcast,
    one driver aggregate for the gate inputs): pass 1 tokenizes once
    and collapses to the bigram count table, which is checkpointed
    with ``local_checkpoint`` — BOTH the context normalizer Σ_w2 cnt
    AND the smoothing constant V = |{w2}| are then derived from the
    checkpointed blocks, so the corpus pays exactly two scans total
    (counts + scoring), never three.  V folds into the
    cost expression as a literal (no 1-row cross join); the cost table
    broadcasts only under the `_VOCAB_BROADCAST_MAX` gate, else AQE
    picks the shuffle join on (w1, w2).  At 100 TB the text itself is
    never shuffled — only (doc_id, w1, w2) token-pair rows and the
    bigram-type table move."""
    db = _doc_bigrams(docs, text_col)
    bg = local_checkpoint(
        db.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    n_types, nv = bg.agg(
        F.count(F.lit(1)), F.count_distinct("w2")
    ).first()
    nv = int(nv) if nv else 1
    ctx = bg.groupBy("w1").agg(F.sum("cnt").cast("long").alias("cw"))
    cost = bg.join(ctx, "w1").select(
        "w1",
        "w2",
        F.expr(_BIGRAM_COST_U_T.format(nv=nv)).alias("cost_u"),
    )
    if n_types <= _VOCAB_BROADCAST_MAX:
        cost = F.broadcast(cost)
    return (
        db.join(cost, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(
                F.sum("cost_u").cast("double")
                / F.count(F.lit(1))
                / F.lit(1000000),
                6,
            ).alias("lm_score"),
        )
    )


@query(
    "q_bigram_lm",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ), dtoks AS (SELECT * FROM toks WHERE len(t) >= 2),
    db AS (
      SELECT doc_id,
             unnest(list_transform(range(2, len(t) + 1),
                                   i -> t[i-1])) AS w1,
             unnest(list_transform(range(2, len(t) + 1),
                                   i -> t[i])) AS w2
      FROM dtoks
    ),
    bg AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt
      FROM db GROUP BY 1, 2
    ),
    vc AS (SELECT CAST(count(DISTINCT w2) AS BIGINT) AS nv FROM bg),
    ctx AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS cw FROM bg GROUP BY 1),
    cost AS (
      SELECT w1, w2, {_BIGRAM_COST_U_T.format(nv='nv')} AS cost_u
      FROM bg JOIN ctx USING (w1), vc
    )
    SELECT d.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(CAST(sum(c.cost_u) AS DOUBLE) / count(*) / 1000000, 6)
               AS lm_score
    FROM db d JOIN cost c ON d.w1 = c.w1 AND d.w2 = c.w2
    GROUP BY d.doc_id
    """,
)
def q_bigram_lm(spark, sf_dir):
    """See :func:`bigram_lm` — the perplexity-filter complement to
    q_unigram_lm (context-sensitive: repeated fluent phrases score
    low even when their unigrams are rare).  Driver-mandated surface
    (SURVEY §2.4); no Main.scala counterpart.

    Single-partition scan, NOT spread() — A/B min-of-3 at sf0.1
    twice: −0.42 s / +0.12 s, within co-tenant noise; keep the
    cheaper plan-shape (see q_tfidf's note)."""
    return bigram_lm(load_table(spark, sf_dir, "documents"))


# -- q_weighted_sample: weighted sampling without replacement -------------

from ema_bigdata_spark.operators.dedup import _DUCK_H60  # noqa: E402

#: Efraimidis–Spirakis exponential race key in integer nano units:
#: u = (h60 + 1) / (2^60 + 1) ∈ (0, 1], key = −ln(u) / weight —
#: Exp(weight)-distributed, so the k smallest keys ARE a weighted
#: sample without replacement (Efraimidis & Spirakis 2006, the
#: standard distributed weighted-reservoir trick: A-Res / Spark's own
#: sampleByKey lineage).  The md5-60bit "uniform" makes the draw
#: deterministic and engine-independent; the 1e-9 snap keeps the
#: comparison integer (sub-snap ties broken by doc_id).
_ES_KEY_U = (
    "CAST(round(-ln((CAST(h AS DOUBLE) + 1.0)"
    " / 1152921504606846977.0)"
    " / CAST(n_chars AS DOUBLE) * 1000000000, 0) AS BIGINT)"
)

#: sample size per source
_WS_K = 5


@query(
    "q_weighted_sample",
    oracle=f"""
    WITH h AS (
      SELECT source, doc_id, n_chars,
             {_DUCK_H60.format(x='text')} AS h
      FROM documents WHERE n_chars > 0
    ),
    k AS (
      SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
             {_ES_KEY_U} AS key_u
      FROM h
    )
    SELECT source, doc_id, n_chars, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY source ORDER BY key_u, doc_id) AS rk
      FROM k
    ) WHERE rk <= {_WS_K}
    """,
)
def q_weighted_sample(spark, sf_dir):
    """Size-weighted sample without replacement, {k} docs per source
    (weight = n_chars): the deterministic curation draw — bigger
    documents proportionally likelier, reproducible across engines
    and re-runs because the "randomness" is a content hash, never
    `rand()`.

    One projection computes the race key JVM-side, one per-source
    window takes the winners: shuffle carries (source, doc_id,
    n_chars, key) — never text.  At 100 TB with a skewed source the
    rank window is the cost; the key is min-combinable, so a
    pre-aggregation that keeps each partition's k smallest per source
    (the classic A-Res combiner) bolts on without changing results —
    the window form IS that plan once AQE splits the hot source.
    Driver-mandated surface (SURVEY §2.4); no Main.scala
    counterpart."""
    from ema_bigdata_spark.operators.dedup import _SPARK_H60

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("n_chars") > 0)
        .select(
            "source",
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.expr(_SPARK_H60.format(x="text")).alias("h"),
        )
        .withColumn("key_u", F.expr(_ES_KEY_U))
    )
    w = Window.partitionBy("source").orderBy("key_u", "doc_id")
    return (
        docs.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= _WS_K)
        .select("source", "doc_id", "n_chars", "rk")
    )


q_weighted_sample.__doc__ = q_weighted_sample.__doc__.format(k=_WS_K)
