"""LLM-pipeline deduplication over ``documents`` (driver mandate,
SURVEY.md §2.4): exact, MinHash-LSH, SimHash, and n-gram Jaccard.

Scale design (the whole point of these operators at 100 TB):
- exact dedup = one hash shuffle on the normalized text key;
- MinHash / SimHash compress each document to a tiny signature via
  per-row higher-order functions (no shuffle), then find candidate
  pairs by *banding* — only documents agreeing on a band ever meet in
  the join, so the shuffle carries signatures, not documents;
- all hash math is explicit modular BIGINT arithmetic (ANSI-safe, no
  overflow) and fully deterministic — no unseeded randomness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ema_bigdata_spark.functions.textfold import fold_lower, lev_bytes
from ema_bigdata_spark.registry import query
from ema_bigdata_spark.sources.tables import (
    load_table,
    local_checkpoint,
    local_frame,
    spread,
)

# MinHash parameters: 16 hashes = 4 bands × 4 rows (LSH threshold
# ≈ (1/4)^(1/4) ≈ 0.71 Jaccard).
_MH_PRIME = 1_000_000_007
_MH_COEFFS = [(2 * j + 3, 104_729 * (j + 1) % _MH_PRIME) for j in range(16)]
_MH_BANDS = 4
_MH_ROWS = 4

#: The one shingle/word hash: a cross-engine 60-bit string hash
#: (first 15 hex digits of md5, so the value fits BIGINT with headroom
#: for the affine minhash step).  md5 is the one high-quality hash
#: both engines expose bit-identically, which is what buys
#: MinHash/SimHash a full-value DuckDB oracle; Spark's xxhash64 has
#: no DuckDB twin and measured only 0.99-1.08× faster end to end on
#: the pair pipelines (band shuffle + self-join dominate, not the
#: hash), so it would cost the oracle for no real gain.  Parity is pinned
#: by tests/test_properties.py::test_h60_cross_engine_parity.
_SPARK_H60 = "CAST(conv(substring(md5({x}), 1, 15), 16, 10) AS BIGINT)"
_DUCK_H60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

#: DuckDB shingle expansion — the same 3-word shingles `_shingles()`
#: builds Spark-side; shared by every minhash-family oracle below (the
#: ngram/fuzzy oracles inline a DISTINCT variant of the same shape).
#: Split ONCE in the subquery, then zip three shifted slices, as
#: `_shingles()` does for Spark: re-running string_split inside the
#: per-shingle lambda is O(tokens²) per document (one 20 k-token
#: document: 190 s, against 0.05 s for the zip form).
_DUCK_SHINGLES = """
      SELECT doc_id,
             unnest(CASE WHEN length(toks) >= 3
               THEN list_transform(
                      list_zip(list_slice(toks, 1, length(toks) - 2),
                               list_slice(toks, 2, length(toks) - 1),
                               list_slice(toks, 3, length(toks))),
                      t -> concat(t[1], ' ', t[2], ' ', t[3]))
               ELSE [text] END) AS sh
      FROM (SELECT doc_id, text, string_split(text, ' ') AS toks
            FROM documents)
"""


#: LSH band buckets larger than this are "boilerplate bands" —
#: dropped from candidate generation on BOTH engines before the
#: quadratic self-join (same posture as the
#: ``_BUCKET_CAP`` stop-shingle rule below).  A (band, signature)
#: bucket of b documents emits b(b-1)/2 candidate pairs; without the
#: cap one boilerplate cluster of 100 k identical pages costs 5e9
#: pairs in a single shuffle partition at 100 TB.  Mega-clusters of
#: literal duplicates are the exact-hash family's job
#: (q_dedup_exact_hash); LSH is for the long tail of near-dups.  The
#: cap applies to the PAIR generators (minhash_pairs, simhash_pairs,
#: q_minhash_jaccard_est) and therefore to their downstream cluster /
#: keep-best pipelines; the incremental batch-vs-index join stays
#: uncapped — it is linear in batch size, not quadratic.  Drop volume
#: is observable, not silent: `lsh_band_stats` reports dropped
#: buckets/rows, pinned by the boilerplate-corpus tests.
#:
#: Values are MEASURED against the driver testdata: minhash
#: buckets peak at 3 (sf0.01) / 14 (sf0.1) — 128-bit band signatures
#: scatter benign content, so 100 is a pure mega-cluster guard.
#: SimHash's 8-bit band values give only 256 buckets per band, so
#: benign buckets reach 748 at sf0.1 (p99 563) and a cap of 100
#: would gut the query; it gets its own ``_SH_BAND_CAP`` (no-op on
#: testdata, still bounds any bucket to ≤2e6 candidate pairs).  The
#: real simhash scale path is a WIDER signature — ``simhash_pairs``
#: takes ``bits``/``n_bands`` so production runs 64-bit signatures
#: with 16-bit bands (65 536 values/band); the registered query stays
#: on the oracle-matched 32/4 shape.
_BAND_CAP = 100
_SH_BAND_CAP = 2000


def _duck_minhash_cte() -> str:
    """Shared oracle CTE chain ending in ``pairs(doc_a, doc_b)`` —
    DuckDB's replica of `_minhash_signatures` + `minhash_pairs`
    (including the ``_BAND_CAP`` hot-bucket filter, mirrored in the
    ``bandk`` CTE)."""
    h = _DUCK_H60.format(x="sh")
    mins = ",\n             ".join(
        f"min((h * {a} + {b}) % {_MH_PRIME}) AS mh{j}"
        for j, (a, b) in enumerate(_MH_COEFFS)
    )
    band_rows = "\n      UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, concat_ws(',', "
        + ", ".join(f"mh{bi * _MH_ROWS + r}" for r in range(_MH_ROWS))
        + ") AS bsig FROM sigs"
        for bi in range(_MH_BANDS)
    )
    return f"""
    sh AS ({_DUCK_SHINGLES}),
    shh AS (SELECT doc_id, {h} % {_MH_PRIME} AS h FROM sh),
    sigs AS (SELECT doc_id,
             {mins}
             FROM shh GROUP BY doc_id),
    bands AS ({band_rows}),
    bandk AS (
      SELECT doc_id, band, bsig FROM (
        SELECT doc_id, band, bsig,
               count(*) OVER (PARTITION BY band, bsig) AS bc
        FROM bands)
      WHERE bc <= {_BAND_CAP}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bandk a JOIN bandk b
        ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
    )"""

#: SimHash: 32-bit signature, near-dup = Hamming distance ≤ 3; bands of
#: 8 bits guarantee any pair within distance 3 shares ≥1 exact band.
_SH_BITS = 32
_SH_BANDS = 4


def _shingles(col: str = "text") -> F.Column:
    """3-word shingles as an array column (docs shorter than 3 tokens
    fall back to the whole text).

    Built by zipping three shifted slices of the token array instead of
    indexing ``element_at(split(...), i)`` inside a lambda — the HOF
    interpreter re-evaluates lambda-captured expressions per element,
    so the indexed form is O(tokens²) per document; the slice form is
    linear (measured ~35% faster end-to-end on documents)."""
    toks = f"split({col}, ' ', -1)"
    return F.expr(
        f"""CASE WHEN size({toks}) >= 3
            THEN zip_with(
                   zip_with(slice({toks}, 1, size({toks}) - 2),
                            slice({toks}, 2, size({toks}) - 2),
                            (a, b) -> concat(a, ' ', b)),
                   slice({toks}, 3, size({toks}) - 2),
                   (ab, c) -> concat(ab, ' ', c))
            ELSE array({col}) END"""
    )


# -- q_dedup_exact: normalized exact dedup (SQL-oracled) ------------------


@query(
    "q_dedup_exact",
    oracle="""
    SELECT min(doc_id) AS keep_doc_id,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(length(lower(replace(replace(trim(text), 'İ', 'i'), 'Σ', 'σ'))) AS BIGINT) AS norm_len
    FROM documents
    GROUP BY lower(replace(replace(trim(text), 'İ', 'i'), 'Σ', 'σ'))
    """,
)
def q_dedup_exact(spark, sf_dir):
    # One shuffle keyed by the normalized text; at 100 TB key by a
    # 128-bit content hash instead to shrink the exchange — same plan.
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy(fold_lower(F.trim(F.col("text"))).alias("_norm"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
        .select(
            "keep_doc_id",
            "n_copies",
            F.length("_norm").cast("long").alias("norm_len"),
        )
    )


# -- q_dedup_exact_hash: content-hash-keyed dedup (the 100 TB shape) ------


@query(
    "q_dedup_exact_hash",
    oracle="""
    SELECT min(doc_id) AS keep_doc_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY lower(replace(replace(trim(text), 'İ', 'i'), 'Σ', 'σ'))
    """,
)
def q_dedup_exact_hash(spark, sf_dir):
    """Exact dedup keyed by a 128-bit content digest instead of the
    text itself — the shape q_dedup_exact's comment promises at scale:
    the exchange carries (16-byte key, doc_id) rows, never documents,
    so shuffle volume is independent of document length.  The oracle
    is the full-text dedup: results are identical unless two distinct
    normalized texts collide in 128 bits (P ≈ n²/2¹²⁹ — at 10¹²
    documents, ~1e-15)."""
    norm = fold_lower(F.trim(F.col("text")))
    return (
        load_table(spark, sf_dir, "documents")
        .select(
            F.md5(F.encode(norm, "UTF-8")).alias("_k"),
            "doc_id",
        )
        .groupBy("_k")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
        .drop("_k")
    )


# -- q_dedup_minhash: MinHash-LSH candidate pairs (SQL-oracled) -----------


def _minhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id + 16 minhash values, computed per-row with HOFs (no
    shuffle, no Python).  The 60-bit shingle hashes (`_SPARK_H60`) are
    reduced mod p before the affine step so products stay far from
    BIGINT overflow (ANSI mode errors on wrap)."""
    h60 = _SPARK_H60.format(x="s")
    sig = docs.select(
        "doc_id",
        F.expr(
            f"transform(shingles, s -> pmod({h60}, {_MH_PRIME}))"
        ).alias("shash"),
    )
    mh = [
        F.expr(
            f"array_min(transform(shash, h -> pmod(h * {a} + {b}, {_MH_PRIME})))"
        ).alias(f"mh{j}")
        for j, (a, b) in enumerate(_MH_COEFFS)
    ]
    return sig.select("doc_id", F.array(*mh).alias("sig"))


@query(
    "q_dedup_minhash",
    oracle=f"""
    WITH {_duck_minhash_cte()}
    SELECT doc_a, doc_b FROM pairs
    """,
)
def q_dedup_minhash(spark, sf_dir):
    docs = spread(load_table(spark, sf_dir, "documents"))
    # no trailing orderBy (as in the q_mm_* queries): the driver hash
    # is order-insensitive, and a global sort costs a
    # rangepartitioning exchange PLUS a boundary-sampling pass that
    # re-executes the whole signature pipeline — an orderBy used only
    # to make output deterministic is an accidental shuffle
    return minhash_pairs(docs)


def minhash_pairs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs (unordered) for any
    DataFrame with (``doc_id``, ``text_col``) — the library entry
    point; the declared query binds it to the driver's ``documents``
    table.  To reuse signatures already built for banding/estimation,
    build them once with :func:`_minhash_signatures` and call
    :func:`minhash_pairs_from_sigs` (separate function so a ``docs``
    argument can never be silently ignored)."""
    docs = docs.withColumn("shingles", _shingles(text_col))
    return minhash_pairs_from_sigs(_minhash_signatures(docs))


def _cap_buckets(
    bands: DataFrame, keys: tuple[str, ...], cap: int = _BAND_CAP
) -> DataFrame:
    """Drop band rows whose (``keys``) bucket exceeds ``cap`` (see
    ``_BAND_CAP``'s rationale).  A window count, not a
    groupBy+semi-join: the count's exchange partitions by exactly the
    keys the self-join needs next, so Catalyst REUSES it and the cap
    costs no extra shuffle (the same trick ngram_jaccard_pairs
    measured for its stop-shingle rule)."""
    from pyspark.sql import Window

    return (
        bands.withColumn(
            "bc", F.count(F.lit(1)).over(Window.partitionBy(*keys))
        )
        .where(F.col("bc") <= cap)
        .drop("bc")
    )


def lsh_band_stats(
    bands: DataFrame, keys: tuple[str, ...], cap: int = _BAND_CAP
) -> dict:
    """Measured drop report for the band-bucket cap: how many buckets
    / band rows the cap removes from ``bands``.  One extra
    aggregation job — call it from tests/bench/ops tooling, not from
    the declared query path (the registered queries stay one-action
    declarative)."""
    row = (
        bands.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("bc"))
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(F.when(F.col("bc") > cap, 1).otherwise(0)).alias(
                "n_buckets_dropped"
            ),
            F.sum(F.when(F.col("bc") > cap, F.col("bc")).otherwise(0))
            .alias("n_rows_dropped"),
        )
        .collect()[0]
    )
    return {
        "cap": cap,
        "n_buckets": row.n_buckets,
        "n_buckets_dropped": int(row.n_buckets_dropped or 0),
        "n_rows_dropped": int(row.n_rows_dropped or 0),
    }


def minhash_pairs_from_sigs(sigs: DataFrame) -> DataFrame:
    """Banded-LSH candidate pairs from precomputed signatures
    (``doc_id``, ``sig`` array from :func:`_minhash_signatures`),
    hot band buckets dropped per ``_BAND_CAP``."""
    extra = []
    bands = _cap_buckets(_banded(sigs, extra), ("band", "bsig"))
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return pairs


def _banded(sigs: DataFrame, carry: list[str]) -> DataFrame:
    """Explode signatures into (doc_id, *carry, band, bsig) band rows.

    ``carry`` columns ride along through the explode so a consumer can
    use them directly off the band self-join (q_minhash_jaccard_est
    carries ``sig`` itself, saving two signature re-joins)."""
    return sigs.select(
        "doc_id",
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col("sig")[b * _MH_ROWS + r]
                                for r in range(_MH_ROWS)
                            ],
                        ).alias("bsig"),
                    )
                    for b in range(_MH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", *carry, "bb.band", "bb.bsig")


# -- q_dedup_simhash: SimHash near-dup pairs (SQL-oracled) ----------------


def _duck_simhash_sql() -> str:
    """DuckDB replica of the q_dedup_simhash pipeline (same md5-60bit
    word hashes, same 32 majority folds, same 8-bit banding)."""
    h = _DUCK_H60.format(x="w")
    cbits = ",\n             ".join(
        f"list_aggregate(list_transform(hs, h -> CASE WHEN (h >> {b}) & 1"
        f" = 1 THEN 1 ELSE -1 END), 'sum') AS c{b}"
        for b in range(_SH_BITS)
    )
    simexpr = " + ".join(
        f"CASE WHEN c{b} > 0 THEN {1 << b} ELSE 0 END"
        for b in range(_SH_BITS)
    )
    width = _SH_BITS // _SH_BANDS
    bands = "\n      UNION ALL ".join(
        f"SELECT doc_id, simhash, {i} AS band,"
        f" (simhash >> {i * width}) & {(1 << width) - 1} AS bval FROM sim"
        for i in range(_SH_BANDS)
    )
    return f"""
    WITH hs AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '), w -> {h}) AS hs
      FROM documents
    ),
    cb AS (SELECT doc_id,
             {cbits}
           FROM hs),
    sim AS (SELECT doc_id, CAST({simexpr} AS BIGINT) AS simhash FROM cb),
    bands AS ({bands}),
    bandk AS (
      SELECT doc_id, simhash, band, bval FROM (
        SELECT doc_id, simhash, band, bval,
               count(*) OVER (PARTITION BY band, bval) AS bc
        FROM bands)
      WHERE bc <= {_SH_BAND_CAP}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM bandk a JOIN bandk b
      ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """


@query("q_dedup_simhash", oracle=_duck_simhash_sql())
def q_dedup_simhash(spark, sf_dir):
    docs = spread(load_table(spark, sf_dir, "documents"))
    # no trailing orderBy — see q_dedup_minhash (driver hash is
    # order-free; the sort's sampling pass re-ran the signature folds)
    return simhash_pairs(docs)


def simhash_pairs(
    docs: DataFrame,
    bits: int = _SH_BITS,
    n_bands: int = _SH_BANDS,
    band_cap: int = _SH_BAND_CAP,
) -> DataFrame:
    """SimHash near-dup candidate pairs (unordered) for any
    (``doc_id``, ``text``) DataFrame — the library entry point; the
    declared query binds it to the driver's ``documents`` table.

    The majority signature is computed per-ROW — no token explode, no
    groupBy: at 100 TB signature computation is a pure map over the
    scan and only the tiny (doc_id, simhash, band) rows ever shuffle.
    The token-hash array is materialized once, then each bit's ±1
    majority count is an independent scalar fold over it: 32
    allocation-free long accumulations beat one fold that rebuilds a
    32-long array per token (measured ~25% faster).
    Word hashes are the cross-engine md5-60bit (see `_SPARK_H60`), so
    the signature — and therefore the pair set — has a full-value
    DuckDB oracle.

    Scale levers: ``band_cap`` drops boilerplate band buckets
    before the quadratic self-join (``_SH_BAND_CAP`` rationale and
    measured values), and ``bits``/``n_bands`` widen the signature —
    the registered query keeps the oracle-matched 32-bit/4-band
    shape, whose 8-bit band values (256 buckets/band) make bucket
    size grow O(corpus); production passes e.g. ``bits=60,
    n_bands=4`` (15-bit bands, 32 768 values/band) so buckets stay
    sparse.  ``bits`` ≤ 60 because the word hashes carry 60 bits."""
    if not (0 < bits <= 60 and bits % n_bands == 0):
        raise ValueError(f"need 0 < bits <= 60, n_bands | bits: "
                         f"{bits}/{n_bands}")
    hs = docs.select(
        "doc_id",
        F.expr(
            "transform(split(text, ' ', -1), w -> "
            + _SPARK_H60.format(x="w")
            + ")"
        ).alias("hs"),
    )
    bit_counts = [
        F.expr(
            f"aggregate(hs, 0L, (a, h) -> a + IF(((h >> {b}) & 1) = 1,"
            " 1L, -1L))"
        ).alias(f"c{b}")
        for b in range(bits)
    ]
    sim = hs.select("doc_id", *bit_counts).select(
        "doc_id",
        sum(
            (
                F.when(F.col(f"c{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
                for b in range(bits)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("simhash"),
    )
    width = bits // n_bands
    bands = sim.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("simhash", i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bval"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.bval")
    bands = _cap_buckets(bands, ("band", "bval"), band_cap)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("long")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= 3)
        .distinct()
    )  # unordered, like minhash_pairs: consumers don't pay a sort


# -- q_ngram_jaccard: exact n-gram Jaccard similarity (SQL-oracled) -------

_JACCARD_MIN = 0.2
#: shingle buckets larger than this are "stop shingles" — dropped from
#: candidate generation on BOTH engines (bounds the pair blow-up the
#: same way real LSH pipelines drop ubiquitous shingles).
_BUCKET_CAP = 100


@query(
    "q_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id,
               unnest(CASE WHEN length(toks) >= 3
                 THEN list_transform(
                        list_zip(list_slice(toks, 1, length(toks) - 2),
                                 list_slice(toks, 2, length(toks) - 1),
                                 list_slice(toks, 3, length(toks))),
                        t -> concat(t[1], ' ', t[2], ' ', t[3]))
                 ELSE [text] END) AS sh
        FROM (SELECT doc_id, text, string_split(text, ' ') AS toks
              FROM documents))
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    keep AS (
      SELECT sh FROM sh GROUP BY sh HAVING count(*) <= {_BUCKET_CAP}
    ),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN keep k ON a.sh = k.sh
                JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= {_JACCARD_MIN}
    """,
)
def q_ngram_jaccard(spark, sf_dir):
    return ngram_jaccard_pairs(
        spread(load_table(spark, sf_dir, "documents"))
    )


def ngram_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """Exact shingle-Jaccard pairs ≥ ``_JACCARD_MIN`` for any
    (``doc_id``, ``text``) DataFrame — the library entry point.

    Per-doc work stays per-ROW as long as possible: shingle dedup is
    array_distinct (not an explode + DISTINCT exchange) and the doc
    size n = size(array_distinct) rides along from the projection
    (not a partitionBy(doc_id) window).  That leaves exactly two
    shuffles — the stop-shingle count over `sh` (whose exchange the
    self-join then REUSES) and the final pair groupBy — down from
    four.  At 100 TB join on a 128-bit content hash of the shingle
    instead of the string to shrink the exchange (64-bit birthday
    collisions get real at billions of shingles; strings here keep
    the DuckDB oracle exact).
    """
    from pyspark.sql import Window

    sh = (
        docs
        .select("doc_id", F.array_distinct(_shingles()).alias("shs"))
        .select("doc_id", F.size("shs").alias("n"), F.explode("shs").alias("sh"))
        .withColumn("bc", F.count(F.lit(1)).over(Window.partitionBy("sh")))
        .where(F.col("bc") <= _BUCKET_CAP)
    )
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    jac = F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        common.where(jac >= _JACCARD_MIN)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def boilerplate_corpus(spark, n_docs: int) -> DataFrame:
    """Pathological-skew fixture: ``n_docs``
    documents that each carry 4 unique filler tokens followed by the
    SAME 10-token boilerplate sentence — so one set of hot shingles
    appears in EVERY document.  Uncapped, the shingle self-join would
    emit ~n²/2 candidate pairs all sharing jaccard ≈ 0.4 (over
    ``_JACCARD_MIN``, so they'd survive to the OUTPUT too); the
    ``_BUCKET_CAP`` stop-shingle rule must drop the hot buckets and
    keep pair volume at the unique-content level (zero here).
    Deterministic: content is a pure function of doc_id."""
    boiler = "all rights reserved contact the site team for more info"
    return spark.range(0, n_docs, 1, 32).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.format_string("u%da u%db u%dc u%dd ", "id", "id", "id", "id"),
            F.lit(boiler),
        ).alias("text"),
    )


# -- q_dedup_fuzzy: edit-distance verification of candidate pairs ---------


@query(
    "q_dedup_fuzzy",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id,
               unnest(CASE WHEN length(toks) >= 3
                 THEN list_transform(
                        list_zip(list_slice(toks, 1, length(toks) - 2),
                                 list_slice(toks, 2, length(toks) - 1),
                                 list_slice(toks, 3, length(toks))),
                        t -> concat(t[1], ' ', t[2], ' ', t[3]))
                 ELSE [text] END) AS sh
        FROM (SELECT doc_id, text, string_split(text, ' ') AS toks
              FROM documents))
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    keep AS (
      SELECT sh FROM sh GROUP BY sh HAVING count(*) <= {_BUCKET_CAP}
    ),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM sh a JOIN keep k ON a.sh = k.sh
                JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    cand AS (
      SELECT doc_a, doc_b
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= {_JACCARD_MIN}
    )
    SELECT cand.doc_a, cand.doc_b,
           CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
           round(CAST(1 AS DOUBLE)
                 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
                   / greatest(strlen(da.text), strlen(db.text)), 6)
             AS edit_sim
    FROM cand
    JOIN documents da ON da.doc_id = cand.doc_a
    JOIN documents db ON db.doc_id = cand.doc_b
    """,
)
def q_dedup_fuzzy(spark, sf_dir):
    """Two-stage fuzzy dedup: cheap candidate generation (exact shingle
    Jaccard, :func:`ngram_jaccard_pairs`) → expensive edit-distance
    verification ONLY on candidates — the canonical
    filter-then-verify shape: Levenshtein is O(len²) per pair, so at
    100 TB it must never touch the O(n²) pair space, only the
    candidate set (25 pairs here vs 125 k possible at sf0.01).

    The verify join brings the texts back by doc_id with the CANDIDATE
    side broadcast (it is orders of magnitude smaller than the corpus),
    so the corpus is scanned, never shuffled.  Integer edit distance is
    engine-exact IN UTF-8 BYTES (Spark's levenshtein counts code
    points, DuckDB's counts bytes, so the hostile-unicode NFC/NFD twin
    pair reads 2 vs 3 — the declared unit is bytes via
    textfold.lev_bytes, and the similarity denominator is byte length
    to match; identity on ASCII corpora, hence on all driver data);
    the normalized similarity is one rounded double formula over
    identical integer inputs."""
    cand = ngram_jaccard_pairs(
        spread(load_table(spark, sf_dir, "documents"))
    ).select("doc_a", "doc_b")
    # text fetch does NOT spread(): the per-row work after this scan is
    # one hash-probe against the broadcast candidates — widening it
    # would just add a round-robin exchange of the whole corpus
    texts = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lev = lev_bytes(F.col("da.text"), F.col("db.text"))
    longest = F.greatest(
        F.octet_length(F.col("da.text")), F.octet_length(F.col("db.text"))
    )
    # BOTH text fetches keep the candidate side broadcast:
    # the first join's result is still candidate-sized (pairs + one
    # text), so re-asserting the hint on it keeps the second join a
    # broadcast-hash too — without it static planning may pick a
    # sort-merge join and shuffle the corpus, the exact thing this
    # operator exists to avoid.
    with_a = F.broadcast(cand).join(
        texts.alias("da"), F.col("doc_a") == F.col("da.doc_id")
    )
    return (
        F.broadcast(with_a)
        .join(texts.alias("db"), F.col("doc_b") == F.col("db.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            lev.cast("long").alias("edit_dist"),
            F.round(
                F.lit(1.0) - lev.cast("double") / longest.cast("double"), 6
            ).alias("edit_sim"),
        )
    )


# -- q_dedup_cluster: connected components over candidate pairs -----------


_CC_DRIVER_MAX = 500_000


def _components_driver(spark, edge_rows) -> DataFrame:
    """Union-find with min-root labels over a collected edge list —
    a pyarrow Table (from ``edges.limit(...).toArrow()``) or any
    iterable of rows with ``src``/``dst``.

    The labels leave as one ``local_frame`` at every size (≤ 16 MB at
    the cutover), so collecting them runs no job."""
    if hasattr(edge_rows, "num_rows"):  # pyarrow.Table
        edge_iter = zip(
            edge_rows.column("src").to_pylist(),
            edge_rows.column("dst").to_pylist(),
        )
    else:
        edge_iter = ((r.src, r.dst) for r in edge_rows)
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for ra_, rb_ in edge_iter:
        a, b = int(ra_), int(rb_)
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the root IS the cluster label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    nodes = sorted(parent)
    return local_frame(
        spark, [nodes, [find(n) for n in nodes]],
        "doc_id BIGINT, cluster_id BIGINT",
    )


def chain_edges(
    spark, n_nodes: int = 612_000, group: int = 6
) -> DataFrame:
    """Deterministic chain-component edge fixture for pinning the
    DISTRIBUTED connected-components path past the ``_CC_DRIVER_MAX``
    gate: nodes 0..n-1 in groups of ``group``,
    edge (i, i+1) within each group.  Defaults give 510 000 edges
    (> the 500 000 cutover, so the gate flips naturally — no
    monkeypatch) over 102 000 components of diameter ``group-1`` —
    chains, not cliques, because diameter is what label propagation
    has to EARN (a clique converges in one round).  Ground truth is
    analytic: cluster_id = doc_id - doc_id % group."""
    return (
        spark.range(0, n_nodes, 1, 32)
        .where((F.col("id") + 1) % group != 0)
        .select(
            F.col("id").alias("doc_a"),
            (F.col("id") + 1).alias("doc_b"),
        )
    )


def connected_components(
    pairs: DataFrame, max_iter: int = 10
) -> DataFrame:
    """(doc_a, doc_b) edges → (doc_id, cluster_id) with cluster_id =
    min doc_id in the component — the step that turns near-dup PAIRS
    into dedup GROUPS (keep one representative per cluster).

    Hybrid strategy keyed on the CANDIDATE-PAIR count, not the corpus
    size: LSH banding shrinks even a 100 TB corpus to a pair set many
    orders smaller, so below ``_CC_DRIVER_MAX`` pairs a driver-side
    union-find answers in one collect (measured 4× faster than the
    4-round distributed loop's job overhead).  Above it, distributed
    min-label propagation with POINTER DOUBLING: each round every node
    takes the minimum label among itself and its neighbors (the
    self-inclusion rides a per-node SELF-LOOP in the edge cache, so
    the propagate is one join + one aggregate, not a third per-round
    |V| shuffle join; round 1's seed labels are the identity, so its
    propagate is a plain ``min(dst) GROUP BY src`` with no join at
    all), then jumps once through the label table (label ←
    label(label)), so the distance a min label covers roughly doubles
    per round — O(log diameter) rounds instead of O(diameter) (dup
    clusters are near-cliques, so 2-3 rounds either way; deep chains
    are where the doubling earns; a SECOND jump per round costs an
    extra |V| shuffle join per round, more than the rounds it could
    save at these diameters).  The edge cache is hash-partitioned by
    ``dst`` before materialization (width = the session's
    shuffle-partition setting), so every round's propagate join reuses
    the cached layout instead of re-exchanging the full edge table —
    only the label side shuffles per round.  Convergence is detected
    by an exact-sum fixpoint: per-node labels are monotonically
    non-increasing (``least`` of self and neighbors), so two
    consecutive rounds with equal DECIMAL(38,0) label sums mean NO
    node changed — one map-side-combined aggregate per round, no
    labels⋈labels change probe.  Every 3rd round the label frame is
    checkpointed — caching alone truncates COMPUTE but not the PLAN,
    so an iterative self-join otherwise grows the lineage (and
    Catalyst re-analysis cost) per round and recompute cascades on
    cache eviction.  Locally that's
    :func:`~ema_bigdata_spark.sources.tables.local_checkpoint`; at
    true cluster scale point ``spark.sparkContext.setCheckpointDir``
    at durable storage and swap in reliable ``checkpoint()``.  Both
    paths return identical labels.

    Cache lifetime: the edge cache and every round's label cache are
    unpersisted before the call returns, on success and on failure.
    When the last round was a cached one, its labels are checkpointed
    (one more job) and the cache dropped, so the returned frame leaves
    no entry in the session's cache manager.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    # ONE bounded collect decides the path AND feeds the driver
    # variant: a separate count probe would re-run the pair pipeline
    # and could under-count a changing source.  Arrow batches, not
    # pickled Rows, keep the distributed path's entry fee cheap.
    probe = edges.limit(_CC_DRIVER_MAX + 1).toArrow()
    if probe.num_rows <= _CC_DRIVER_MAX:
        return _components_driver(pairs.sparkSession, probe)
    # distributed shape (docstring): self-loops fold each node's own
    # label into the propagate min, so no row drops out and no
    # labels⋈neighbor_min join runs; round 1 needs no join at all;
    # the edge cache is hash-partitioned by dst ONCE (a cache keeps
    # that partitioning, a checkpoint of several partitions does not),
    # so only the |V|-sized label side shuffles per round.
    npart = int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    nodes_df = sym.select("src").distinct()
    edges = (
        sym.union(nodes_df.select("src", F.col("src").alias("dst")))
        .repartition(npart, "dst")
        .cache()
    )
    labels = new_labels = None
    prev_sum = None
    try:
        for it in range(max_iter):
            if labels is None:
                new_labels = edges.groupBy("src").agg(
                    F.min("dst").alias("cluster_id")
                ).withColumnRenamed("src", "doc_id")
            else:
                new_labels = (
                    edges.join(labels, edges.dst == labels.doc_id)
                    .groupBy("src")
                    .agg(F.min("cluster_id").alias("cluster_id"))
                    .withColumnRenamed("src", "doc_id")
                )
            # pointer doubling (docstring): every cluster_id IS some
            # node's doc_id, so one self-join jumps each label to that
            # node's (≤) label; left join + coalesce is
            # belt-and-braces.  Deliberately NOT caching the propagate
            # step before this self-join: exchange reuse already
            # dedupes the shared subplan, and an explicit cache adds a
            # materialization on top of it.
            jump = new_labels.select(
                F.col("doc_id").alias("j_id"),
                F.col("cluster_id").alias("j_cl"),
            )
            new_labels = new_labels.join(
                jump, new_labels.cluster_id == F.col("j_id"), "left"
            ).select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("j_cl"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
            # periodic lineage cut (docstring); cache suffices in between
            if (it + 1) % 3 == 0:
                new_labels = local_checkpoint(new_labels)
            else:
                new_labels = new_labels.cache()
            # exact-sum fixpoint (docstring): DECIMAL(38,0) so the sum
            # cannot wrap even at 1e9 nodes × 1e18 ids; empty input
            # (sum NULL) coalesces to 0 and converges on round 2
            new_sum = (
                new_labels.agg(
                    F.sum(F.col("cluster_id").cast("decimal(38,0)"))
                ).collect()[0][0]
            ) or 0
            if labels is not None:
                labels.unpersist()
            labels = new_labels
            if prev_sum is not None and new_sum == prev_sum:
                break
            prev_sum = new_sum
        if labels.is_cached:  # the result outlives the call (docstring)
            cached, labels = labels, local_checkpoint(labels)
            cached.unpersist()
    except BaseException:
        # a failed round must not leave its label caches registered
        # for the life of the session
        for df in (labels, new_labels):
            if df is not None:
                df.unpersist()
        raise
    finally:
        edges.unpersist()
    return labels


@query(
    "q_dedup_cluster",
    # Oracle: same minhash pairs, then connected components as a
    # recursive transitive closure with min-label roll-up.  Closure is
    # O(|component|²) rows — fine for near-dup clusters (near-cliques
    # of a few docs); the Spark side's union-find / label propagation
    # is the scalable form, the SQL is only the truth check.
    oracle=f"""
    WITH RECURSIVE {_duck_minhash_cte()},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b
    )
    SELECT a AS doc_id, least(a, min(b)) AS cluster_id
    FROM reach GROUP BY a
    """,
)
def q_dedup_cluster(spark, sf_dir):
    docs = spread(load_table(spark, sf_dir, "documents"))
    pairs = minhash_pairs(docs)
    comp = connected_components(pairs)
    # no trailing orderBy — see q_dedup_minhash (driver hash is
    # order-free)
    return comp.select("doc_id", "cluster_id")


# -- q_dedup_keep_best: survivor selection per near-dup cluster -----------


def keep_best(docs: DataFrame, clusters: DataFrame) -> DataFrame:
    """Pick ONE survivor per near-dup cluster — the step that turns
    cluster assignments into an actual deduplicated corpus.  Rule:
    keep the LONGEST document (near-dups are usually truncations or
    boilerplate-stripped variants of the fullest copy), doc_id as the
    deterministic tiebreak.

    Scale shape: ``clusters`` is (doc_id, cluster_id) — 16 bytes/doc,
    orders smaller than the corpus — so the metadata join broadcasts
    nothing heavier than ids+lengths, and the per-cluster argmax is a
    window over cluster_id (clusters are near-cliques of a few docs,
    so no skew)."""
    from pyspark.sql import Window

    meta = docs.select("doc_id", "n_chars")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        clusters.join(meta, "doc_id")
        .withColumn("_rn", F.row_number().over(w))
        .groupBy("cluster_id")
        .agg(
            F.min(F.when(F.col("_rn") == 1, F.col("doc_id")))
            .alias("keep_doc_id"),
            F.min(F.when(F.col("_rn") == 1, F.col("n_chars")))
            .cast("long")
            .alias("kept_chars"),
            F.count(F.lit(1)).cast("long").alias("n_members"),
        )
    )


@query(
    "q_dedup_keep_best",
    # oracle = the cluster query's recursive closure + the same
    # longest-doc argmax, expressed with row_number over the joined
    # metadata (identical (n_chars DESC, doc_id) tiebreak).
    oracle=f"""
    WITH RECURSIVE {_duck_minhash_cte()},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b
    ),
    clusters AS (
      SELECT a AS doc_id, least(a, min(b)) AS cluster_id
      FROM reach GROUP BY a
    ),
    ranked AS (
      SELECT c.cluster_id, c.doc_id, d.n_chars,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY d.n_chars DESC, c.doc_id) AS rn
      FROM clusters c JOIN documents d USING (doc_id)
    )
    SELECT cluster_id,
           CAST(min(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
             AS keep_doc_id,
           CAST(min(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT)
             AS kept_chars,
           CAST(count(*) AS BIGINT) AS n_members
    FROM ranked GROUP BY cluster_id
    """,
)
def q_dedup_keep_best(spark, sf_dir):
    """End of the dedup pipeline: minhash pairs → connected components
    → one survivor per cluster (:func:`keep_best`).  A user deletes
    every clustered doc except ``keep_doc_id`` — the other queries
    stop at pairs or cluster labels."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    comp = connected_components(minhash_pairs(docs))
    # no trailing orderBy — see q_dedup_minhash (driver hash is
    # order-free)
    return keep_best(docs, comp)


# -- q_minhash_jaccard_est: sketch-based similarity estimation ------------


_EST_SIG_LIST = "[" + ", ".join(f"mh{j}" for j in range(16)) + "]"


@query(
    "q_minhash_jaccard_est",
    oracle=f"""
    WITH {_duck_minhash_cte()},
    sigarr AS (SELECT doc_id, {_EST_SIG_LIST} AS sig FROM sigs)
    SELECT p.doc_a, p.doc_b,
           round(CAST(length(list_filter(list_zip(sa.sig, sb.sig),
                   t -> t[1] = t[2])) AS DOUBLE) / 16, 6) AS jaccard_est
    FROM pairs p
    JOIN sigarr sa ON sa.doc_id = p.doc_a
    JOIN sigarr sb ON sb.doc_id = p.doc_b
    """,
)
def q_minhash_jaccard_est(spark, sf_dir):
    """Jaccard ESTIMATED from signature agreement (fraction of the 16
    minhashes that collide) for every LSH candidate pair — the
    sketch-only similarity join: at 100 TB the exact-shingle verify
    pass (q_ngram_jaccard) touches documents again, while this needs
    only the 128-byte signatures already shuffled for banding.

    The signature RIDES THROUGH the band explode (via
    ``_banded(..., ["sig"])``), so the estimate is computed directly
    on the band self-join's output — re-joining the signature table
    onto each side of every pair would cost two extra scans and four
    extra exchanges for data the join already has.  Measured isolated,
    warm, min-of-3 at sf0.1: this form 1.24 s vs 1.50-1.61 s for the
    rejoin-signatures form (even with both rejoin sides broadcast).
    The 4× sig-array duplication through the band explode costs less
    than two extra signature exchanges at every scale where the
    sketch table exceeds one partition."""
    docs = spread(load_table(spark, sf_dir, "documents")).withColumn(
        "shingles", _shingles()
    )
    # same _BAND_CAP hot-bucket rule as minhash_pairs (the oracle's
    # `pairs` CTE carries it), applied before the quadratic self-join
    bands = _cap_buckets(
        _banded(_minhash_signatures(docs), ["sig"]), ("band", "bsig")
    )
    a, b = bands.alias("a"), bands.alias("b")
    agree = (
        "CAST(size(filter(zip_with(a.sig, b.sig, (x, y) -> x = y),"
        " v -> v)) AS DOUBLE) / CAST(16 AS DOUBLE)"
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(F.expr(agree), 6).alias("jaccard_est"),
        )
        .distinct()
        # no trailing orderBy — see q_dedup_minhash (driver hash is
        # order-free)
    )


# -- q_dedup_incremental: new-batch dedup against an existing corpus ------

#: deterministic batch split: doc_id % _INC_MOD == _INC_NEW is "today's
#: ingest", the rest is the standing corpus.
_INC_MOD = 5
_INC_NEW = 4


@query(
    "q_dedup_incremental",
    oracle=f"""
    WITH corpus AS (
      SELECT lower(replace(replace(trim(text), 'İ', 'i'), 'Σ', 'σ')) AS norm FROM documents
      WHERE doc_id % {_INC_MOD} <> {_INC_NEW}
    ),
    batch AS (
      SELECT doc_id, lower(replace(replace(trim(text), 'İ', 'i'), 'Σ', 'σ')) AS norm FROM documents
      WHERE doc_id % {_INC_MOD} = {_INC_NEW}
    )
    SELECT b.doc_id,
           CAST(length(b.norm) AS BIGINT) AS norm_len
    FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.norm = b.norm)
    """,
)
def q_dedup_incremental(spark, sf_dir):
    """Incremental ingestion dedup: documents arriving today survive
    only if their normalized text is NOT already in the standing
    corpus — one LEFT ANTI join on the content key, the shape every
    continuously-ingesting pipeline runs per batch.

    At 100 TB the corpus side is a bucketed content-HASH table
    (xxhash64/128), so the anti join co-locates on the bucket key and
    only the (small) daily batch shuffles; here the key is the
    normalized text itself to keep the DuckDB oracle exact."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", fold_lower(F.trim(F.col("text"))).alias("norm")
    )
    is_new = (F.col("doc_id") % _INC_MOD) == _INC_NEW
    corpus = docs.where(~is_new).select("norm")
    batch = docs.where(is_new)
    return batch.join(corpus, "norm", "left_anti").select(
        "doc_id", F.length("norm").cast("long").alias("norm_len")
    )


# -- q_dup_spans: duplicated n-gram span statistics -----------------------


def dup_span_stats(docs: DataFrame) -> DataFrame:
    """Per-document duplicated-span rate: the fraction of a document's
    3-gram occurrences that also appear in at least one OTHER document
    (the per-document statistic behind exact-substring dedup — docs
    with a high ``dup_frac`` are cut or trimmed before training).

    Scale shape: occurrences collapse to a distinct (doc_id, shingle,
    k) grid first (one shuffle, map-side combined), then per-shingle
    document counts come from a groupBy — NOT a window over
    ``partitionBy(shingle)``: partial aggregation collapses a hot
    shingle inside each task before the exchange, where a window would
    materialize the whole partition of a ubiquitous shingle in one
    task.  The counts join back on the shingle key (AQE skew-join
    splits any residual hot key) and the final per-doc rollup shuffles
    one row per document.  At 100 TB key the grid by a 128-bit content
    hash of the shingle instead of the string (same note as
    :func:`ngram_jaccard_pairs`); strings here keep the DuckDB oracle
    exact."""
    occ = docs.select("doc_id", F.explode(_shingles()).alias("sh"))
    # the grid is consumed twice (its own rollup + the per-shingle
    # doc counts); materialize it once — real exact-substring-dedup
    # pipelines persist exactly this index — or Spark re-derives the
    # whole explode+aggregate subtree per consumer (second corpus
    # scan + shuffle)
    grid = local_checkpoint(
        occ.groupBy("doc_id", "sh").agg(F.count(F.lit(1)).alias("k"))
    )
    ndocs = grid.groupBy("sh").agg(F.count(F.lit(1)).alias("d"))
    dup_occ = F.when(F.col("d") >= 2, F.col("k")).otherwise(F.lit(0))
    return (
        grid.join(ndocs, "sh")
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_shingles"),
            F.sum(dup_occ).cast("long").alias("n_dup"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_dup",
            F.round(
                F.col("n_dup").cast("double")
                / F.col("n_shingles").cast("double"),
                6,
            ).alias("dup_frac"),
        )
    )


@query(
    "q_dup_spans",
    oracle=f"""
    WITH sh AS ({_DUCK_SHINGLES}),
    grid AS (
      SELECT doc_id, sh, CAST(count(*) AS BIGINT) AS k
      FROM sh GROUP BY doc_id, sh
    ),
    nd AS (SELECT sh, CAST(count(*) AS BIGINT) AS d FROM grid GROUP BY sh)
    SELECT g.doc_id,
           CAST(sum(g.k) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN nd.d >= 2 THEN g.k ELSE 0 END) AS BIGINT)
               AS n_dup,
           round(CAST(sum(CASE WHEN nd.d >= 2 THEN g.k ELSE 0 END)
                      AS DOUBLE)
                 / CAST(sum(g.k) AS DOUBLE), 6) AS dup_frac
    FROM grid g JOIN nd ON g.sh = nd.sh
    GROUP BY g.doc_id
    """,
)
def q_dup_spans(spark, sf_dir):
    """See :func:`dup_span_stats`.  Driver-mandated surface (SURVEY
    §2.4); no Main.scala counterpart."""
    return dup_span_stats(spread(load_table(spark, sf_dir, "documents")))


# -- q_dedup_incremental_near: new batch vs standing-corpus LSH index -----


def minhash_incremental(
    batch_bands: DataFrame, corpus_bands: DataFrame
) -> DataFrame:
    """Per-batch-document near-dup report against a standing corpus
    LSH index: (doc_id, n_matches, is_near_dup) for every batch doc,
    where matches are distinct corpus documents sharing at least one
    (band, band-signature) bucket.

    Both inputs are band tables from :func:`_banded` — in production
    the corpus side is the MATERIALIZED index table every
    continuously-ingesting dedup pipeline maintains (appended per
    batch), so the daily work is: signature the new batch (per-row
    HOFs, no shuffle), hash-join its 4·|batch| band rows against the
    index on (band, bsig), and count.  The corpus is never re-scanned
    and never shuffled; only band rows move."""
    cands = (
        batch_bands.alias("b")
        .join(
            corpus_bands.alias("c"),
            (F.col("b.band") == F.col("c.band"))
            & (F.col("b.bsig") == F.col("c.bsig")),
        )
        .select(
            F.col("b.doc_id").alias("batch_doc"),
            F.col("c.doc_id").alias("corpus_doc"),
        )
        .distinct()
    )
    counts = cands.groupBy("batch_doc").agg(
        F.count(F.lit(1)).cast("long").alias("n_matches")
    )
    batch_ids = batch_bands.select("doc_id").distinct()
    return batch_ids.join(
        counts, batch_ids.doc_id == counts.batch_doc, "left"
    ).select(
        "doc_id",
        F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
        (F.coalesce("n_matches", F.lit(0)) > 0).alias("is_near_dup"),
    )


@query(
    "q_dedup_incremental_near",
    oracle=f"""
    WITH {_duck_minhash_cte()},
    cands AS (
      SELECT DISTINCT b.doc_id AS batch_doc, c.doc_id AS corpus_doc
      FROM bands b JOIN bands c
        ON b.band = c.band AND b.bsig = c.bsig
       AND b.doc_id % {_INC_MOD} = {_INC_NEW}
       AND c.doc_id % {_INC_MOD} <> {_INC_NEW}
    ),
    cnt AS (
      SELECT batch_doc, CAST(count(*) AS BIGINT) AS n_matches
      FROM cands GROUP BY batch_doc
    )
    SELECT d.doc_id,
           CAST(coalesce(cnt.n_matches, 0) AS BIGINT) AS n_matches,
           coalesce(cnt.n_matches, 0) > 0 AS is_near_dup
    FROM (SELECT doc_id FROM documents
          WHERE doc_id % {_INC_MOD} = {_INC_NEW}) d
    LEFT JOIN cnt ON d.doc_id = cnt.batch_doc
    """,
)
def q_dedup_incremental_near(spark, sf_dir):
    """Incremental NEAR-dup ingestion gate (the LSH complement of
    q_dedup_incremental's exact-key anti join): today's batch
    (``doc_id % _INC_MOD == _INC_NEW``) is checked against the standing
    corpus's MinHash band index; a batch doc matching any corpus doc's
    band bucket is flagged.  The band table is built once from one
    corpus scan and checkpointed — standing in for the materialized
    index table a production pipeline maintains incrementally — and
    the join moves only (band, bsig, doc_id) rows.  Driver-mandated
    surface (SURVEY §2.4); no Main.scala counterpart."""
    docs = spread(load_table(spark, sf_dir, "documents")).withColumn(
        "shingles", _shingles()
    )
    bands = local_checkpoint(_banded(_minhash_signatures(docs), []))
    is_new = (F.col("doc_id") % _INC_MOD) == _INC_NEW
    return minhash_incremental(bands.where(is_new), bands.where(~is_new))
