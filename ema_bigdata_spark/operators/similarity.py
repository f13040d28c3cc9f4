"""LLM-pipeline similarity search over ``embeddings`` (array<float>,
64-dim; driver mandate, SURVEY.md §2.4): vector norms, brute-force
cosine top-k, LSH-bucketed ANN, and embedding-cosine near-dup pairs.

All vector math is higher-order array functions (JVM-side sequential
folds — identical op order to DuckDB's list functions, so per-row
values match bit-for-bit before the ROUND).  No Python UDFs; the one
Python stage is the covariance's Arrow/numpy product partials, which
sum exact integers and so need no shared op order.

Scale path: brute-force top-k is the exact baseline (one narrow scan +
TakeOrdered).  The LSH variant compresses each vector to a small
signature per-row, so candidate generation shuffles signatures only —
the pattern that survives 100 TB, with recall tunable via bands.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from ema_bigdata_spark.registry import query
from ema_bigdata_spark.sources.tables import (
    load_table,
    local_checkpoint,
    local_frame,
    spread,
)

_DIM = 64
_PROBE_ID = 0
_TOPK = 10

# engine-shared fragments (embedding elements cast FLOAT→DOUBLE first)
_DOT_SELF = (
    "aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
    " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)
_SQL_DOT_SELF = (
    "list_aggregate(list_transform(embedding,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')"
)

#: the family's declared vector domain: Σx² ∈ (0, 1e4].  Zero-norm
#: and NULL vectors have no cosine; NaN/±Inf elements make Σx²
#: NaN/Inf, and both compare greater than the bound on BOTH engines,
#: so it excludes them — an ungated NaN element crashes the
#: fixed-point centroid/covariance snaps (ANSI CAST) and silently
#: diverges q_ann_ivf's codebook assignment.  Why 1e4 and not lower:
#: RAW (unnormalized) embeddings are a legitimate corpus — a d-dim
#: Gaussian has Σx² ≈ d, so a tighter bound (an earlier draft used
#: 100) silently drops ordinary 1024-dim raw vectors and even the
#: tail of 64-dim ones; 1e4 admits raw corpora to ~4096 dims and
#: every unit-normalized corpus with a 10⁴ margin.  Why not higher:
#: Σx² ≤ 1e4 caps any per-row covariance product at Σx²/2 · 1e9 =
#: 5e12 µ-units, keeping q_embed_covariance's per-batch int64
#: partials exact up to ~1.8e6 rows/batch (an Arrow batch holds
#: 10⁴), and the ×1e7 centroid snaps at ≤1e9/row (label sums exact
#: to ~9e9 rows/label).  Pinned by
#: tests/test_nonfinite_values.py::TestEmbeddingDomain.
_NORM2_MAX = 10_000


def _sql_norm_gate(col: str = "embedding", id_col: str | None = "vec_id") -> str:
    """Oracle text of the domain gate for a given embedding column.

    ``id_col``: corpus rows must carry a non-NULL vector id — the
    family keys, pairs, ranks, and tie-orders rows by ``vec_id``,
    and a NULL id silently falls out
    of the oracles' join-back shapes (covariance's positional
    self-join, topk's id tiebreak) while surviving Spark's
    projection shapes.  Pass ``id_col=None`` for probe-vector
    operands, which have no row identity."""
    d = _SQL_DOT_SELF.replace("embedding", col)
    gate = f"({d} > 0 AND {d} <= {_NORM2_MAX})"
    if id_col is not None:
        gate = f"({id_col} IS NOT NULL AND {gate})"
    return gate


def _norm_gated(df):
    """ONE source of truth for the family's vector domain on the Spark
    side — see `_NORM2_MAX`, and `_sql_norm_gate` for why the row id
    is part of the domain.  The oracle texts spell the same gate
    via :func:`_sql_norm_gate`.

    The ``vec_id`` clause applies only when the frame HAS that
    column: library entry points such as :func:`embed_covariance`
    accept any (…, ``embedding``) frame, and an id-less frame has no
    row-identity requirement —
    matching ``_sql_norm_gate(id_col=None)``.  Every registered
    query's operand carries ``vec_id``, so this is identity for the
    oracle contract."""
    gate = f"{_DOT_SELF} > 0 AND {_DOT_SELF} <= {_NORM2_MAX}"
    if "vec_id" in df.columns:
        gate = f"vec_id IS NOT NULL AND {gate}"
    return df.where(F.expr(gate))


# -- q_embed_norm: L2 norm via higher-order fold (SQL-oracled) ------------


@query(
    "q_embed_norm",
    oracle=f"""
    SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
           round(sqrt({_SQL_DOT_SELF}), 6) AS l2_norm
    FROM embeddings
    """,
)
def q_embed_norm(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(F.sqrt(F.expr(_DOT_SELF)), 6).alias("l2_norm"),
    )


# -- q_similarity_topk: brute-force cosine top-k (SQL-oracled) ------------


_PROBE_CACHE: dict[str, list[float]] = {}


def _probe_vector(spark, sf_dir) -> list[float]:
    # memoized per sf_dir (like the IVF centroids): the probe is a
    # fixture constant, and without the cache every similarity query —
    # and q_ann_ivf twice — pays a filter-scan job just to re-read it
    if sf_dir in _PROBE_CACHE:
        return _PROBE_CACHE[sf_dir]
    rows = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") == _PROBE_ID)
        .select("embedding")
        .collect()
    )
    if not rows:
        raise ValueError(
            f"probe vec_id={_PROBE_ID} not found in {sf_dir}/embeddings"
        )
    # same loud refusal for a probe outside the family's vector
    # domain: a NULL or zero-norm probe has no cosine — without
    # this, ANSI Spark dies on the folded 0.0 denominator while the
    # oracles return NaN rows (engine-divergent)
    if rows[0].embedding is None:
        raise ValueError(
            f"probe vec_id={_PROBE_ID} has a NULL embedding"
        )
    out = [float(x) for x in rows[0].embedding]
    if not any(v != 0.0 for v in out):
        raise ValueError(
            f"probe vec_id={_PROBE_ID} is the zero vector (no cosine)"
        )
    n2 = sum(v * v for v in out)
    if not (0 < n2 <= _NORM2_MAX):  # NaN fails every comparison
        raise ValueError(
            f"probe vec_id={_PROBE_ID} is outside the vector domain"
            f" (norm2={n2!r}, domain (0, {_NORM2_MAX}]) — see _NORM2_MAX"
        )
    _PROBE_CACHE[sf_dir] = out
    return out


def _cosine_to_probe(probe: list[float]) -> F.Column:
    """cos(embedding, probe) with the probe folded in as literals.

    Op order matches the DuckDB oracle: Σ e_i·p_i sequential fold, then
    / (sqrt(Σe²)·sqrt(Σp²))."""
    parr = "array(" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in probe) + ")"
    dot = (
        f"aggregate(zip_with(embedding, {parr},"
        " (a, b) -> CAST(a AS DOUBLE) * b),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    pnorm = sum(v * v for v in probe) ** 0.5
    return F.expr(f"{dot} / (sqrt({_DOT_SELF}) * CAST({pnorm!r} AS DOUBLE))")


@query(
    "q_similarity_topk",
    oracle=f"""
    WITH p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = {_PROBE_ID}),
    scored AS (
      SELECT e.vec_id, CAST(e.label AS BIGINT) AS label,
             round(
               list_aggregate(list_transform(list_zip(e.embedding, p.pe),
                 t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)), 'sum')
               / (sqrt({_SQL_DOT_SELF.replace('embedding', 'e.embedding')})
                  * sqrt(list_aggregate(list_transform(p.pe,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))),
             6) AS cosine
      FROM embeddings e, p
      WHERE {_sql_norm_gate('e.embedding', 'e.vec_id')}
    )
    SELECT vec_id, label, cosine FROM scored
    ORDER BY cosine DESC, vec_id
    LIMIT {_TOPK}
    """,
)
def q_similarity_topk(spark, sf_dir):
    probe = _probe_vector(spark, sf_dir)
    return cosine_topk(load_table(spark, sf_dir, "embeddings"), probe)


def cosine_topk(emb, probe: list[float], k: int = _TOPK):
    """Exact brute-force cosine top-k for any (``vec_id``, ``label``,
    ``embedding``) DataFrame and probe vector — the library entry
    point.  Narrow scan + per-row fold + TakeOrdered(k): no shuffle of
    vectors; at 100 TB each partition returns its local top-k and the
    driver merges k·partitions rows."""
    # cosine is undefined for zero-norm or NULL vectors — both engines
    # exclude them (NULL dot-self fails the > 0 gate too); under ANSI
    # Spark an ungated zero norm is a DIVIDE_BY_ZERO crash
    return (
        _norm_gated(emb)
        .select(
            "vec_id",
            F.col("label").cast("long").alias("label"),
            F.round(_cosine_to_probe(probe), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


# -- q_ann_lsh: random-hyperplane LSH ANN (SQL-oracled) -------------------

_ANN_PLANES = 8


def _plane_weights() -> list[list[float]]:
    """Deterministic ±1 hyperplanes derived from md5(plane, dim) —
    reproducible across runs/engines with no RNG state."""
    planes = []
    for p in range(_ANN_PLANES):
        row = []
        for d in range(_DIM):
            digest = hashlib.md5(f"plane{p}_dim{d}".encode()).digest()
            row.append(1.0 if digest[0] % 2 == 0 else -1.0)
        planes.append(row)
    return planes


def _signature(col: str, planes: list[list[float]]) -> F.Column:
    bits = []
    for p, w in enumerate(planes):
        warr = "array(" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in w) + ")"
        dot = (
            f"aggregate(zip_with({col}, {warr},"
            " (a, b) -> CAST(a AS DOUBLE) * b),"
            " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        bits.append(F.when(F.expr(dot) > 0, F.lit(1 << p)).otherwise(F.lit(0)))
    return sum(bits, F.lit(0)).cast("long")


def _duck_signature(col: str) -> str:
    """DuckDB replica of `_signature`: the ±1 planes are shared
    deterministic literals and the dot is the same sequential fold, so
    the 8-bit signature — and therefore the candidate set — is
    engine-identical.  This is what upgrades the LSH queries from
    rows-only to full-value oracles."""
    terms = []
    for p, w in enumerate(_plane_weights()):
        warr = "[" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in w) + "]"
        dot = (
            f"list_aggregate(list_transform(list_zip({col}, {warr}),"
            " t -> CAST(t[1] AS DOUBLE) * t[2]), 'sum')"
        )
        terms.append(f"CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


def _duck_cosine(e: str, p: str) -> str:
    """DuckDB cosine(e, p) with the same fold order as the Spark HOFs."""
    return (
        f"list_aggregate(list_transform(list_zip({e}, {p}),"
        " t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)), 'sum')"
        f" / (sqrt({_SQL_DOT_SELF.replace('embedding', e)})"
        f" * sqrt(list_aggregate(list_transform({p},"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))"
    )


def _ann_lsh_oracle() -> str:
    return f"""
    WITH p AS (SELECT embedding AS pe FROM embeddings
               WHERE vec_id = {_PROBE_ID}),
    ps AS (SELECT {_duck_signature('pe')} AS psig FROM p),
    sigs AS (SELECT e.vec_id, e.label, e.embedding,
                    {_duck_signature('e.embedding')} AS sig
             FROM embeddings e
             WHERE {_sql_norm_gate('e.embedding', 'e.vec_id')}),
    cand AS (SELECT s.vec_id, s.label, s.embedding FROM sigs s, ps
             WHERE bit_count(xor(s.sig, ps.psig)) <= 1)
    SELECT c.vec_id, CAST(c.label AS BIGINT) AS label,
           round({_duck_cosine('c.embedding', 'p.pe')}, 6) AS cosine
    FROM cand c, p
    ORDER BY cosine DESC, vec_id
    LIMIT {_TOPK}
    """


@query("q_ann_lsh", oracle=_ann_lsh_oracle())
def q_ann_lsh(spark, sf_dir):
    """ANN top-k for the probe: candidates = vectors whose hyperplane
    signature is within Hamming distance 1 of the probe's, re-ranked by
    exact cosine.  Signature computation is per-row (no shuffle); the
    candidate filter is a cheap integer comparison."""
    planes = _plane_weights()
    probe = _probe_vector(spark, sf_dir)
    # probe signature computed in Python with the same ±1 planes
    psig = 0
    for p, w in enumerate(planes):
        if sum(a * b for a, b in zip(probe, w)) > 0:
            psig |= 1 << p
    emb = _norm_gated(load_table(spark, sf_dir, "embeddings"))
    sig = emb.withColumn("sig", _signature("embedding", planes))
    cand = sig.where(
        F.bit_count(F.col("sig").bitwiseXOR(F.lit(psig))) <= 1
    )
    return (
        cand.select(
            "vec_id",
            F.col("label").cast("long").alias("label"),
            F.round(_cosine_to_probe(probe), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(_TOPK)
    )


# -- q_ann_ivf: inverted-file (IVF) ANN (exact+recall oracled) ------------

_IVF_LISTS = 8
#: 3 of 8 lists probed, not 2: with 2, recall sits ON the declared
#: floor (3/10) at tiny corpus scale, where any corpus perturbation
#: reshuffles the hash-ordered training sample and can push one
#: true-neighbor-rich list to probe rank 3 (the hostile-extremes
#: duplicate cluster does exactly that: exact top-10 has four ids in
#: the third-ranked list, recall 2 < floor).  nprobe=3 still prunes
#: 5/8 of all exact-distance work and restores margin; measured
#: recall at nprobe=3: pristine sf0.001 5/10 and
#: sf0.01 6/10, extremes fixture 6/10, nulls fixture 5/10.
_IVF_NPROBE = 3


_IVF_SWEEPS = 2
#: fixed-point scale for deterministic centroid averaging: float32
#: embeddings scaled to exact BIGINTs so per-cluster sums are
#: order-independent (a raw double sum would vary with partition
#: scheduling and make the whole ANN output nondeterministic).
_IVF_FP = 10_000_000
#: coarse-quantizer training sample cap: k-means runs driver-side on a
#: deterministic hash-ordered sample (the FAISS recipe — IVF training
#: needs ~100–1000 vectors per list, never the full corpus), so
#: training cost is CONSTANT in corpus size; only assignment scans.
_IVF_TRAIN_SAMPLE = 16_384


def _with_assignment(spark, emb, cents: list[list[float]]):
    """Attach ``ivf_list`` (nearest-centroid id, 1-based) to every row.

    The centroids ride in as ONE broadcast row holding an
    array<array<double>> — NOT folded in as literals: an 8×64-literal
    argmin expression is ~100 KB of SQL that blows past the codegen
    method limit into interpreted evaluation (measured 20× slower).
    The per-row argmin is then a pair of HOF folds over that tiny
    array column, so assignment is a NARROW projection: no row blowup,
    no shuffle, no re-join (a crossJoin×K + groupBy(vec_id) form
    shuffles K·N rows).

    Ties: ``array_position`` returns the FIRST minimal index, matching
    the (distance, list-id) lexicographic tie-break of a min_by."""
    cdf = local_frame(spark, [[cents]], "cents ARRAY<ARRAY<DOUBLE>>")
    dists = (
        "transform(cents, c -> aggregate(zip_with(embedding, c,"
        " (a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v))"
    )
    return (
        emb.crossJoin(F.broadcast(cdf))
        .withColumn("_d", F.expr(dists))
        .withColumn(
            "ivf_list",
            F.expr("array_position(_d, array_min(_d))").cast("int"),
        )
        .drop("_d", "cents")
    )


_IVF_CACHE: dict[str, list[list[float]]] = {}


def _ivf_centroids(spark, sf_dir) -> list[list[float]]:
    """Deterministic coarse quantizer, trained DRIVER-SIDE on a
    bounded sample: collect the first ``_IVF_TRAIN_SAMPLE`` vectors in
    xxhash64(vec_id) order (seeds = the first ``_IVF_LISTS`` of them),
    then run ``_IVF_SWEEPS`` k-means sweeps in numpy.  This is the
    FAISS recipe — the coarse quantizer needs only ~100–1000 vectors
    per list, so training cost stays CONSTANT as the corpus grows; the
    cluster only ever runs the narrow assignment projection.

    Determinism: sample order is a total order (hash, id); centroid
    means go through ``_IVF_FP`` fixed-point like before; numpy argmin
    ties take the first (lowest) list index, matching the distributed
    assignment's tie-break.

    Memoized per sf_dir (an index build, not a query): repeated ANN
    probes reuse the trained quantizer, as a real vector store would."""
    if sf_dir in _IVF_CACHE:
        return _IVF_CACHE[sf_dir]
    import numpy as np

    # domain gate, not just IS NOT NULL (_NORM2_MAX): a NaN/Inf
    # element in the training sample silently poisons a numpy centroid
    # mean, diverging every downstream assignment (measured: q_ann_ivf
    # value mismatch on a NaN-vector fixture)
    emb = _norm_gated(load_table(spark, sf_dir, "embeddings"))
    rows = (
        emb.orderBy(F.xxhash64("vec_id"), F.asc("vec_id"))
        .limit(_IVF_TRAIN_SAMPLE)
        .select("embedding")
        .collect()
    )
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    # DISTINCT seeds: a duplicate-heavy
    # corpus (boilerplate embeddings) can put identical vectors among
    # the first _IVF_LISTS sample rows — duplicate seeds collapse two
    # lists into one (argmin ties take the lowest index, the higher
    # seed's list starves) and measured recall fell below the floor.
    # Take the first pairwise-distinct vectors in sample order instead
    # (FAISS trains on deduped points for the same reason); identical
    # on corpora whose leading sample vectors are already distinct —
    # every benign float64 corpus.
    seed_idx: list[int] = []
    for i in range(len(X)):
        if len(seed_idx) == _IVF_LISTS:
            break
        if all(not np.array_equal(X[i], X[j]) for j in seed_idx):
            seed_idx.append(i)
    if len(seed_idx) < _IVF_LISTS:  # < K distinct vectors exist at all
        seed_idx += [
            i for i in range(len(X)) if i not in seed_idx
        ][: _IVF_LISTS - len(seed_idx)]
    cents = X[seed_idx].copy()
    for _ in range(_IVF_SWEEPS):
        d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        best = d2.argmin(axis=1)  # ties → lowest list index
        for j in range(_IVF_LISTS):
            m = best == j
            if m.any():  # empty lists keep their centroid
                s = np.rint(X[m] * _IVF_FP).astype(np.int64).sum(axis=0)
                cents[j] = s / int(m.sum()) / _IVF_FP
    out = [[float(v) for v in c] for c in cents]
    _IVF_CACHE[sf_dir] = out
    return out


def ann_ivf_topk(spark, sf_dir):
    """IVF ANN top-k: assign every vector to its nearest of
    ``_IVF_LISTS`` centroids (per-row argmin over a broadcast centroid
    array — zero shuffle), search only the ``_IVF_NPROBE`` lists
    nearest the probe, re-rank exactly.

    At 100 TB the whole query is one narrow scan: assign → integer
    list filter → local top-k merge; the filter prunes
    ~(1 − nprobe/lists) of all exact-distance work, and writing the
    table partitioned by ``ivf_list`` turns it into partition pruning
    (zero I/O for unprobed lists)."""
    cents = _ivf_centroids(spark, sf_dir)
    probe = _probe_vector(spark, sf_dir)

    pdists = [
        sum((a - b) * (a - b) for a, b in zip(probe, c)) for c in cents
    ]
    probe_lists = sorted(
        range(1, _IVF_LISTS + 1), key=lambda i: (pdists[i - 1], i)
    )[:_IVF_NPROBE]

    # cosine rerank is undefined for zero-norm / NULL vectors
    emb = _norm_gated(load_table(spark, sf_dir, "embeddings"))
    cand = _with_assignment(spark, emb, cents).where(
        F.col("ivf_list").isin(probe_lists)
    )
    return (
        cand.select(
            "vec_id",
            F.col("label").cast("long").alias("label"),
            F.round(_cosine_to_probe(probe), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(_TOPK)
    )


_IVF_RECALL_FLOOR = 3


@query(
    "q_ann_ivf",
    oracle=f"""
    WITH p AS (SELECT embedding AS pe FROM embeddings
               WHERE vec_id = {_PROBE_ID}),
    scored AS (
      SELECT e.vec_id,
             round({_duck_cosine('e.embedding', 'p.pe')}, 6) AS cosine
      FROM embeddings e, p
      WHERE {_sql_norm_gate('e.embedding', 'e.vec_id')}
    ),
    topk AS (SELECT vec_id FROM scored
             ORDER BY cosine DESC, vec_id LIMIT {_TOPK})
    SELECT CAST({_PROBE_ID} AS BIGINT) AS probe_id,
           CAST({_TOPK} AS BIGINT) AS k,
           array_to_string(list_sort(list(vec_id)), '|') AS exact_topk,
           TRUE AS ivf_recall_ok
    FROM topk
    """,
)
def q_ann_ivf(spark, sf_dir):
    """Driver-checkable form of :func:`ann_ivf_topk` (that function is
    the ANN operator itself).  The IVF result depends on numpy k-means
    centroids trained driver-side on a bounded sample — deterministic,
    but not SQL-expressible — so the registered query hashes what IS
    cross-engine checkable: the exact brute-force top-k id set, plus
    ``ivf_recall_ok`` asserting the IVF result finds ≥
    ``_IVF_RECALL_FLOOR`` of those ids (measured 3-6/10 across SFs; a
    broken quantizer or assignment drops it to ~0 and flips the bool).
    The oracle recomputes the exact top-k and emits literal TRUE."""
    exact = cosine_topk(
        load_table(spark, sf_dir, "embeddings"),
        _probe_vector(spark, sf_dir),
    ).select("vec_id")
    ivf = ann_ivf_topk(spark, sf_dir).select("vec_id")
    overlap = exact.join(ivf, "vec_id").agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    exact_agg = exact.agg(
        F.concat_ws("|", F.array_sort(F.collect_list("vec_id"))).alias(
            "exact_topk"
        )
    )
    return exact_agg.crossJoin(overlap).select(
        F.lit(_PROBE_ID).cast("long").alias("probe_id"),
        F.lit(_TOPK).cast("long").alias("k"),
        "exact_topk",
        (F.col("n_overlap") >= _IVF_RECALL_FLOOR).alias("ivf_recall_ok"),
    )


# -- q_embed_dup: embedding-cosine near-duplicate pairs (SQL-oracled) -----

_DUP_COS = 0.95


def _blocked_pairs(emb):
    """LSH-blocked candidate pairs with exact cosine: only pairs
    sharing the full 8-bit hyperplane signature are compared — the
    O(n²) comparison never materializes (signature match rate for
    unrelated vectors ≈ 0.5⁸ ≈ 0.4%, and → 1 as cosine → 1)."""
    planes = _plane_weights()
    norm = F.expr(_DOT_SELF)
    # zero-norm / NULL vectors have no cosine: exclude before pairing
    # (ANSI Spark crashes on the 0-norm denominator otherwise)
    emb = _norm_gated(emb)
    sig = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e"),
        F.sqrt(norm).alias("nrm"),
        _signature("embedding", planes).alias("sig"),
    )
    a, b = sig.alias("a"), sig.alias("b")
    dot_ab = (
        "aggregate(zip_with(a.e, b.e, (x, y) -> x * y),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    cos = F.expr(dot_ab) / (F.col("a.nrm") * F.col("b.nrm"))
    return a.join(
        b,
        (F.col("a.sig") == F.col("b.sig"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        F.round(cos, 6).alias("cosine"),
    )


def embed_dup_pairs(emb, threshold: float = _DUP_COS):
    """Embedding near-duplicate pairs (cosine ≥ ``threshold``) — the
    library operator a dedup pipeline composes: LSH blocking, exact
    rerank, thresholded output."""
    return _blocked_pairs(emb).where(F.col("cosine") >= threshold)


@query(
    "q_embed_dup",
    oracle=f"""
    WITH sigs AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
             sqrt({_SQL_DOT_SELF}) AS nrm,
             {_duck_signature('embedding')} AS sig
      FROM embeddings
      WHERE {_sql_norm_gate()}
    ),
    scored AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_aggregate(list_transform(list_zip(a.e, b.e),
                     t -> t[1] * t[2]), 'sum')
                   / (a.nrm * b.nrm), 6) AS cosine
      FROM sigs a JOIN sigs b
        ON a.sig = b.sig AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, cosine FROM scored
    ORDER BY cosine DESC, vec_a, vec_b
    LIMIT 10
    """,
)
def q_embed_dup(spark, sf_dir):
    """Top-10 closest LSH-blocked pairs by exact cosine.

    The thresholded operator is :func:`embed_dup_pairs`; the declared
    query reports the blocking + exact-rerank machinery as a top-k so
    the driver check has rows on ANY corpus — this testdata's
    embeddings are near-orthogonal random vectors (max pairwise cosine
    ≈ 0.51 at every SF), so a fixed 0.95 near-dup threshold matches
    nothing and would verify nothing.  Top-k over blocked pairs is a
    TakeOrdered (per-partition k + merge), never a global sort."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    return (
        _blocked_pairs(emb)
        .orderBy(F.desc("cosine"), F.asc("vec_a"), F.asc("vec_b"))
        .limit(10)
    )


# -- q_embed_quantize: int8 scalar quantization via pandas_udf ------------


@query(
    "q_embed_quantize",
    # full-value oracle: the quantization is deterministic per-row math
    # (floor(x/scale·127 + 0.5) — floor+0.5 instead of round() because
    # numpy rounds half-to-even while DuckDB rounds half-away; the
    # explicit floor gives BOTH engines the identical rule).  The
    # output `scale` is the RAW max|x| (un-guarded); the zero-vector
    # guard applies only inside q8, mirroring the Spark plan.
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    s AS (SELECT vec_id, e,
                 list_max(list_transform(e, x -> abs(x))) AS scale0
          FROM q),
    qq AS (
      SELECT vec_id, e, scale0,
             list_transform(e, x -> least(greatest(floor(
               x / (CASE WHEN scale0 = 0 THEN 1.0 ELSE scale0 END)
               * 127.0 + 0.5), -127.0), 127.0)) AS q8
      FROM s
    )
    SELECT vec_id, CAST(len(q8) AS BIGINT) AS dim,
           (round(scale0, 6) + CAST(0 AS DOUBLE)) AS scale,
           (round(list_max(list_transform(list_zip(e, q8),
                 t -> abs(t[1] - t[2] * scale0 / 127.0))), 6)
             + CAST(0 AS DOUBLE)) AS max_abs_err
    FROM qq ORDER BY vec_id
    """,
)
def q_embed_quantize(spark, sf_dir):
    """Symmetric int8 quantization of each embedding (q = ⌊127·x /
    max|x| + 0.5⌋, clipped), the storage trick that cuts an ANN index
    4× at 100 TB.

    This is the engine's one *scalar* ``@pandas_udf``: numpy vectorizes
    over whole Arrow batches (never per-row Python), and the UDF is the
    right tool because the output is a transformed ARRAY column, which
    pure SQL HOFs could express but NOT with numpy's fused math.  The
    reconstruction error column is computed JVM-side to show the two
    paths composing in one plan.  floor(x+0.5) rather than np.round:
    identical halfway-rounding on both engines (see oracle comment),
    which is what makes the UDF output hash-checkable."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<tinyint>")
    def quantize(col):
        import pandas as pd

        if len(col) == 0:
            return pd.Series([], dtype=object)
        # fixed 64-dim vectors → one 2-D matrix per Arrow batch; the
        # whole batch quantizes in three fused numpy ops (a per-row
        # Python loop here measured ~5× slower end-to-end)
        mat = np.stack(col.to_numpy()).astype(np.float64)
        scale = np.abs(mat).max(axis=1)
        scale[scale == 0.0] = 1.0
        q = np.clip(
            np.floor(mat / scale[:, None] * 127.0 + 0.5), -127, 127
        ).astype(np.int8)
        return pd.Series(list(q))

    emb = spread(load_table(spark, sf_dir, "embeddings")).where(
        # NULL embeddings have nothing to quantize and crash the Arrow
        # worker (np.stack over None); both engines drop them
        F.col("embedding").isNotNull()
    )
    q = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e"),
        quantize("embedding").alias("q8"),
    )
    # max |x| and max reconstruction error per row, JVM-side HOFs.
    # scale is hoisted into its OWN column first: HOF lambdas are
    # interpreted, so inlining it textually inside the zip_with would
    # re-evaluate the 64-element array_max once PER ELEMENT (64×64
    # evals/row — measured 4× slower end-to-end).
    q = q.withColumn("scale", F.expr("array_max(transform(e, x -> abs(x)))"))
    err = (
        "array_max(zip_with(e, q8, (x, qv) ->"
        " abs(x - CAST(qv AS DOUBLE) * scale / CAST(127 AS DOUBLE))))"
    )
    return q.select(
        "vec_id",
        F.size("q8").cast("long").alias("dim"),
        # + 0.0 = the signed-zero guard: DuckDB abs(-0.0) returns
        # -0.0 (Spark returns +0.0), so an all-negative-zero vector
        # would differ by sign bit without it
        (F.round(F.col("scale"), 6) + F.lit(0.0)).alias("scale"),
        (F.round(F.expr(err), 6) + F.lit(0.0)).alias("max_abs_err"),
    )  # no trailing orderBy (as in the q_mm_* queries): the
    # driver hash is order-free, and the sort's range-boundary
    # sampling pass re-ran the Arrow quantization stage end to end


# -- q_embed_centroid: per-label mean embedding (SQL-oracled) -------------

#: fixed-point scale for exact centroid sums (same rationale as
#: _IVF_FP): float32 elements scaled to BIGINTs so per-label sums are
#: partition-order-independent and bit-identical across engines.
_CENTROID_FP = 10_000_000


def _centroid_sums(emb):
    """Per-label exact ×1e7 fixed-point component sums + count — the
    ONE implementation of the centroid statistic, shared by
    q_embed_centroid (scalarized report) and semdedup's
    `_centroid_array` (array form); a fixed-point or rounding change
    lands in both consumers or neither."""
    sums = [
        F.sum(
            F.round(
                F.element_at("embedding", i + 1).cast("double")
                * _CENTROID_FP,
                0,
            ).cast("long")
        ).alias(f"_s{i}")
        for i in range(_DIM)
    ]
    # domain gate (_NORM2_MAX): a NaN/Inf element would hard-error
    # the ANSI fixed-point snap above; out-of-domain vectors carry no
    # centroid information and are excluded like NULLs on BOTH engines
    return _norm_gated(emb).groupBy(
        F.col("label").cast("long").alias("label")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_vecs"), *sums)


def _duck_centroid_sql() -> str:
    # DECIMAL(12,6) string form on BOTH engines: double→string casts
    # disagree on small values (Spark "−5.29E-4" vs DuckDB
    # "-0.000529"); decimals render fixed-width everywhere.
    comps = ", ".join(
        f"CAST(round(CAST(sum(CAST(round(CAST(embedding[{i + 1}] AS DOUBLE)"
        f" * {_CENTROID_FP}) AS BIGINT)) AS DOUBLE)"
        f" / count(*) / {_CENTROID_FP}, 6) AS DECIMAL(12,6))"
        for i in range(_DIM)
    )
    return f"""
    SELECT CAST(label AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           concat_ws('|', {comps}) AS centroid
    FROM embeddings WHERE {_sql_norm_gate()} GROUP BY label
    """


@query("q_embed_centroid", oracle=_duck_centroid_sql())
def q_embed_centroid(spark, sf_dir):
    """Per-label mean embedding — the class centroid every clustering /
    semantic-dedup / nearest-class-baseline pipeline needs.

    Scale shape: 64 per-element sums as AGGREGATE COLUMNS over one
    scan — map-side partial aggregation means the exchange carries
    (labels × 64) longs, not vectors.  (The explode-to-(label, pos)
    alternative shuffles 64·N rows — never do that at 100 TB.)  Sums
    are exact ×1e7 fixed-point (float sums would be partition-order-
    dependent); the output centroid is scalarized '|'-joined rounded
    components, hashable by the driver."""
    # NO spread() by measurement (A/B min-of-3 at sf0.1: identity
    # 1.61 s vs spread 1.89 s): the 64-column codegen sums are cheaper
    # than round-robin-exchanging the full vectors — unlike the
    # Python-codec/explode stages where spread() won (q_mm_png,
    # q_char_entropy)
    agg = _centroid_sums(load_table(spark, sf_dir, "embeddings"))
    comps = [
        F.round(
            F.col(f"_s{i}").cast("double")
            / F.col("n_vecs")
            / _CENTROID_FP,
            6,
        ).cast("decimal(12,6)")  # fixed-width string form (see oracle)
        for i in range(_DIM)
    ]
    return agg.select(
        "label", "n_vecs", F.concat_ws("|", *comps).alias("centroid")
    )


# -- q_similarity_batch: top-k for a batch of probes (SQL-oracled) --------

_BATCH_PROBE_IDS = (0, 1, 2)
_BATCH_K = 5


@query(
    "q_similarity_batch",
    oracle=f"""
    WITH p AS (
      SELECT vec_id AS probe_id, embedding AS pe FROM embeddings
      WHERE vec_id IN {_BATCH_PROBE_IDS}
    ),
    scored AS (
      SELECT p.probe_id, e.vec_id,
             round(
               list_aggregate(list_transform(list_zip(e.embedding, p.pe),
                 t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)), 'sum')
               / (sqrt({_SQL_DOT_SELF.replace('embedding', 'e.embedding')})
                  * sqrt(list_aggregate(list_transform(p.pe,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))),
             6) AS cosine,
             row_number() OVER (PARTITION BY p.probe_id
                                ORDER BY round(
               list_aggregate(list_transform(list_zip(e.embedding, p.pe),
                 t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)), 'sum')
               / (sqrt({_SQL_DOT_SELF.replace('embedding', 'e.embedding')})
                  * sqrt(list_aggregate(list_transform(p.pe,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))),
             6) DESC, e.vec_id) AS rn
      FROM embeddings e CROSS JOIN p
      WHERE {_sql_norm_gate('e.embedding', 'e.vec_id')}
        AND {_sql_norm_gate('p.pe', None)}
    )
    SELECT probe_id, vec_id, cosine FROM scored WHERE rn <= {_BATCH_K}
    """,
)
def q_similarity_batch(spark, sf_dir):
    """Top-k neighbors for a BATCH of probes in one plan: broadcast the
    probe set against the corpus, score per (probe, vector), take k per
    probe with a ranking window — the serving-time shape (queries
    arrive in batches; one scan amortizes over all of them) where the
    single-probe form would rescan the corpus per query.  Ranking on
    the ROUNDED score keeps cross-engine ties identical."""
    from pyspark.sql import Window

    # zero-norm / NULL vectors carry no cosine: gate BOTH the corpus
    # and the probe set (ANSI Spark would crash on the 0 denominator)
    emb = _norm_gated(load_table(spark, sf_dir, "embeddings"))
    probes = emb.where(F.col("vec_id").isin(list(_BATCH_PROBE_IDS))).select(
        F.col("vec_id").alias("probe_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("pe"),
    )
    dot = (
        "aggregate(zip_with(embedding, pe, (a, b) -> CAST(a AS DOUBLE) * b),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    pnorm = (
        "sqrt(aggregate(transform(pe, x -> x * x),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v))"
    )
    cos = F.round(
        F.expr(f"{dot} / (sqrt({_DOT_SELF}) * {pnorm})"), 6
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return (
        emb.crossJoin(F.broadcast(probes))
        .select("probe_id", "vec_id", cos.alias("cosine"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _BATCH_K)
        .select("probe_id", "vec_id", "cosine")
    )


# -- q_semdedup: cluster-blocked semantic dedup ---------------------------
#
# SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
# embedding space, find near-duplicate pairs WITHIN each cluster, and
# among duplicates keep the item FARTHEST from the cluster centroid
# (lowest centroid-cosine) — dropping the redundant interior points
# preserves more semantic diversity than min-id survivorship.  Here
# the clusters are the data's label groups; within a cluster, pairs
# are additionally LSH-signature-blocked so the per-cluster O(n²)
# never materializes (the same hyperplane literals as q_ann_lsh, so
# the whole decision — blocking, pair cosine, centroid rule — replays
# in the oracle).


def _centroid_array(emb):
    """Per-label exact mean embedding as an ARRAY column (the shared
    `_centroid_sums` fixed-point statistic — partition-order-
    independent, so the centroid-cosine tie-breaks are deterministic).
    Output is labels-sized: always broadcastable."""
    agg = _centroid_sums(emb)
    comps = [
        (F.col(f"_s{i}").cast("double") / F.col("n_vecs") / _CENTROID_FP)
        for i in range(_DIM)
    ]
    return agg.select("label", F.array(*comps).alias("cent"))


def semdedup_pairs(emb):
    """Within-cluster near-dup candidate pairs with the SemDeDup drop
    decision attached: for each (label, signature)-blocked pair, keep
    the member with the LOWER centroid-cosine (ties keep the lower
    vec_id, which is side `a` of the `<` join).  Comparisons use the
    6-dp ROUNDED centroid-cosines so the decision is identical across
    engines.

    Scale shape: one scan aggregates centroids, one scan builds the
    per-row (signature, norm, centroid-cosine) projection, which is
    MATERIALIZED (``local_checkpoint`` — without the cut the self-join
    duplicates the whole scan ⋈ broadcast(centroid) subtree on each
    side: 4 corpus scans instead of 2); the (label, sig)
    self-join then reads only the checkpointed columns.  Candidate
    volume is governed by the LSH match rate exactly as in
    q_embed_dup, and vectors shuffle only within blocks."""
    cent = _centroid_array(emb)
    # zero-norm / NULL vectors have no centroid- or pair-cosine: gate
    # them out before any division (ANSI Spark crashes otherwise)
    emb = _norm_gated(emb)
    base = (
        emb.select(
            "vec_id",
            F.col("label").cast("long").alias("label"),
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias(
                "e"
            ),
            F.sqrt(F.expr(_DOT_SELF)).alias("nrm"),
            _signature("embedding", _plane_weights()).alias("sig"),
        )
        .join(F.broadcast(cent), "label")
    )
    cdot = (
        "aggregate(zip_with(e, cent, (x, y) -> x * y),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    cself = (
        "aggregate(transform(cent, x -> x * x),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    cent_cos = F.round(
        F.expr(cdot) / (F.col("nrm") * F.expr(f"sqrt({cself})")), 6
    )
    base = local_checkpoint(
        base.select("vec_id", "label", "e", "nrm", "sig",
                    cent_cos.alias("cent_cos"))
    )
    a, b = base.alias("a"), base.alias("b")
    dot_ab = (
        "aggregate(zip_with(a.e, b.e, (x, y) -> x * y),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    pair_cos = F.round(F.expr(dot_ab) / (F.col("a.nrm") * F.col("b.nrm")), 6)
    keep_is_a = F.col("a.cent_cos") <= F.col("b.cent_cos")

    def pick(cond, x, y):
        return F.when(cond, x).otherwise(y)

    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.label").alias("label"),
            pick(keep_is_a, F.col("a.vec_id"), F.col("b.vec_id")).alias(
                "vec_keep"
            ),
            pick(keep_is_a, F.col("b.vec_id"), F.col("a.vec_id")).alias(
                "vec_drop"
            ),
            pair_cos.alias("pair_cosine"),
            pick(
                keep_is_a, F.col("a.cent_cos"), F.col("b.cent_cos")
            ).alias("keep_cent_cos"),
            pick(
                keep_is_a, F.col("b.cent_cos"), F.col("a.cent_cos")
            ).alias("drop_cent_cos"),
        )
    )


def semdedup_drops(emb, threshold: float = _DUP_COS):
    """The thresholded delete-list: distinct vec_ids dropped by the
    SemDeDup rule at ``cosine >= threshold`` — what a pipeline
    anti-joins against the corpus."""
    return (
        semdedup_pairs(emb)
        .where(F.col("pair_cosine") >= threshold)
        .select("vec_drop")
        .distinct()
    )


def _duck_semdedup_sql() -> str:
    comps = ", ".join(
        f"CAST(sum(CAST(round(CAST(embedding[{i + 1}] AS DOUBLE)"
        f" * {_CENTROID_FP}) AS BIGINT)) AS DOUBLE)"
        f" / count(*) / {_CENTROID_FP}"
        for i in range(_DIM)
    )
    return f"""
    WITH cent AS (
      SELECT CAST(label AS BIGINT) AS label, [{comps}] AS cent
      FROM embeddings WHERE {_sql_norm_gate()} GROUP BY label
    ),
    base AS (
      SELECT vec_id, CAST(label AS BIGINT) AS label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
             sqrt({_SQL_DOT_SELF}) AS nrm,
             {_duck_signature('embedding')} AS sig
      FROM embeddings
      WHERE {_sql_norm_gate()}
    ),
    wc AS (
      SELECT b.*,
             round(list_aggregate(list_transform(list_zip(b.e, c.cent),
                     t -> t[1] * t[2]), 'sum')
                   / (b.nrm * sqrt(list_aggregate(list_transform(c.cent,
                       x -> x * x), 'sum'))), 6) AS cent_cos
      FROM base b JOIN cent c USING (label)
    )
    SELECT a.label,
           CASE WHEN a.cent_cos <= b.cent_cos
                THEN a.vec_id ELSE b.vec_id END AS vec_keep,
           CASE WHEN a.cent_cos <= b.cent_cos
                THEN b.vec_id ELSE a.vec_id END AS vec_drop,
           round(list_aggregate(list_transform(list_zip(a.e, b.e),
                   t -> t[1] * t[2]), 'sum') / (a.nrm * b.nrm), 6)
             AS pair_cosine,
           CASE WHEN a.cent_cos <= b.cent_cos
                THEN a.cent_cos ELSE b.cent_cos END AS keep_cent_cos,
           CASE WHEN a.cent_cos <= b.cent_cos
                THEN b.cent_cos ELSE a.cent_cos END AS drop_cent_cos
    FROM wc a JOIN wc b
      ON a.label = b.label AND a.sig = b.sig AND a.vec_id < b.vec_id
    ORDER BY pair_cosine DESC, vec_keep, vec_drop
    LIMIT 10
    """


@query("q_semdedup", oracle=_duck_semdedup_sql())
def q_semdedup(spark, sf_dir):
    """Top-10 within-cluster candidate pairs with the SemDeDup drop
    decision (see :func:`semdedup_pairs`; the thresholded delete-list
    operator is :func:`semdedup_drops`).  As with q_embed_dup, the
    declared query is the top-k form so the driver check has rows on
    this corpus's near-orthogonal random embeddings; top-k over
    blocked pairs is a TakeOrdered, never a global sort."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    return (
        semdedup_pairs(emb)
        .orderBy(
            F.desc("pair_cosine"), F.asc("vec_keep"), F.asc("vec_drop")
        )
        .limit(10)
    )


# -- q_ann_pq: product-quantization ANN (exact+recall oracled) ------------

_PQ_M = 8          # subspaces (64-dim → 8 sub-vectors of 8)
_PQ_K = 16         # codes per subspace (4-bit codes)
_PQ_SUB = 8        # dims per subspace
_PQ_SHORTLIST = 100  # ADC shortlist size ahead of the exact rerank


_PQ_CACHE: dict[str, list[list[list[float]]]] = {}


def _pq_codebooks(spark, sf_dir) -> list[list[list[float]]]:
    """Per-subspace codebooks (``_PQ_M`` × ``_PQ_K`` × ``_PQ_SUB``),
    trained DRIVER-SIDE on the same bounded xxhash-ordered sample as
    the IVF quantizer — the FAISS PQ recipe: sub-quantizers need a few
    hundred vectors each, so training cost is CONSTANT in corpus size.
    Determinism mirrors ``_ivf_centroids``: total-ordered sample,
    seeds = first ``_PQ_K`` sub-vectors, argmin ties → lowest code,
    fixed-point means."""
    if sf_dir in _PQ_CACHE:
        return _PQ_CACHE[sf_dir]
    import numpy as np

    # domain gate, not just IS NOT NULL (_NORM2_MAX): a NaN/Inf
    # element in the training sample silently poisons a numpy centroid
    # mean, diverging every downstream assignment (measured: q_ann_ivf
    # value mismatch on a NaN-vector fixture)
    emb = _norm_gated(load_table(spark, sf_dir, "embeddings"))
    rows = (
        emb.orderBy(F.xxhash64("vec_id"), F.asc("vec_id"))
        .limit(_IVF_TRAIN_SAMPLE)
        .select("embedding")
        .collect()
    )
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    X = X.reshape(len(rows), _PQ_M, _PQ_SUB)
    books = []
    for j in range(_PQ_M):
        S = X[:, j, :]
        cents = S[: _PQ_K].copy()
        for _ in range(_IVF_SWEEPS):
            d2 = ((S[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            best = d2.argmin(axis=1)  # ties → lowest code
            for c in range(_PQ_K):
                m = best == c
                if m.any():  # empty codes keep their centroid
                    s = np.rint(S[m] * _IVF_FP).astype(np.int64).sum(
                        axis=0
                    )
                    cents[c] = s / int(m.sum()) / _IVF_FP
        books.append([[float(v) for v in c] for c in cents])
    _PQ_CACHE[sf_dir] = books
    return books


def ann_pq_topk(spark, sf_dir):
    """PQ ANN top-k, the full production pipeline: encode every vector
    as ``_PQ_M`` 4-bit codes (per-subspace argmin against a broadcast
    codebook — one narrow projection, zero shuffle, no row blowup),
    SHORTLIST the ``_PQ_SHORTLIST`` best by the asymmetric-distance
    (ADC) estimate — the probe's per-(subspace, code) distances
    precomputed driver-side as an ``_PQ_M × _PQ_K`` lookup table, so
    the per-row estimate is ``_PQ_M`` table lookups instead of a
    64-dim float loop — then RERANK the shortlist by exact L2 (the
    ADC estimate carries the full quantization error, so ranking the
    final k on it directly is the classic PQ recall trap; measured
    recall@10 across sf0.001/0.01/0.1: 3/5/1 raw ADC vs 8/9/6 after
    rerank).

    This is the memory-bound ANN regime IVF doesn't cover: at 100 TB
    the stored index is 8 BYTES per vector (codes) instead of 256
    (float32), the ADC pass scans codes only, and exact vectors are
    fetched for just the shortlist.  The same broadcast-codebook/
    broadcast-LUT shape composes under an IVF list filter for IVF-PQ.
    Codebooks ride in ONE broadcast row (not folded literals — same
    codegen-limit rationale as ``_with_assignment``)."""
    books = _pq_codebooks(spark, sf_dir)
    probe = _probe_vector(spark, sf_dir)

    lut = [
        [
            sum(
                (probe[j * _PQ_SUB + d] - books[j][c][d]) ** 2
                for d in range(_PQ_SUB)
            )
            for c in range(_PQ_K)
        ]
        for j in range(_PQ_M)
    ]
    cdf = local_frame(
        spark, [[books], [lut]],
        "books ARRAY<ARRAY<ARRAY<DOUBLE>>>, lut ARRAY<ARRAY<DOUBLE>>",
    )
    sub = (
        f"slice(embedding, j * {_PQ_SUB} + 1, {_PQ_SUB})"
    )
    dists = (
        f"transform(sequence(0, {_PQ_M - 1}), j ->"
        " transform(element_at(books, j + 1), c ->"
        f" aggregate(zip_with({sub}, c,"
        " (a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)))"
    )
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()  # NULL codes poison the ADC order
    )
    shortlist = (
        emb.crossJoin(F.broadcast(cdf))
        .withColumn("_d", F.expr(dists))
        .withColumn(
            "codes",
            F.expr("transform(_d, d -> array_position(d, array_min(d)))"),
        )
        .withColumn(
            "est_d2",
            F.expr(
                "aggregate(zip_with(codes, lut,"
                " (c, l) -> element_at(l, CAST(c AS INT))),"
                " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
            ),
        )
        .select("vec_id", "embedding", "est_d2")
        .orderBy(F.asc("est_d2"), F.asc("vec_id"))
        .limit(_PQ_SHORTLIST)
    )
    parr = "array(" + ", ".join(
        f"CAST({v!r} AS DOUBLE)" for v in probe
    ) + ")"
    exact_d2 = (
        f"aggregate(zip_with(embedding, {parr},"
        " (a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return (
        shortlist.select(
            "vec_id", F.round(F.expr(exact_d2), 6).alias("d2")
        )
        .orderBy(F.asc("d2"), F.asc("vec_id"))
        .limit(_TOPK)
    )


_PQ_RECALL_FLOOR = 3

_DUCK_L2 = (
    "list_aggregate(list_transform(list_zip({e}, {p}),"
    " t -> (CAST(t[1] AS DOUBLE) - CAST(t[2] AS DOUBLE))"
    " * (CAST(t[1] AS DOUBLE) - CAST(t[2] AS DOUBLE))), 'sum')"
)


@query(
    "q_ann_pq",
    oracle=f"""
    WITH p AS (SELECT embedding AS pe FROM embeddings
               WHERE vec_id = {_PROBE_ID}),
    scored AS (
      SELECT e.vec_id,
             round({_DUCK_L2.format(e='e.embedding', p='p.pe')}, 6) AS d2
      FROM embeddings e, p
      WHERE e.embedding IS NOT NULL
    ),
    topk AS (SELECT vec_id FROM scored
             ORDER BY d2 ASC, vec_id LIMIT {_TOPK})
    SELECT CAST({_PROBE_ID} AS BIGINT) AS probe_id,
           CAST({_TOPK} AS BIGINT) AS k,
           array_to_string(list_sort(list(vec_id)), '|') AS exact_topk,
           TRUE AS pq_recall_ok
    FROM topk
    """,
)
def q_ann_pq(spark, sf_dir):
    """Driver-checkable form of :func:`ann_pq_topk` (the ANN operator
    itself), mirroring q_ann_ivf's contract: the PQ result depends on
    numpy-trained codebooks — deterministic, not SQL-expressible — so
    the registered query hashes the exact brute-force L2 top-k id set
    (PQ's ADC estimates L2, so L2 is the honest recall target, unlike
    the cosine-reranking LSH/IVF paths) plus ``pq_recall_ok``
    asserting the ADC top-k finds ≥ ``_PQ_RECALL_FLOOR`` of those ids
    — a broken codebook, encoder, or LUT drops it to ~0 and flips the
    bool.  The oracle recomputes the exact L2 top-k and emits literal
    TRUE.  Driver-mandated surface (SURVEY §2.4)."""
    emb = load_table(spark, sf_dir, "embeddings").where(
        # L2 of a NULL embedding is NULL, and the engines order NULLs
        # oppositely at the top-k boundary
        F.col("embedding").isNotNull()
    )
    probe = _probe_vector(spark, sf_dir)
    parr = "array(" + ", ".join(
        f"CAST({v!r} AS DOUBLE)" for v in probe
    ) + ")"
    d2 = (
        f"aggregate(zip_with(embedding, {parr},"
        " (a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    exact = (
        emb.select("vec_id", F.round(F.expr(d2), 6).alias("d2"))
        .orderBy(F.asc("d2"), F.asc("vec_id"))
        .limit(_TOPK)
        .select("vec_id")
    )
    pq = ann_pq_topk(spark, sf_dir).select("vec_id")
    overlap = exact.join(pq, "vec_id").agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    exact_agg = exact.agg(
        F.concat_ws("|", F.array_sort(F.collect_list("vec_id"))).alias(
            "exact_topk"
        )
    )
    return exact_agg.crossJoin(overlap).select(
        F.lit(_PROBE_ID).cast("long").alias("probe_id"),
        F.lit(_TOPK).cast("long").alias("k"),
        "exact_topk",
        (F.col("n_overlap") >= _PQ_RECALL_FLOOR).alias("pq_recall_ok"),
    )


# -- q_embed_covariance: exact feature covariance (the PCA reduce) --------

#: per-row single elements in integer 1e-6 units (for the mean vector)
_ELEM_U = (
    "transform(embedding, (x, i) -> struct(CAST(i AS BIGINT) AS i,"
    " CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT) AS x_u))"
)

#: shared covariance text over the exact integers:
#: cov = E[xy] − E[x]E[y], every double derived from the same BIGINTs
#: by the same expression → bit-equal before round(6).  The trailing
#: `+ CAST(0 AS DOUBLE)` is the signed-zero guard: for cells that
#: round to zero (cell i=5 j=9 of the driver corpus), Spark's
#: BigDecimal HALF_UP round emits +0.0 while DuckDB's round keeps
#: -0.0 — equal values, different bits, and the driver hash is
#: bit-sensitive.  IEEE `-0.0 + 0.0 = +0.0` canonicalizes both
#: engines and is a no-op for every other value.
_COV_EXPR = (
    "(round(CAST(sxy AS DOUBLE) / 1000000000.0 / n"
    " - (CAST(sxi AS DOUBLE) / 1000000.0 / n)"
    " * (CAST(sxj AS DOUBLE) / 1000000.0 / n), 6)"
    " + CAST(0 AS DOUBLE))"
)


@query(
    "q_embed_covariance",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, i,
             CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1000000, 0)
                  AS BIGINT) AS x_u,
             CAST(embedding[i + 1] AS DOUBLE) AS xd
      FROM embeddings,
           UNNEST(range(0, len(embedding))) AS t(i)
      WHERE {_sql_norm_gate()}
    ),
    sxy AS (
      SELECT a.i AS i, b.i AS j,
             sum(CAST(round(a.xd * b.xd * 1000000000, 0) AS BIGINT)) AS sxy
      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY 1, 2
    ),
    m AS (
      SELECT i, CAST(sum(x_u) AS BIGINT) AS sx,
             CAST(count(*) AS BIGINT) AS n
      FROM x GROUP BY i
    )
    SELECT s.i, s.j,
           {_COV_EXPR.replace('sxi', 'mi.sx').replace('sxj', 'mj.sx')
                     .replace(' n', ' mi.n')} AS cov
    FROM sxy s
    JOIN m mi ON s.i = mi.i
    JOIN m mj ON s.j = mj.i
    """,
)
def q_embed_covariance(spark, sf_dir):
    """Exact 64×64 feature-covariance matrix (upper triangle incl.
    diagonal) over the embedding corpus — the distributed reduce of
    PCA / whitening: everything after this (eigendecomposition of a
    64×64 matrix) is driver-side numpy by design, exactly how Spark
    MLlib's own PCA stages it (RowMatrix.computeCovariance → local
    Breeze eig).  The query body is :func:`embed_covariance` bound to
    the driver's ``embeddings`` table.

    Spark-first plan with NO self-join and NO d×-row shuffle: the
    per-row upper-tri products are summed per Arrow batch
    (:func:`_cov_sxy_arrow`), so the exchange carries at most 2 080
    partial sums per batch regardless of row count; the (i, j) labels
    rejoin from a broadcast dim built join-free (range × sequence
    explode) AFTER the aggregate; the mean vector is a map-side
    combined aggregate over single elements (64 keys).  Per-element
    snapping to integer units before the sum makes every cell
    bit-exact cross-engine AND order-free, so the plan is
    shuffle-minimal without a determinism tax; network is
    O(d² × batches).  The oracle replays via a positional self-join —
    same integers, different (test-scale-only) plan.
    Driver-mandated surface (SURVEY §2.4); no Main.scala
    counterpart."""
    return embed_covariance(spark, load_table(spark, sf_dir, "embeddings"))


def embed_covariance(spark, emb):
    """Exact feature covariance (i, j, cov) over any (…,
    ``embedding``) frame — the library entry point of
    ``q_embed_covariance``.

    Rows outside the family's vector domain (:data:`_NORM2_MAX`) are
    excluded like NULLs on both engines — the oracle ``x`` CTE
    carries the same predicate — because a NaN/Inf element would
    hard-error the ANSI per-row product snaps.  The ragged-width
    refusal runs on the gated frame, so wrong-width FINITE rows stay
    loud."""
    emb = _norm_gated(emb)
    return _cov_assemble(spark, emb, _cov_dim(emb), _cov_sxy_arrow(emb))


def _cov_sxy_arrow(emb):
    """Arrow/numpy product partials: each batch sums its rows' 2 080
    upper-tri products (snapped to integer 1e-9 units) in int64 — the
    stage-1 combine, headroom |p| ≤ 5e12 × 10⁴ rows/batch ≪ 2⁶³ — and
    a DECIMAL(38,0) reduce sums the per-batch partials, so the decimal
    arithmetic never touches the per-row work.  DuckDB's BIGINT sums
    widen to HUGEINT natively, and both engines widen to the identical
    double inside :data:`_COV_EXPR`.  numpy does the products because
    the JVM lambda interpreter costs ~330 ns per product, and there
    are d²/2 of them per row.

    The batch fn is a ``<locals>`` closure ON PURPOSE (the
    multimodal.py module-docstring rule): cloudpickle serializes
    locals BY VALUE, while a module-level fn ships as an import
    reference that a worker under a neutral-sys.path driver (the
    external driver imports ``__spark_entry__`` by path) cannot
    resolve, and dies with ModuleNotFoundError.

    The snap reproduces Spark's ``round(x, 0)`` (BigDecimal HALF_UP)
    EXACTLY: ``a = |p|`` and ``a - floor(a)`` are both exact doubles
    for |p| < 2⁵³, so ``floor(|p|) + (frac ≥ 0.5)`` with the sign
    reapplied is the true round-half-away-from-zero of the double's
    exact value — no ``p + 0.5`` representability caveat, no numpy
    half-even.  The oracle's ``round(a.xd * b.xd * 1000000000, 0)`` is
    the same snap, so every cell sum agrees bit-for-bit."""

    def partials(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            n, d = X.shape
            iu = np.triu_indices(d)
            acc = np.zeros(len(iu[0]), dtype=np.int64)
            for lo in range(0, n, 512):  # bound the n×d² intermediate
                c = X[lo : lo + 512]
                p = (c[:, :, None] * c[:, None, :])[:, iu[0], iu[1]] * 1e9
                a = np.abs(p)
                ra = np.floor(a)
                o = (ra + (a - ra >= 0.5)).astype(np.int64)
                acc += np.where(p < 0, -o, o).sum(axis=0)
            yield pd.DataFrame(
                {"pos": np.arange(len(acc), dtype=np.int32), "ps": acc}
            )

    return (
        emb.select("embedding")
        .mapInPandas(partials, "pos INT, ps LONG")
        .groupBy("pos")
        .agg(F.sum(F.col("ps").cast("decimal(38,0)")).alias("sxy"))
    )


def _cov_dim(emb) -> int:
    """Corpus-wide embedding width with a loud ragged-width refusal —
    ONE tiny aggregate job.

    Dimension discovery MUST be corpus-wide, not head(1): a single
    off-width vector would otherwise emit partials laid out for the
    wrong triangle and sum into wrong cells with no error."""
    bounds = emb.agg(
        F.min(F.size("embedding")).alias("mn"),
        F.max(F.size("embedding")).alias("mx"),
    ).first()
    d = bounds["mn"] if bounds["mn"] is not None else 0
    if d != (bounds["mx"] if bounds["mx"] is not None else 0):
        raise ValueError(
            f"ragged embedding widths: {bounds['mn']}..{bounds['mx']}"
        )
    return d


def _cov_assemble(spark, emb, d: int, sxy_pos):
    """Back half of the covariance: label the flat upper-tri cell sums
    (``pos``, ``sxy`` DECIMAL) with (i, j) from a broadcast dim, join
    the exact mean sums, and evaluate :data:`_COV_EXPR` — the same
    integers the oracle sums, so the same doubles come out."""
    # row-major upper-tri cell ids: pos(i, j) = i·d − i(i−1)/2 + (j−i)
    cells = (
        spark.range(d)
        .select(
            F.col("id").alias("i"),
            F.explode(
                F.sequence(F.col("id"), F.lit(max(d - 1, 0)).cast("long"))
            ).alias("j"),
        )
        .select(
            (
                F.col("i") * d
                - (F.col("i") * (F.col("i") - 1)) / 2
                + (F.col("j") - F.col("i"))
            )
            .cast("int")
            .alias("pos"),
            "i",
            "j",
        )
    )
    sxy = sxy_pos.join(F.broadcast(cells), "pos")
    m = (
        emb.select(F.explode(F.expr(_ELEM_U)).alias("e"))
        .select("e.i", "e.x_u")
        .groupBy("i")
        .agg(
            F.sum("x_u").cast("long").alias("sx"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    mi = m.select(
        F.col("i").alias("mi_i"), F.col("sx").alias("sxi"), "n"
    )
    mj = m.select(F.col("i").alias("mj_i"), F.col("sx").alias("sxj"))
    return (
        sxy.join(F.broadcast(mi), sxy.i == mi.mi_i)
        .join(F.broadcast(mj), sxy.j == mj.mj_i)
        .select("i", "j", F.expr(_COV_EXPR).alias("cov"))
    )
