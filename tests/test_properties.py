"""Property tests (SURVEY.md §5.2): semantic invariants the oracle
comparison can't express."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ema_bigdata_spark import registry
from ema_bigdata_spark.sources.tables import load_table

registry.load_all()


def half_up(x: float, nd: int = 0) -> float:
    """SQL-style ROUND (half away from zero) for Python-reference
    recomputes — ``round()``/``np.rint`` bank at .5 ties and can
    disagree with both engines in the last rounded digit."""
    import math

    m = 10**nd
    return math.copysign(math.floor(abs(x) * m + 0.5), x) / m


def test_h60_cross_engine_parity(spark):
    """The md5-60bit hash template that buys the MinHash/SimHash family
    its full-value oracle must agree bit-for-bit between Spark and
    DuckDB on representative strings (ascii, multi-word, empty,
    non-ascii, long)."""
    import duckdb

    from ema_bigdata_spark.operators.dedup import _DUCK_H60, _SPARK_H60

    words = ["hello", "world foo", "", "héllo wörld", "a b c", "x" * 500]
    sdf = spark.createDataFrame([(w,) for w in words], "s STRING")
    svals = [
        r.h
        for r in sdf.selectExpr(
            _SPARK_H60.format(x="s") + " AS h"
        ).collect()
    ]
    duck = duckdb.connect()
    dvals = [
        duck.execute(
            "SELECT " + _DUCK_H60.format(x="?"), [w]
        ).fetchone()[0]
        for w in words
    ]
    assert svals == dvals


def test_gamma_rows_sum_to_one(spark, sf_dir):
    """Textbook per-row normalization: γ_0+γ_1+γ_2 = 1 per row (the
    reference's global denominator breaks this — SURVEY.md §2.3 #3)."""
    df = registry.QUERIES["q_gamma_fixed"](spark, sf_dir)
    bad = df.where(
        F.abs(F.col("g0") + F.col("g1") + F.col("g2") - 1.0) > 2e-6
    ).count()
    assert bad == 0


def test_aggregate_repartition_invariant(spark, sf_dir):
    """Exact fixed-point aggregation is partitioning-independent."""
    from ema_bigdata_spark.functions.parity import avg_fixed

    ev = load_table(spark, sf_dir, "events")
    vals = {
        n: ev.repartition(n).agg(F.round(avg_fixed("value"), 6)).collect()[0][0]
        for n in (1, 2, 8)
    }
    assert len(set(vals.values())) == 1, vals


def test_dedup_exact_idempotent(spark, sf_dir):
    out1 = registry.QUERIES["q_dedup_exact"](spark, sf_dir)
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert out1.count() <= n_docs
    # every kept id appears once
    assert out1.select("keep_doc_id").distinct().count() == out1.count()


def test_similarity_self_match(spark, sf_dir):
    """The probe vector's best neighbor is itself with cosine 1."""
    top = registry.QUERIES["q_similarity_topk"](spark, sf_dir).collect()
    assert top[0].vec_id == 0
    assert abs(top[0].cosine - 1.0) < 1e-6


def test_ann_lsh_contains_self(spark, sf_dir):
    top = registry.QUERIES["q_ann_lsh"](spark, sf_dir).collect()
    assert top and top[0].vec_id == 0 and abs(top[0].cosine - 1.0) < 1e-6


def test_ann_ivf_contains_self(spark, sf_dir):
    """IVF always finds the probe itself: its own list is by definition
    among the nprobe nearest lists, and its cosine is 1.  (The
    REGISTERED q_ann_ivf is the exact+recall invariant form; the ANN
    operator itself is the ann_ivf_topk library function.)"""
    from ema_bigdata_spark.operators.similarity import ann_ivf_topk

    top = ann_ivf_topk(spark, sf_dir).collect()
    assert top and top[0].vec_id == 0 and abs(top[0].cosine - 1.0) < 1e-6
    inv = registry.QUERIES["q_ann_ivf"](spark, sf_dir).collect()
    assert len(inv) == 1 and inv[0].ivf_recall_ok


def test_rows_only_queries_deterministic(spark, sf_dir):
    """Every query without a SQL oracle must still be deterministic —
    the driver's rows-only check reruns them."""
    names = sorted(set(registry.QUERIES) - set(registry.ORACLES))
    for name in names:
        a = [tuple(r) for r in registry.QUERIES[name](spark, sf_dir).collect()]
        b = [tuple(r) for r in registry.QUERIES[name](spark, sf_dir).collect()]
        assert sorted(map(repr, a)) == sorted(map(repr, b)), name


def test_minhash_recall_vs_exact_jaccard(spark, sf_dir):
    """LSH candidate generation must cover the high-similarity pairs
    the exact n-gram Jaccard pass finds: recall ≥ 0.9 at jaccard ≥ 0.7
    (measured 1.0 on sf0.001 AND sf0.01 — this guards against a recall
    regression in the banding/signature scheme, e.g. fewer bands or a
    broken band hash)."""
    exact = registry.QUERIES["q_ngram_jaccard"](spark, sf_dir).collect()
    hi = [(r.doc_a, r.doc_b) for r in exact if r.jaccard >= 0.7]
    assert hi, "fixture regression: no exact pairs with jaccard >= 0.7"
    cand = {
        (r.doc_a, r.doc_b)
        for r in registry.QUERIES["q_dedup_minhash"](spark, sf_dir).collect()
    }
    recall = sum(1 for p in hi if p in cand) / len(hi)
    assert recall >= 0.9, f"minhash recall {recall:.2f} over {len(hi)} pairs"


def test_ann_topk_overlap_vs_exact(spark, sf_dir):
    """ANN results must overlap the brute-force exact top-k: the
    whole point of the approximate index is ranking quality, so 'ran'
    is not enough.  Bounds sit below the deterministic measured values
    (LSH 3/10; IVF 5-6/10 under the r9 nprobe=3 contract — pinned
    here per VERDICT r9 item 4: the ≥4 bound is ABOVE the old
    nprobe=2 floor of 3, so a silent fallback to the narrower probe
    budget trips this test, while the measured 5-6 keeps a margin
    of one)."""
    from ema_bigdata_spark.operators import similarity as sim

    assert sim._IVF_NPROBE == 3  # the r9 recall-margin contract

    exact = {
        r.vec_id
        for r in registry.QUERIES["q_similarity_topk"](spark, sf_dir).collect()
    }
    lsh = {
        r.vec_id
        for r in registry.QUERIES["q_ann_lsh"](spark, sf_dir).collect()
    }
    ivf = {r.vec_id for r in sim.ann_ivf_topk(spark, sf_dir).collect()}
    assert len(exact & lsh) >= 2, f"LSH overlap {sorted(exact & lsh)}"
    assert len(exact & ivf) >= 4, f"IVF overlap {sorted(exact & ivf)}"


def test_minhash_finds_exact_duplicates(spark, sf_dir):
    """Identical texts must always be MinHash candidates: inject a
    duplicated doc pair and check the pair surfaces."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text").limit(1).collect()[0]
    dup = docs.sparkSession.createDataFrame(
        [(900_000_001, base.text, "en", "dup", len(base.text)),
         (900_000_002, base.text, "en", "dup", len(base.text))],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    )
    # same pipeline as q_dedup_minhash but over the augmented corpus
    from ema_bigdata_spark.operators import dedup as dd

    aug = docs.unionByName(dup).withColumn("shingles", dd._shingles())
    sigs = dd._minhash_signatures(aug)
    pairs = (
        sigs.alias("a")
        .join(
            sigs.alias("b"),
            (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .collect()
    )
    assert (900_000_001, 900_000_002) in [tuple(r) for r in pairs]


def test_embed_dup_finds_planted_near_dups(spark, tmp_path):
    """The thresholded operator (embed_dup_pairs) is empty on random
    testdata (no cosine ≥ 0.95 pairs exist), so plant near-duplicates
    in a fixture corpus and require the LSH blocking + exact rerank to
    surface them."""
    import numpy as np

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(40, 64)).astype("float32")
    base = vecs[0]
    rows = [(i + 1, [float(x) for x in v], 0) for i, v in enumerate(vecs)]
    # 101 = scaled copy of vec 1 (cosine exactly 1, identical signature);
    # 102 = tiny perturbation of vec 1 (cosine ≈ 0.9999)
    rows.append((101, [float(x) * 1.5 for x in base], 1))
    noisy = base + 0.01 * rng.normal(size=64).astype("float32")
    rows.append((102, [float(x) for x in noisy], 1))
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    from ema_bigdata_spark.operators.similarity import embed_dup_pairs
    from ema_bigdata_spark.sources.tables import load_table

    emb = load_table(spark, str(tmp_path), "embeddings")
    out = embed_dup_pairs(emb).collect()
    pairs = {(r.vec_a, r.vec_b) for r in out}
    assert (1, 101) in pairs, pairs
    assert (1, 102) in pairs, pairs
    assert all(r.cosine >= 0.95 for r in out)
    # no false positives: every reported pair involves the planted trio
    assert all({a, b} <= {1, 101, 102} for a, b in pairs), pairs

    # the declared query (top-10 blocked pairs) is non-vacuous and
    # ranks the planted dups first
    out_q = registry.QUERIES["q_embed_dup"](spark, str(tmp_path)).collect()
    assert len(out_q) > 0
    top = {(r.vec_a, r.vec_b) for r in out_q[:2]}
    assert top == {(1, 101), (1, 102)}, out_q[:3]


class TestGMM:
    def test_loglik_improves_and_recovers(self, spark):
        """Seeded synthetic 3-component mixture: fitted means recover
        ground truth up to permutation; lnP is non-decreasing."""
        import numpy as np

        rng = np.random.default_rng(7)
        xs = np.concatenate(
            [
                rng.normal(-5.0, 1.0, 4000),
                rng.normal(0.0, 0.7, 3000),
                rng.normal(6.0, 1.5, 3000),
            ]
        )
        df = spark.createDataFrame([(float(v),) for v in xs], "value DOUBLE")
        from ema_bigdata_spark.gmm import gmm_fit

        model = gmm_fit(df, "value", k=3, tol=1e-4, max_iter=50)
        got = sorted(model.means)
        for g, want in zip(got, [-5.0, 0.0, 6.0]):
            assert abs(g - want) < 0.3, (got, model)

    def test_small_scale_mixture_recovers(self, spark):
        """The snap steps are absolute (1e-6 for Σγx, 1e-4 for Σγx²), so
        the library fit lifts data whose largest |x| is below 2^8 by a
        power of two first: a mixture at means 0.002 and 0.006 (sd
        5e-4) recovers its means and variances, and the same data at
        2^-10 of the scale fits to exactly scaled parameters."""
        import numpy as np

        from ema_bigdata_spark.gmm import gmm_fit

        rng = np.random.default_rng(3)
        xs = np.concatenate(
            [rng.normal(0.002, 5e-4, 3000), rng.normal(0.006, 5e-4, 3000)]
        )

        def fit(vals):
            df = spark.createDataFrame([(float(v),) for v in vals],
                                       "value DOUBLE")
            return gmm_fit(df, "value", k=2, tol=0.0, max_iter=60)

        m = fit(xs)
        for got, want in zip(sorted(m.means), (0.002, 0.006)):
            assert abs(got - want) < 5e-5, m
        for v in m.variances:
            assert abs(v - 2.5e-7) < 0.1 * 2.5e-7, m
        small = fit(xs * 2.0**-10)
        assert [v * 2.0**10 for v in small.means] == m.means
        assert [v * 2.0**20 for v in small.variances] == m.variances
        assert small.weights == m.weights and small.n_iter == m.n_iter

    def test_distributed_em_matches_driver_path(self, spark, monkeypatch):
        """The Spark executor (one statement per iteration over the
        checkpointed histogram — the path that actually runs at 100 TB
        when the value domain exceeds MAX_DRIVER_BINS) and the driver
        executor run one math: the library fit agrees to the last bit
        in every parameter, the whole lnP trace and the iteration
        count."""
        import numpy as np

        from ema_bigdata_spark import gmm as gmm_mod

        rng = np.random.default_rng(23)
        xs = np.round(
            np.concatenate(
                [rng.normal(-4.0, 1.0, 3000), rng.normal(5.0, 1.2, 3000)]
            ),
            2,
        )
        df = spark.createDataFrame([(float(v),) for v in xs], "value DOUBLE")

        driver = gmm_mod.gmm_fit(df, "value", k=2, tol=0.0, max_iter=8)
        monkeypatch.setattr(gmm_mod, "MAX_DRIVER_BINS", 4)
        dist = gmm_mod.gmm_fit(df, "value", k=2, tol=0.0, max_iter=8)

        assert _packed_model(dist) == _packed_model(driver)
        assert dist.n_iter == driver.n_iter == 8

    @staticmethod
    def _em_fixture(spark, seed):
        """Seed 41: two components near the origin (the fit runs on the
        data lifted by 2^5; one limb).  Seed 7: components at −400, 2.5e5
        and 9e5, whose snapped γ·x²·c·1e4 per bin can pass 2^49, the
        limb width at its 4,327 bins, so its snaps split into two
        limbs."""
        import numpy as np

        rng = np.random.default_rng(seed)
        if seed == 41:
            parts = [rng.normal(-3.0, 1.5, 2500), rng.normal(7.0, 0.8, 2500)]
        else:
            parts = [
                rng.normal(-400.0, 20.0, 1500),
                rng.normal(2.5e5, 500.0, 1500),
                rng.normal(9e5, 2000.0, 1500),
            ]
        xs = np.round(np.concatenate(parts), 2)
        return spark.createDataFrame([(float(v),) for v in xs], "value DOUBLE")

    def test_em_stats_match_python_int_reference(self, spark):
        """The engine's exact snapped sums must return, for EVERY limb
        layout, exactly Σ floor(t·scale + 0.5) computed in Python ints
        over the same doubles — on the Spark statements and in numpy: a
        lost or double-counted bit in any limb, a split that rounds, or
        a floor that is not one (negative ties) changes the integer."""
        import math

        import numpy as np

        from ema_bigdata_spark import gmm_parity as G

        rng = np.random.default_rng(5)
        mags = 10.0 ** rng.uniform(-13.0, 25.9, 300)  # up to ~8e25
        signs = rng.choice([-1.0, 1.0], 300)
        ties = [m / 8192.0 for m in (1, 3, 5, 12345, -7, -99999)]  # x.5
        edges = [8.4e25, -8.4e25, 0.0, -0.0]  # 8.4e37 < 2^126
        col_a = [float(v) for v in mags * signs] + ties + edges
        col_b = [-v * 0.37 for v in reversed(col_a)]
        df = spark.createDataFrame(
            list(zip(col_a, col_b)), "a DOUBLE, b DOUBLE"
        )
        scale = "1000000000000.0"

        def ref(ts):
            return sum(math.floor(t * float(scale) + 0.5) for t in ts)

        want = {"a": ref(col_a), "b": ref(col_b)}
        assert max(abs(t) for t in col_a) * 1e12 > 2.0**125
        sums = {"a": ("a", scale), "b": ("b", scale)}
        for nbins in ((1 << 20) + 1, 1 << 29, 1 << 31, 1 << 44, 1 << 52):
            limbs = G._limb_shifts(nbins, 126)
            ctes = G._sum_ctes("{t}", sums, "s", limbs)
            row = spark.sql(G._with(ctes, "SELECT * FROM s"),
                            t=df).collect()[0].asDict()
            assert G._recombine(row, limbs) == want, nbins
            for name, col in (("a", col_a), ("b", col_b)):
                got = G._np_limb_sum(np.array(col), float(scale), limbs)
                assert got == want[name], (nbins, name)

    @pytest.mark.parametrize("seed", [41, 7])
    def test_distributed_em_layout_invariant(self, spark, monkeypatch, seed):
        """The library fit on the driver executor, on the Spark
        executor with the data-derived limb layout, and on the Spark
        executor forced to the widest tested layout (nbins = 2^52:
        9-bit limbs) must agree to the last bit in every parameter, the
        whole lnP trace and the iteration count."""
        from ema_bigdata_spark import gmm as gmm_mod
        from ema_bigdata_spark import gmm_parity as G

        df = self._em_fixture(spark, seed)
        driver = gmm_mod.gmm_fit(df, "value", k=3, tol=0.0, max_iter=5)
        monkeypatch.setattr(gmm_mod, "MAX_DRIVER_BINS", 4)
        natural = gmm_mod.gmm_fit(df, "value", k=3, tol=0.0, max_iter=5)

        shifts = G._limb_shifts
        monkeypatch.setattr(G, "_limb_shifts",
                            lambda nbins, top: shifts(1 << 52, top))
        wide = gmm_mod.gmm_fit(df, "value", k=3, tol=0.0, max_iter=5)

        assert _packed_model(natural) == _packed_model(driver)
        assert _packed_model(wide) == _packed_model(driver)
        assert driver.n_iter == 5

    def test_matches_sparkml_loglik(self, spark, sf_dir):
        """Converged average log-likelihood within tolerance of
        pyspark.ml's GaussianMixture on the same data (different init,
        same model family)."""
        pytest.importorskip("numpy")
        from pyspark.ml.clustering import GaussianMixture
        from pyspark.ml.feature import VectorAssembler

        from ema_bigdata_spark.gmm import gmm_fit

        ev = load_table(spark, sf_dir, "events").select("value", "event_id")
        n = ev.count()
        ours = gmm_fit(ev, "value", k=3, tol=1e-3, max_iter=40)
        va = VectorAssembler(inputCols=["value"], outputCol="features")
        gm = GaussianMixture(k=3, seed=11, tol=1e-4, maxIter=60)
        sml = gm.fit(va.transform(ev))
        theirs = sml.summary.logLikelihood / n
        assert abs(ours.log_likelihood / n - theirs) < 0.05, (
            ours.log_likelihood / n,
            theirs,
        )


def test_salted_join_matches_plain_join(spark, sf_dir):
    """Salting is a pure physical rewrite: results identical."""
    from ema_bigdata_spark.operators.joins import salted_join

    orders = load_table(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    plain = sorted(
        map(tuple, orders.join(cust, "custkey")
            .select("o_orderkey", "c_mktsegment").collect())
    )
    salted = sorted(
        map(tuple, salted_join(orders, cust, "custkey", n_salt=8)
            .select("o_orderkey", "c_mktsegment").collect())
    )
    assert plain == salted and plain


class TestSessionizeProperty:
    """Hypothesis: the windowed gaps-and-islands sessionization agrees
    with a direct per-user Python reference on arbitrary event sets."""

    def _reference(self, events, gap_us):
        out = {}
        by_user = {}
        for eid, uid, ts_us in events:
            by_user.setdefault(uid, []).append((ts_us, eid))
        for uid, rows in by_user.items():
            rows.sort()
            sid = 0
            prev = None
            for ts_us, eid in rows:
                if prev is None or ts_us - prev > gap_us:
                    sid += 1
                out[eid] = sid
                prev = ts_us
        return out

    def test_sessionize_matches_reference(self, spark):
        import hypothesis.strategies as st
        from hypothesis import given, settings

        from ema_bigdata_spark.operators.windows import sessionize

        @settings(max_examples=12, deadline=None)
        @given(
            st.lists(
                st.tuples(st.integers(0, 3), st.integers(0, 4 * 10**9)),
                min_size=1,
                max_size=40,
                unique_by=lambda t: t,
            )
        )
        def run(raw):
            events = [
                (i, uid, ts_us) for i, (uid, ts_us) in enumerate(raw)
            ]
            df = spark.createDataFrame(
                [
                    (eid, uid, ts_us)
                    for eid, uid, ts_us in events
                ],
                "event_id BIGINT, user_id BIGINT, ts_us BIGINT",
            ).select(
                "event_id",
                "user_id",
                F.expr(
                    "timestampadd(MICROSECOND, ts_us,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ).alias("ts"),
            )
            got = {
                r.event_id: r.session_id
                for r in sessionize(df).select(
                    "event_id", "session_id"
                ).collect()
            }
            from ema_bigdata_spark.operators.windows import SESSION_GAP_US

            assert got == self._reference(events, SESSION_GAP_US)

        run()

    def test_day_bucket_equals_global(self, spark):
        """r9 hot-key mitigation (VERDICT r8 item 5): the
        day-bucketed sessionizer must assign IDENTICAL session ids to
        the global single-window form on event sets engineered to
        stress the stitch — sessions straddling midnight (gap inside
        vs outside 30 min across the bucket boundary), multi-day idle
        gaps (non-adjacent buckets must not merge), boundary ties, and
        a hypothesis sweep over random corpora spanning several days."""
        import hypothesis.strategies as st
        from hypothesis import given, settings

        from ema_bigdata_spark.operators.windows import (
            SESSION_GAP_US,
            sessionize,
        )

        day = 86_400_000_000
        mi = 60_000_000

        def compare(events):
            df = spark.createDataFrame(
                events, "event_id BIGINT, user_id BIGINT, ts_us BIGINT"
            ).select(
                "event_id",
                "user_id",
                F.expr(
                    "timestampadd(MICROSECOND, ts_us,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ).alias("ts"),
            )
            want = {
                (r.event_id, r.session_id)
                for r in sessionize(df).collect()
            }
            got = {
                (r.event_id, r.session_id)
                for r in sessionize(df, day_bucket=True).collect()
            }
            assert got == want
            assert want == {
                (e, s)
                for e, s in self._reference(
                    [(e, u, t) for e, u, t in events], SESSION_GAP_US
                ).items()
            }

        base = 20_000 * day  # ≈ 2024, inside the event-time domain
        # hand-built boundary battery: one user, events hugging
        # midnight of day N/N+1 — 10-min gap (merges), then a 31-min
        # gap (new session), then a 3-day idle (new session, buckets
        # NOT adjacent)
        compare([
            (1, 7, base + day - 5 * mi),      # 23:55 day 0
            (2, 7, base + day + 5 * mi),      # 00:05 day 1  (merge)
            (3, 7, base + day + 36 * mi),     # 00:36 day 1  (new)
            (4, 7, base + 4 * day + 36 * mi), # 3 days later (new)
            (5, 7, base + day - 5 * mi),      # 23:55 tie by event_id
        ])

        @settings(max_examples=10, deadline=None)
        @given(
            st.lists(
                st.tuples(
                    st.integers(0, 2),
                    st.integers(0, 5 * day),
                ),
                min_size=1,
                max_size=40,
                unique_by=lambda t: t,
            )
        )
        def run(raw):
            compare([
                (i, uid, base + ts) for i, (uid, ts) in enumerate(raw)
            ])

        run()


def test_embed_quantize_error_bound(spark, sf_dir):
    """int8 symmetric quantization error is ≤ scale/254 per element
    (half a quantization step), and dims are preserved."""
    out = registry.QUERIES["q_embed_quantize"](spark, sf_dir)
    rows = out.collect()
    assert rows and all(r.dim == 64 for r in rows)
    for r in rows:
        assert r.max_abs_err <= r.scale / 254 + 1e-6, r


def test_connected_components_correct(spark, monkeypatch):
    """Known edge set → known components, including a 4-node chain
    (tests multi-hop propagation, not just cliques).  Runs BOTH the
    driver union-find path and the distributed label-propagation path
    (forced by zeroing the driver threshold) and requires identical
    output."""
    from ema_bigdata_spark.operators import dedup as dd

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "doc_a BIGINT, doc_b BIGINT",
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
            20: 20, 21: 20, 22: 20}
    got_driver = {
        r.doc_id: r.cluster_id
        for r in dd.connected_components(pairs).collect()
    }
    monkeypatch.setattr(dd, "_CC_DRIVER_MAX", 0)
    got_dist = {
        r.doc_id: r.cluster_id
        for r in dd.connected_components(pairs).collect()
    }
    assert got_driver == want
    assert got_dist == want


@pytest.mark.parametrize("max_iter", [0, -1])
def test_connected_components_refuses_no_rounds(spark, monkeypatch, max_iter):
    """``max_iter < 1`` is refused at entry with a ValueError, before
    any Spark job (no probe collect, no edge cache built)."""
    from ema_bigdata_spark.operators import dedup as dd

    pairs = spark.createDataFrame([(1, 2)], "doc_a BIGINT, doc_b BIGINT")
    monkeypatch.setattr(dd, "_CC_DRIVER_MAX", 0)
    sc = spark.sparkContext
    group = f"cc_refuse_{max_iter}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match="max_iter"):
            dd.connected_components(pairs, max_iter=max_iter)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _failing_checkpoint(df):
    raise RuntimeError("injected checkpoint failure")


def test_connected_components_failure_releases_caches(spark, monkeypatch):
    """A distributed CC whose lineage checkpoint raises mid-loop must
    leave no edge or label cache registered in the session."""
    from ema_bigdata_spark.operators import dedup as dd

    spark.catalog.clearCache()
    monkeypatch.setattr(dd, "_CC_DRIVER_MAX", 10)
    monkeypatch.setattr(dd, "local_checkpoint", _failing_checkpoint)
    # 10-node chains: diameter 9 needs > 3 rounds, so round 3's
    # checkpoint is reached
    pairs = dd.chain_edges(spark, n_nodes=100, group=10)
    with pytest.raises(RuntimeError, match="injected checkpoint failure"):
        dd.connected_components(pairs)
    assert _cache_manager_empty(spark)


@pytest.mark.parametrize("n_nodes,group", [(100, 10), (60, 3)])
def test_connected_components_success_releases_caches(
    spark, monkeypatch, n_nodes, group
):
    """A distributed CC that converges on a cached round hands back
    labels that hold no entry in the session's cache manager, and the
    labels are still the analytic chain components."""
    from ema_bigdata_spark.operators import dedup as dd

    spark.catalog.clearCache()
    monkeypatch.setattr(dd, "_CC_DRIVER_MAX", 10)
    labels = dd.connected_components(
        dd.chain_edges(spark, n_nodes=n_nodes, group=group)
    )
    assert _cache_manager_empty(spark)
    got = {r.doc_id: r.cluster_id for r in labels.collect()}
    assert got == {n: n - n % group for n in range(n_nodes)}


def test_pagerank_failure_releases_caches(spark, sf_dir, monkeypatch):
    """q_pagerank whose final-ranks checkpoint raises must leave
    neither its edge cache nor its node cache registered."""
    from ema_bigdata_spark.operators import analytics

    spark.catalog.clearCache()
    monkeypatch.setattr(analytics, "local_checkpoint", _failing_checkpoint)
    with pytest.raises(RuntimeError, match="injected checkpoint failure"):
        registry.QUERIES["q_pagerank"](spark, sf_dir)
    assert _cache_manager_empty(spark)


def test_ngram_jaccard_hot_shingle_cap_engages(spark):
    """VERDICT r4 §Next-8: the stop-shingle bucket cap under a
    PATHOLOGICAL hot shingle, not uniform testdata.  2 000 documents
    all sharing one boilerplate sentence: uncapped, every pair agrees
    at jaccard ≈ 0.4 ≥ the 0.2 emit threshold, so ~2 M pairs would
    reach the OUTPUT — the empty result is direct proof the cap
    dropped the hot buckets before the self-join.  Control at 50 docs
    (bucket ≤ cap): the same boilerplate now legitimately pairs all
    C(50,2) documents, proving the cap is a frequency cutoff, not a
    filter that silently loses shared content."""
    from ema_bigdata_spark.operators import dedup as dd

    hot = dd.boilerplate_corpus(spark, 2_000)
    assert dd.ngram_jaccard_pairs(hot).count() == 0

    small = dd.boilerplate_corpus(spark, 50)
    pairs = dd.ngram_jaccard_pairs(small)
    assert pairs.count() == 50 * 49 // 2
    jac = [r.jaccard for r in pairs.collect()]
    assert all(0.2 <= j < 1.0 for j in jac)


def _identical_corpus(spark, n_docs: int):
    """n identical documents — every LSH band bucket (minhash AND
    simhash) holds the whole corpus, the worst boilerplate case."""
    text = "the quick brown fox jumps over the lazy dog again and again"
    return spark.range(0, n_docs, 1, 16).select(
        F.col("id").alias("doc_id"), F.lit(text).alias("text")
    )


def test_minhash_band_cap_engages(spark):
    """VERDICT r7 item 3: the ``_BAND_CAP`` hot-bucket rule on the
    minhash band self-join.  500 identical documents: every (band,
    bsig) bucket holds all 500 docs (> cap 100), so uncapped the join
    would emit C(500,2)·4 ≈ 5e5 band matches; capped it must emit
    ZERO pairs, with the drop observable via lsh_band_stats.  Control
    at 50 docs (bucket ≤ cap): all C(50,2) pairs survive — the cap is
    a frequency cutoff, not a near-dup filter."""
    from ema_bigdata_spark.operators import dedup as dd

    hot = _identical_corpus(spark, 500)
    assert dd.minhash_pairs(hot).count() == 0
    bands = dd._banded(
        dd._minhash_signatures(hot.withColumn("shingles", dd._shingles())),
        [],
    )
    stats = dd.lsh_band_stats(bands, ("band", "bsig"))
    assert stats["n_buckets_dropped"] == dd._MH_BANDS
    assert stats["n_rows_dropped"] == 500 * dd._MH_BANDS

    small = _identical_corpus(spark, 50)
    assert dd.minhash_pairs(small).count() == 50 * 49 // 2


def test_simhash_band_cap_engages(spark):
    """Same rule for simhash with its own ``_SH_BAND_CAP`` (2000 —
    8-bit band values make benign buckets big; measured max 748 at
    sf0.1, so the registered threshold is a no-op on testdata and a
    pure mega-cluster guard).  2 100 identical docs (> cap) → zero
    pairs; 60 identical docs → all C(60,2) pairs at hamming 0."""
    from ema_bigdata_spark.operators import dedup as dd

    hot = _identical_corpus(spark, 2_100)
    assert dd.simhash_pairs(hot).count() == 0

    small = _identical_corpus(spark, 60)
    pairs = dd.simhash_pairs(small)
    assert pairs.count() == 60 * 59 // 2
    assert pairs.agg(F.max("hamming")).collect()[0][0] == 0


def test_simhash_wide_signature_scale_path(spark):
    """The production scale lever on simhash_pairs: 60-bit signatures
    with 15-bit bands (32 768 values/band) spread buckets that the
    32/4 shape concentrates.  On 300 DISTINCT docs the wide shape
    must (a) run, (b) emit no false mega-buckets (every band bucket
    far under cap), and (c) still pair the one planted duplicate
    (hamming 0 — the banding guarantee covers it at any width; a
    one-token near-dup can legitimately flip >3 of 60 bits)."""
    from ema_bigdata_spark.operators import dedup as dd

    base = (
        spark.range(0, 300, 1, 8)
        .select(
            F.col("id").alias("doc_id"),
            F.format_string(
                "document %d content token%d alpha beta gamma delta "
                "epsilon zeta eta theta %d", "id", "id", "id"
            ).alias("text"),
        )
    )
    dup = spark.createDataFrame(
        [(1000, "document 7 content token7 alpha beta gamma delta "
                "epsilon zeta eta theta 7")],
        "doc_id BIGINT, text STRING",
    )
    docs = base.unionByName(dup)
    pairs = dd.simhash_pairs(docs, bits=60, n_bands=4)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (7, 1000) in got


def test_connected_components_distributed_past_real_gate(spark):
    """VERDICT r4 §Next-4: the distributed min-label-propagation path
    pinned at REALISTIC size — 510 000 edges, past the genuine
    ``_CC_DRIVER_MAX`` cutover (no monkeypatch; the probe's bounded
    collect must flip the gate itself), over 102 000 diameter-5 chain
    components so convergence takes the full 5 propagation rounds
    (two lineage checkpoints), not a clique's single round.

    Three-way agreement on the same edges: (1) the distributed labels
    match the fixture's ANALYTIC ground truth exactly; (2) a plain
    Python union-find over the collected edge list matches it too —
    i.e. the driver algorithm and the distributed algorithm agree at
    the scale where the gate actually picks the distributed one."""
    from ema_bigdata_spark.operators import dedup as dd

    pairs = dd.chain_edges(spark)
    n_edges = pairs.count()
    assert n_edges == 510_000 and n_edges > dd._CC_DRIVER_MAX

    labels = dd.connected_components(pairs)
    wrong = labels.where(
        F.col("cluster_id") != F.col("doc_id") - F.col("doc_id") % 6
    ).count()
    assert wrong == 0
    assert labels.count() == 612_000

    # driver-algorithm equivalence on the same edges (pure-Python
    # union-find, the exact logic _components_driver wraps)
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs.collect():
        a, b = r.doc_a, r.doc_b
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    assert all(find(n) == n - n % 6 for n in parent)


def test_components_driver_arrow_paths(spark):
    """The driver union-find takes both edge forms — a pyarrow Table
    (what ``connected_components``' toArrow probe hands it) and a row
    iterable — and labels identically through its one output path,
    below and above 10 k nodes."""
    import pyarrow as pa

    from ema_bigdata_spark.operators import dedup as dd

    class Row:
        def __init__(self, a, b):
            self.src, self.dst = a, b

    for n_nodes in (3_000, 30_000):
        # chains in groups of 3 → n/3 components of 2 edges each
        edges = [(i, i + 1) for i in range(n_nodes) if (i + 1) % 3 != 0]
        tbl = pa.table(
            {
                "src": pa.array([a for a, _ in edges], pa.int64()),
                "dst": pa.array([b for _, b in edges], pa.int64()),
            }
        )
        want = {n: n - n % 3 for n in range(n_nodes)}
        for form in (tbl, [Row(a, b) for a, b in edges]):
            got = {
                r.doc_id: r.cluster_id
                for r in dd._components_driver(spark, form).collect()
            }
            assert got == want, (n_nodes, type(form).__name__)


def test_stratified_sample_rates(spark, sf_dir):
    """Sampled fraction per lang lands near the configured rate."""
    from ema_bigdata_spark.operators.text import _SAMPLE_RATES

    docs = load_table(spark, sf_dir, "documents")
    totals = {r.lang: r.n for r in
              docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    sampled = {r.lang: r.n for r in
               registry.QUERIES["q_stratified_sample"](spark, sf_dir)
               .groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, rate in _SAMPLE_RATES.items():
        if totals.get(lang, 0) >= 50:
            frac = sampled.get(lang, 0) / totals[lang]
            assert abs(frac - rate / 1000) < 0.12, (lang, frac, rate)


def test_minhash_estimate_tracks_exact_jaccard(spark, sf_dir):
    """For every candidate pair with an exact Jaccard ≥ 0.2, the
    16-hash estimate is within a generous sketch tolerance (16 hashes
    → σ ≈ sqrt(J(1−J)/16) ≤ 0.125; allow 3σ)."""
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in registry.QUERIES["q_ngram_jaccard"](spark, sf_dir).collect()
    }
    est = {
        (r.doc_a, r.doc_b): r.jaccard_est
        for r in registry.QUERIES["q_minhash_jaccard_est"](
            spark, sf_dir
        ).collect()
    }
    checked = 0
    for pair, j in exact.items():
        if pair in est:
            assert abs(est[pair] - j) <= 0.40, (pair, est[pair], j)
            checked += 1
    assert checked or not exact  # overlap unless no exact pairs at all


def test_approx_quantiles_near_exact(spark, sf_dir):
    """The query's own sketch-vs-exact invariant holds (approx_ok), and
    its exact columns agree with q_percentiles'."""
    exact = {
        r.o_orderstatus: r
        for r in registry.QUERIES["q_percentiles"](spark, sf_dir).collect()
    }
    approx = {
        r.o_orderstatus: r
        for r in registry.QUERIES["q_approx_quantiles"](spark, sf_dir).collect()
    }
    assert exact.keys() == approx.keys()
    for k in exact:
        assert approx[k].approx_ok, (k, approx[k])
        for col in ("p25", "p50", "p75"):
            assert getattr(exact[k], col) == getattr(approx[k], col), (k, col)


def test_gmm_fit_partitioning_invariant(spark, sf_dir):
    """The fit must be identical under any input partitioning: init
    uses exact percentiles/moments and iterations sum fixed-point
    DECIMALs, so repartitioning cannot perturb the result (double-sum
    order independence — the property approxQuantile/var_pop broke)."""
    from ema_bigdata_spark.gmm import gmm_fit

    ev = load_table(spark, sf_dir, "events").select("value")
    fits = [
        gmm_fit(ev.repartition(n), "value", k=3, tol=0.0, max_iter=5)
        for n in (1, 7)
    ]
    a, b = fits
    assert [round(v, 9) for v in a.means] == [round(v, 9) for v in b.means]
    assert [round(v, 9) for v in a.weights] == [round(v, 9) for v in b.weights]
    assert round(a.log_likelihood, 6) == round(b.log_likelihood, 6)


def test_funnel_monotone(spark, sf_dir):
    """Stage counts can only shrink down the funnel."""
    registry.load_all()
    row = registry.QUERIES["q_funnel"](spark, sf_dir).collect()[0]
    assert row.n_view >= row.n_click >= row.n_purchase >= 0


def test_funnel_strict_ordering_semantics(spark, tmp_path):
    """Pin the first-touch strict-ordering rules on a handcrafted
    fixture (the corpus oracle can't isolate these cases):
    - u1 converts fully in order.
    - u2's only click precedes their view → counts at view only.
    - u3 clicks before AND after their first view → the later click
      counts (first-touch = first view, not any view).
    - u4's purchase lands between view and click → no purchase credit.
    - u5 has no view at all → appears in no stage."""
    import pandas as pd

    from ema_bigdata_spark.operators.analytics import q_funnel

    rows = [
        (1, "view", "2024-01-01 10:00:00"),
        (1, "click", "2024-01-01 10:05:00"),
        (1, "purchase", "2024-01-01 10:10:00"),
        (2, "click", "2024-01-01 09:00:00"),
        (2, "view", "2024-01-01 09:30:00"),
        (3, "click", "2024-01-02 07:00:00"),
        (3, "view", "2024-01-02 08:00:00"),
        (3, "click", "2024-01-02 09:00:00"),
        (4, "view", "2024-01-03 10:00:00"),
        (4, "purchase", "2024-01-03 10:30:00"),
        (4, "click", "2024-01-03 11:00:00"),
        (5, "click", "2024-01-04 10:00:00"),
        (5, "purchase", "2024-01-04 11:00:00"),
    ]
    pdf = pd.DataFrame(rows, columns=["user_id", "event_type", "ts"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    path = str(tmp_path / "funnel_fixture")
    ev = spark.createDataFrame(pdf).select(
        "user_id", "event_type", F.col("ts").cast("timestamp_ntz").alias("ts")
    )
    ev.write.parquet(f"{path}/events.parquet")
    row = q_funnel(spark, path).collect()[0]
    # views: u1 u2 u3 u4; clicks after first view: u1 u3 u4;
    # purchases after that click: u1 only
    assert (row.n_view, row.n_click, row.n_purchase) == (4, 3, 1)


def test_minhash_oracle_parity_on_adversarial_texts(spark):
    """The md5-60bit minhash pipeline must hash-match DuckDB on text
    shapes the fixture corpus lacks: empty strings, consecutive spaces
    (empty tokens), unicode, single tokens, and exact duplicates."""
    import duckdb
    import pandas as pd

    from ema_bigdata_spark.operators import dedup as dd

    texts = [
        (1, ""),
        (2, "one"),
        (3, "a  b c"),          # double space -> empty token
        (4, "héllo wörld naïve"),
        (5, "the quick brown fox jumps over the lazy dog"),
        (6, "the quick brown fox jumps over the lazy dog"),  # dup of 5
        (7, "the quick brown fox jumps over a sleepy dog"),  # near-dup
        (8, " leading and trailing "),
    ]
    docs = spark.createDataFrame(texts, "doc_id BIGINT, text STRING")
    spark_pairs = sorted(
        (r.doc_a, r.doc_b) for r in dd.minhash_pairs(docs).collect()
    )
    duck = duckdb.connect()
    duck.register("pdf", pd.DataFrame(texts, columns=["doc_id", "text"]))
    duck.execute("CREATE VIEW documents AS SELECT * FROM pdf")
    duck_pairs = sorted(
        duck.execute(
            f"WITH {dd._duck_minhash_cte()} SELECT doc_a, doc_b FROM pairs"
        ).fetchall()
    )
    assert spark_pairs == duck_pairs
    assert (5, 6) in spark_pairs  # the exact duplicate must be found
    # simhash: same adversarial corpus, full pair+hamming parity
    spark_sh = sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in dd.simhash_pairs(docs).collect()
    )
    duck_sh = sorted(duck.execute(dd._duck_simhash_sql()).fetchall())
    assert spark_sh == duck_sh
    assert any(a == 5 and b == 6 and h == 0 for a, b, h in spark_sh)


def test_keep_best_survivor_properties(spark, sf_dir):
    """Survivor selection invariants: exactly one survivor per cluster,
    the survivor IS a member, no member is longer (ties broken toward
    the smaller doc_id), and member counts sum to the clustered-doc
    count."""
    from ema_bigdata_spark.operators import dedup as dd
    from ema_bigdata_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    comp = dd.connected_components(dd.minhash_pairs(docs))
    members = {}
    for r in comp.collect():
        members.setdefault(r.cluster_id, []).append(r.doc_id)
    chars = {
        r.doc_id: r.n_chars for r in docs.select("doc_id", "n_chars").collect()
    }
    rows = registry.QUERIES["q_dedup_keep_best"](spark, sf_dir).collect()
    assert {r.cluster_id for r in rows} == set(members)
    assert sum(r.n_members for r in rows) == sum(map(len, members.values()))
    for r in rows:
        ms = members[r.cluster_id]
        assert r.keep_doc_id in ms
        best = sorted(ms, key=lambda d: (-chars[d], d))[0]
        assert r.keep_doc_id == best
        assert r.kept_chars == chars[best]


def test_streaming_watermark_drops_late_rows(spark, tmp_path):
    """The watermark must actually DROP late rows — the property the
    registered streaming oracles cannot see (their single-file replay
    has nothing late).  Files process as separate micro-batches
    (maxFilesPerTrigger=1, mtime order), and Spark applies the
    watermark with a ONE-BATCH lag (batch N filters with the watermark
    derived from batch N−1's max event time — measured here, and why
    the spacer file exists): by the time the 10:00:45 straggler
    arrives, [10:00,10:01) has been emitted and evicted, so the
    straggler must be discarded — neither updating the count nor
    emitting a duplicate window row."""
    import time
    import uuid as _uuid

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "stream_src"
    d.mkdir()

    def write(name, rows):
        pdf = pd.DataFrame(rows, columns=["user_id", "ts"])
        pdf["ts"] = pd.to_datetime(pdf["ts"], utc=True)
        table = pa.Table.from_pandas(pdf).cast(
            pa.schema(
                [("user_id", pa.int64()),
                 ("ts", pa.timestamp("us", tz="UTC"))]
            )
        )  # µs physical type: Spark reads TIMESTAMP natively (ns would
        # hit the session's nanosAsLong guard and load as LONG)
        pq.write_table(table, str(d / name))

    files = [
        ("a.parquet", [(1, "2024-01-01 10:00:30")]),
        ("b.parquet", [(1, "2024-01-01 10:20:00")]),  # wm → 10:10
        ("c.parquet", [(1, "2024-01-01 10:21:00")]),  # spacer: batch
        # runs with wm 10:10 → [10:00] emitted (n=1) and evicted
        ("d.parquet", [(2, "2024-01-01 10:00:45"),    # straggler
                       (1, "2024-01-01 10:40:00")]),
        ("e.parquet", [(1, "2024-01-01 11:00:00")]),  # close the rest
    ]
    for name, rows in files:
        write(name, rows)
        time.sleep(1.1)  # distinct mtime → distinct micro-batch

    stream = (
        spark.readStream.schema("user_id BIGINT, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    sink = f"wmtest_{_uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table(sink).collect()
    rows = {(r.w.start.hour, r.w.start.minute): r.n for r in out}
    assert len(out) == len(rows) == 4, out  # no duplicate window rows
    # the straggler neither bumped the count nor re-emitted the window
    assert rows == {(10, 0): 1, (10, 20): 1, (10, 21): 1, (10, 40): 1}


def test_streaming_checkpoint_restart_exactly_once(spark, tmp_path):
    """Checkpointed restart must not duplicate or drop rows: stop a
    file-source → parquet-sink stream after two micro-batches, add a
    third input file, restart a NEW query object on the SAME checkpoint
    and output — the sink must hold every input row exactly once (the
    checkpoint's offset log + the sink's transaction log together give
    end-to-end exactly-once for file sinks)."""
    import uuid as _uuid

    src = tmp_path / "src"
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()

    def write(name, ids):
        spark.createDataFrame(
            [(int(i),) for i in ids], "event_id BIGINT"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    def run_once():
        stream = (
            spark.readStream.schema("event_id BIGINT")
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .queryName(f"ckpt_{_uuid.uuid4().hex[:8]}")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    write("f1", range(0, 10))
    write("f2", range(10, 20))
    run_once()
    write("f3", range(20, 30))
    run_once()  # restart from the same checkpoint
    got = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert got == list(range(30)), got  # each row exactly once


def _multibatch_source(spark, tmp_path, files):
    """Write one parquet file per micro-batch (µs timestamps, distinct
    mtimes) and return a maxFilesPerTrigger=1 streaming reader — the
    shared driver for the state-observability tests below."""
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "mb_src"
    d.mkdir()
    for name, rows in files:
        pdf = pd.DataFrame(rows, columns=["user_id", "ts"])
        pdf["ts"] = pd.to_datetime(pdf["ts"], utc=True)
        table = pa.Table.from_pandas(pdf).cast(
            pa.schema(
                [("user_id", pa.int64()),
                 ("ts", pa.timestamp("us", tz="UTC"))]
            )
        )
        pq.write_table(table, str(d / name))
        _time.sleep(1.1)  # distinct mtime → distinct micro-batch
    return (
        spark.readStream.schema("user_id BIGINT, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )


def _run_and_observe_state(q):
    """Drain a started query and return per-batch state-operator rows:
    [(numRowsTotal, numRowsRemoved), ...] — lastProgress only keeps
    the final batch, recentProgress keeps them all (VERDICT r4
    §Next-5: the observability hook an unbounded-state regression
    would trip)."""
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = []
    for p in q.recentProgress:
        ops = p["stateOperators"]
        if ops:
            out.append(
                (
                    sum(o["numRowsTotal"] for o in ops),
                    sum(o["numRowsRemoved"] for o in ops),
                )
            )
    return out


def test_streaming_window_state_is_watermark_bounded(spark, tmp_path):
    """VERDICT r4 §Next-5: windowed-agg state must be EVICTED as the
    watermark passes, not accumulate forever.  Six micro-batches, each
    one 1-minute window of 50 rows, event time advancing one hour per
    batch with a 10-minute watermark (the registered tumbling query's
    shape): every batch's post-commit numRowsTotal must stay at the
    O(1) open-window count, and the evictions must actually show up in
    numRowsRemoved.  An unbounded-state regression (lost watermark,
    wrong output mode) makes numRowsTotal grow ~linearly in batches
    and fails the bound."""
    import uuid as _uuid

    from ema_bigdata_spark.streaming.stream_queries import (
        _state_partitions,
    )

    files = [
        (
            f"f{i}.parquet",
            [(j, f"2024-01-01 {i:02d}:00:{j % 60:02d}") for j in range(50)],
        )
        for i in range(6)
    ]
    stream = _multibatch_source(spark, tmp_path, files)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    sink = f"state_win_{_uuid.uuid4().hex[:8]}"
    with _state_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .start()
        )
        per_batch = _run_and_observe_state(q)
    assert per_batch, "no stateOperators progress recorded"
    totals = [t for t, _ in per_batch]
    removed = sum(r for _, r in per_batch)
    # bound: at most the current window + the one awaiting the next
    # watermark advance — NEVER the 6 windows of input
    assert max(totals) <= 2, per_batch
    assert totals[-1] <= 2, per_batch
    assert removed >= 4, per_batch  # the closed windows really left
    # and the evicted windows were EMITTED, not dropped
    emitted = spark.table(sink).collect()
    assert sum(r.n for r in emitted) >= 4 * 50


def test_streaming_join_state_is_watermark_bounded(spark, tmp_path):
    """VERDICT r4 §Next-5, stream-stream join flavor: both sides
    buffer rows in the state store; the watermark + time-range bound
    (the registered s_stream_join's exact join shape) must evict
    buffered rows as event time advances.  Same six-hour-steps input
    on BOTH sides: peak buffered rows must stay near two batches'
    worth per side, and most rows must be removed by the final
    batch."""
    import uuid as _uuid

    from ema_bigdata_spark.streaming.stream_queries import (
        _state_partitions,
    )

    files = [
        (
            f"f{i}.parquet",
            [(j, f"2024-01-01 {i:02d}:00:{j % 60:02d}") for j in range(50)],
        )
        for i in range(6)
    ]
    stream = _multibatch_source(spark, tmp_path, files)
    a = stream.withWatermark("ts", "10 minutes").alias("a")
    b = stream.withWatermark("ts", "10 minutes").alias("b")
    joined = a.join(
        b,
        F.expr(
            """
            a.user_id = b.user_id
            AND b.ts >= a.ts
            AND b.ts <= a.ts + INTERVAL 5 MINUTE
            """
        ),
    ).select(F.col("a.user_id").alias("user_id"))
    sink = f"state_join_{_uuid.uuid4().hex[:8]}"
    with _state_partitions(spark):
        q = (
            joined.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .start()
        )
        per_batch = _run_and_observe_state(q)
    assert per_batch, "no stateOperators progress recorded"
    totals = [t for t, _ in per_batch]
    removed = sum(r for _, r in per_batch)
    n_input_rows = 6 * 50
    # peak state ≤ ~2 batches buffered on each of the 2 sides (+1
    # batch of slack for eviction lag); NEVER all 600 buffered rows
    assert max(totals) <= 2 * 2 * 50 + 50, per_batch
    assert totals[-1] <= 2 * 2 * 50 + 50, per_batch
    assert removed >= n_input_rows, per_batch  # both sides drained


def test_retention_day0_is_cohort_size(spark, sf_dir):
    """Every user is active on their own cohort day, so day_offset=0
    rows must sum to the total distinct-user count."""
    from pyspark.sql import functions as F

    from ema_bigdata_spark.sources.tables import load_table

    registry.load_all()
    ret = registry.QUERIES["q_retention"](spark, sf_dir)
    day0 = (
        ret.where(F.col("day_offset") == 0)
        .agg(F.sum("n_users"))
        .collect()[0][0]
    )
    users = (
        load_table(spark, sf_dir, "events")
        .select("user_id").distinct().count()
    )
    assert day0 == users


def test_unigram_lm_rarity_ordering(spark):
    """On a handcrafted corpus the LM score must rank documents by
    token rarity: a doc of the dominant token scores strictly below a
    doc of hapaxes, and a one-token doc's score equals that token's
    exact self-information ln(total/cnt)."""
    import math

    from ema_bigdata_spark.operators.text import unigram_lm

    docs = spark.createDataFrame(
        [
            (1, "the the the the the the the the"),
            (2, "qux zot"),
            (3, "the"),
        ],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r for r in unigram_lm(docs).collect()}
    assert out[1].n_tokens == 8 and out[2].n_tokens == 2
    assert out[1].lm_score < out[2].lm_score
    # total=11 tokens, 'the' appears 9 times
    assert out[3].lm_score == pytest.approx(math.log(11 / 9), abs=1e-5)


def test_dup_spans_handcrafted(spark):
    """Span-rate semantics on a corpus where the answer is computable
    by hand: a doc fully duplicated elsewhere has dup_frac 1.0, a
    unique doc 0.0, and a doc sharing exactly its leading 3-gram gets
    the correct partial fraction."""
    from ema_bigdata_spark.operators.dedup import dup_span_stats

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),       # shingles: abc bcd cde
            (2, "a b c d e"),       # exact dup of 1 → all shared
            (3, "a b c x y z"),     # abc shared; bcx cxy xyz unique
            (4, "p q r s"),         # pqr qrs unique
        ],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r for r in dup_span_stats(docs).collect()}
    assert out[1].dup_frac == 1.0 and out[2].dup_frac == 1.0
    assert out[3].n_shingles == 4 and out[3].n_dup == 1
    assert out[3].dup_frac == 0.25
    assert out[4].dup_frac == 0.0


def test_mix_weights_temperature_semantics(spark):
    """Temperature-scaled mixing invariants: weights sum to 1, and
    alpha < 1 moves every source's weight from its raw share toward
    uniform (small sources upsampled, large downsampled) — the reason
    the recipe exists."""
    docs = spark.createDataFrame(
        [(i, "w " * (900 if i < 9 else 100), f"s{i % 2}") for i in range(10)],
        "doc_id LONG, text STRING, source STRING",
    )
    from ema_bigdata_spark.operators.text import mix_weights

    out = {r.source: r for r in mix_weights(docs).collect()}
    assert abs(sum(r.mix_weight for r in out.values()) - 1.0) < 1e-5
    big = max(out.values(), key=lambda r: r.token_share)
    small = min(out.values(), key=lambda r: r.token_share)
    assert big.mix_weight < big.token_share       # downsampled
    assert small.mix_weight > small.token_share   # upsampled


def test_stream_upsert_updates_across_batches(spark, tmp_path):
    """The streaming upsert must genuinely UPDATE state across
    micro-batches — the property the registered oracle's single-file
    replay cannot see: a later batch's newer row for an existing key
    replaces it, an older (late) row for that key does NOT, and new
    keys appear."""
    import time
    import uuid as _uuid

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "upsert_src"
    d.mkdir()

    def write(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["key", "event_id", "ts_us", "value"]
        )
        table = pa.Table.from_pandas(pdf).cast(
            pa.schema(
                [("key", pa.int64()), ("event_id", pa.int64()),
                 ("ts_us", pa.int64()), ("value", pa.float64())]
            )
        )
        pq.write_table(table, str(d / name))

    batches = [
        ("a.parquet", [(1, 10, 1000, 1.0), (2, 11, 1000, 2.0)]),
        ("b.parquet", [(1, 12, 2000, 9.0),   # newer → replaces key 1
                       (2, 13, 500, 7.0),    # LATE → must not replace
                       (3, 14, 1500, 3.0)]), # new key
    ]
    for name, rows in batches:
        write(name, rows)
        time.sleep(1.1)

    stream = (
        spark.readStream.schema(
            "key BIGINT, event_id BIGINT, ts_us BIGINT, value DOUBLE"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    agg = stream.groupBy("key").agg(
        F.expr("max_by(value, struct(ts_us, event_id))").alias("v"),
        F.max(F.struct("ts_us", "event_id")).alias("m"),
    )
    sink = f"upserttest_{_uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = {r.key: (r.v, r.m.ts_us) for r in spark.table(sink).collect()}
    assert out == {1: (9.0, 2000), 2: (2.0, 1000), 3: (3.0, 1500)}


def test_r3_text_ops_oracle_parity_on_adversarial_texts(spark):
    """unigram_lm / dup_span_stats / mix_weights must value-match their
    registered DuckDB oracles on text shapes the fixture corpus lacks
    (empty string, empty tokens from double spaces, unicode, exact
    dups) — the same adversarial guard the minhash family has."""
    import duckdb
    import pandas as pd

    from ema_bigdata_spark import registry
    from ema_bigdata_spark.operators.dedup import dup_span_stats
    from ema_bigdata_spark.operators.text import mix_weights, unigram_lm

    texts = [
        (1, "", "s0"),
        (2, "one", "s0"),
        (3, "a  b c", "s1"),  # double space -> empty token
        (4, "héllo wörld naïve", "s1"),
        (5, "the quick brown fox jumps over the lazy dog", "s2"),
        (6, "the quick brown fox jumps over the lazy dog", "s2"),
        (7, " leading and trailing ", "s2"),
    ]
    docs = spark.createDataFrame(
        texts, "doc_id BIGINT, text STRING, source STRING"
    )
    duck = duckdb.connect()
    duck.register(
        "pdf", pd.DataFrame(texts, columns=["doc_id", "text", "source"])
    )
    duck.execute("CREATE VIEW documents AS SELECT * FROM pdf")

    for fn, name, key in (
        (unigram_lm, "q_unigram_lm", lambda r: r[0]),
        (dup_span_stats, "q_dup_spans", lambda r: r[0]),
        (mix_weights, "q_mix_weights", lambda r: r[0]),
    ):
        sdf = fn(docs)
        cols = sdf.columns
        got = sorted((tuple(r) for r in sdf.collect()), key=key)
        want = sorted(
            (
                tuple(r)
                for r in duck.execute(
                    f"SELECT {', '.join(cols)} FROM"
                    f" ({registry.ORACLES[name]})"
                ).fetchall()
            ),
            key=key,
        )
        assert got == want, name
    # semantics spot-checks: the exact-dup pair is fully duplicated
    spans = {r.doc_id: r for r in dup_span_stats(docs).collect()}
    assert spans[5].dup_frac == 1.0 and spans[6].dup_frac == 1.0
    assert spans[1].n_shingles == 1  # empty text -> whole-text shingle


def test_minhash_incremental_flags_cross_set_dups(spark):
    """The incremental near-dup gate must flag a batch doc duplicating
    a CORPUS doc, not flag unique batch docs, and ignore duplicate
    pairs entirely inside the corpus (the index side never gates
    itself)."""
    from ema_bigdata_spark.operators.dedup import (
        _banded,
        _minhash_signatures,
        _shingles,
        minhash_incremental,
    )

    rows = [
        # corpus (doc_id 1-3): 2 and 3 duplicate each other
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "pack my box with five dozen liquor jugs"),
        (3, "pack my box with five dozen liquor jugs"),
        # batch (doc_id 11-12): 11 duplicates corpus doc 1, 12 unique
        (11, "the quick brown fox jumps over the lazy dog"),
        (12, "sphinx of black quartz judge my vow today"),
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    bands = _banded(
        _minhash_signatures(docs.withColumn("shingles", _shingles())), []
    )
    out = {
        r.doc_id: r
        for r in minhash_incremental(
            bands.where("doc_id >= 10"), bands.where("doc_id < 10")
        ).collect()
    }
    assert set(out) == {11, 12}  # report covers the batch, only it
    assert out[11].is_near_dup and out[11].n_matches >= 1
    assert not out[12].is_near_dup and out[12].n_matches == 0


def test_train_val_split_content_keyed(spark, sf_dir):
    """Split assignment is keyed by CONTENT, not id: two docs with
    identical text but different doc_ids must land in the same split,
    fractions must be near 90/5/5 on the fixture corpus, and the op
    must be a pure projection (one scan, zero exchanges)."""
    from ema_bigdata_spark.operators.text import assign_splits
    from ema_bigdata_spark.plans import (
        exchange_count,
        executed_plan,
        query_plan,
        scan_count,
    )

    dup = spark.createDataFrame(
        [(1, "same text here"), (2, "same text here"),
         (3, "different text entirely")],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r.split for r in assign_splits(dup).collect()}
    assert out[1] == out[2]

    plan = query_plan(spark, sf_dir, "q_train_val_split")
    assert scan_count(plan) == 1 and exchange_count(plan) == 0

    from ema_bigdata_spark.sources.tables import load_table

    frac = (
        assign_splits(load_table(spark, sf_dir, "documents"))
        .groupBy("split")
        .count()
        .collect()
    )
    counts = {r.split: r["count"] for r in frac}
    total = sum(counts.values())
    assert counts["train"] / total > 0.8
    assert 0 < counts.get("val", 0) / total < 0.15
    assert 0 < counts.get("test", 0) / total < 0.15


def test_value_outliers_semantics(spark):
    """Anomaly-flag invariants on a handcrafted stream: an injected
    extreme value is flagged with the right sign, tight-cluster values
    are not, a user below the n>=10 support floor is never flagged
    (one wild value would dominate its own tiny sample), and a
    constant-valued user can't divide by zero."""
    from ema_bigdata_spark.operators.profiling import value_outliers

    rows = []
    # user 1: 19 values near 10, one at 1000 -> that one flags
    rows += [(i, 1, 10.0 + (i % 5) * 0.1) for i in range(19)]
    rows += [(19, 1, 1000.0)]
    # user 2: only 5 events incl. a wild one -> support floor blocks it
    rows += [(100 + i, 2, v) for i, v in enumerate([1.0, 1.0, 1.0, 1.0, 99.0])]
    # user 3: 12 identical values -> sd = 0, gated, no div-by-zero
    rows += [(200 + i, 3, 7.5) for i in range(12)]
    # user 4: values around 50 000 — vu = value×10⁶ ≈ 5e10, so the
    # vu² statistic is ~2.5e21, far beyond int64: guards the
    # decimal-widened sum (a BIGINT product would wrap silently and
    # poison the variance, suppressing the flag)
    rows += [(300 + i, 4, 50_000.0 + (i % 7) * 3.0) for i in range(19)]
    rows += [(319, 4, 90_000.0)]
    ev = spark.createDataFrame(
        rows, "event_id LONG, user_id LONG, value DOUBLE"
    )
    out = sorted(value_outliers(ev).collect(), key=lambda r: r.event_id)
    assert [(r.event_id, r.user_id) for r in out] == [(19, 1), (319, 4)]
    assert out[0].zscore > 3 and out[1].zscore > 3


def test_value_outliers_large_mean_small_sd(spark):
    """ADVICE r3 regression: |mean| ≫ sd.  Values ~1e9 with sd ~1
    made the unshifted E[x²]−E[x]² form compute variance from the
    difference of two ~1e30 doubles — the true variance (~1) vanished
    below double precision, z-scores were garbage, and the cross-engine
    oracle couldn't see it (both engines agreed on the same wrong
    number).  The min-shifted algebra must recover the exact z.

    Base sits just UNDER 1e9: the r9 domain gate (profiling.py —
    |value| ≤ 1e9 is the Σvu² headroom) must keep these rows, and the
    cancellation magnitude is unchanged."""
    import math

    from ema_bigdata_spark.operators.profiling import value_outliers

    base = 999_999_000.0
    # 19 values at base + (0..4) µ-scale offsets, one at base + 50:
    # sd ~ 10, mean offset ~ 2.6 → the spike is ~ +4.8 sd
    offsets = [float((i % 5) * 4) for i in range(19)] + [50.0]
    rows = [(i, 1, base + off) for i, off in enumerate(offsets)]
    ev = spark.createDataFrame(
        rows, "event_id LONG, user_id LONG, value DOUBLE"
    )
    out = value_outliers(ev).collect()
    assert [(r.event_id, r.user_id) for r in out] == [(19, 1)]
    # exact z from the same integer-shifted math in pure Python
    vu = [round(v * 1e6) for _, _, v in rows]
    m = min(vu)
    n = len(vu)
    sx = float(sum(u - m for u in vu))
    sxx = float(sum((u - m) ** 2 for u in vu))
    var = sxx / n - (sx / n) * (sx / n)
    z_ref = (float(vu[19] - m) - sx / n) / math.sqrt(var)
    assert z_ref > 3
    assert abs(out[0].zscore - round(z_ref, 6)) < 1e-9


class TestDupSpansProperty:
    """Hypothesis: the distributed duplicated-span statistic agrees
    with a direct pure-Python reference on arbitrary small corpora — a
    third independent implementation beyond Spark and the DuckDB
    oracle."""

    @staticmethod
    def _shingles(text):
        toks = text.split(" ")  # split(' ', -1) semantics: keeps empties
        if len(toks) >= 3:
            return [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]
        return [text]

    def _reference(self, docs):
        from collections import Counter

        per_doc = {d: Counter(self._shingles(t)) for d, t in docs}
        doc_count = Counter(
            sh for c in per_doc.values() for sh in c.keys()
        )
        out = {}
        for d, c in per_doc.items():
            n = sum(c.values())
            dup = sum(k for sh, k in c.items() if doc_count[sh] >= 2)
            out[d] = (n, dup)
        return out

    def test_dup_spans_matches_reference(self, spark):
        import hypothesis.strategies as st
        from hypothesis import given, settings

        from ema_bigdata_spark.operators.dedup import dup_span_stats

        word = st.sampled_from(["a", "b", "c", "dd", ""])
        text = st.lists(word, min_size=0, max_size=8).map(" ".join)

        @settings(max_examples=10, deadline=None)
        @given(st.lists(text, min_size=1, max_size=6))
        def run(texts):
            docs = list(enumerate(texts))
            df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
            got = {
                r.doc_id: (r.n_shingles, r.n_dup)
                for r in dup_span_stats(df).collect()
            }
            assert got == self._reference(docs)

        run()


class TestUnigramLMProperty:
    """Hypothesis: the distributed corpus-LM score agrees with a
    pure-Python reference (same micro-nat snapping) on arbitrary small
    corpora."""

    def _reference(self, docs):
        import math
        from collections import Counter

        toks = {
            d: [t for t in text.split(" ") if t != ""]
            for d, text in docs
        }
        vocab = Counter(t for ts in toks.values() for t in ts)
        total = sum(vocab.values())
        cost = {
            t: round(math.log(total / c) * 1_000_000)
            for t, c in vocab.items()
        }
        out = {}
        for d, ts in toks.items():
            if not ts:
                continue  # zero-token docs drop from the inner join
            out[d] = (
                len(ts),
                round(sum(cost[t] for t in ts) / len(ts) / 1_000_000, 6),
            )
        return out

    def test_unigram_lm_matches_reference(self, spark):
        import hypothesis.strategies as st
        from hypothesis import given, settings

        from ema_bigdata_spark.operators.text import unigram_lm

        word = st.sampled_from(["a", "b", "cc", "ddd", ""])
        text = st.lists(word, min_size=0, max_size=8).map(" ".join)

        @settings(max_examples=10, deadline=None)
        @given(st.lists(text, min_size=1, max_size=6))
        def run(texts):
            docs = list(enumerate(texts))
            if not any(t.strip(" ") for _, t in docs):
                return  # all-empty corpus: no tokens, empty output
            df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
            got = {
                r.doc_id: (r.n_tokens, r.lm_score)
                for r in unigram_lm(df).collect()
            }
            want = self._reference(docs)
            assert set(got) == set(want)
            for d in want:
                assert got[d][0] == want[d][0]
                assert got[d][1] == pytest.approx(want[d][1], abs=2e-6)

        run()


class TestMediaCodecs:
    """The r4 de-stubbed pure-Python codecs (multimodal.py): golden
    fixtures built independently of the encoder, round-trip laws, the
    spec corners (stride padding, bottom-up vs top-down rows, RIFF
    chunk walking, odd-length sample pad), and the unsupported-format
    branches."""

    def test_bmp_golden_decode(self):
        """Decode a hand-assembled 2×2 24-bit BMP (stride 8 = 6 pixel
        bytes + 2 pad, bottom-up) — bytes written from the spec, not
        via encode_bmp, so encoder and decoder can't share a bug."""
        import struct

        from ema_bigdata_spark.operators.multimodal import decode_bmp

        # image rows (top-down): [(1,2,3),(4,5,6)] / [(7,8,9),(10,11,12)]
        bottom_row = bytes([7, 8, 9, 10, 11, 12]) + b"\x00\x00"
        top_row = bytes([1, 2, 3, 4, 5, 6]) + b"\x00\x00"
        pix = bottom_row + top_row  # bottom-up storage order
        hdr = struct.pack("<2sIHHI", b"BM", 54 + len(pix), 0, 0, 54)
        info = struct.pack(
            "<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(pix), 0, 0, 0, 0
        )
        img = decode_bmp(hdr + info + pix)
        assert img.shape == (2, 2, 3)
        assert img.reshape(-1).tolist() == list(range(1, 13))

    def test_bmp_top_down_negative_height(self):
        import struct

        from ema_bigdata_spark.operators.multimodal import decode_bmp

        pix = bytes([1, 2, 3]) + b"\x00" + bytes([4, 5, 6]) + b"\x00"
        hdr = struct.pack("<2sIHHI", b"BM", 54 + len(pix), 0, 0, 54)
        info = struct.pack(
            "<IiiHHIIiiII", 40, 1, -2, 1, 24, 0, len(pix), 0, 0, 0, 0
        )
        img = decode_bmp(hdr + info + pix)  # negative height = top-down
        assert img.reshape(-1).tolist() == [1, 2, 3, 4, 5, 6]

    def test_bmp_roundtrip_all_stride_phases(self):
        """encode→decode is the identity on the data region for every
        width mod-4 stride phase and ragged tail lengths."""
        from ema_bigdata_spark.operators.multimodal import (
            decode_bmp,
            encode_bmp,
        )

        for width in (8, 9, 10, 11):
            for n in (0, 1, 3 * width - 1, 3 * width, 3 * width + 1, 100):
                data = bytes((7 * i + n) % 256 for i in range(n))
                img = decode_bmp(encode_bmp(data, width))
                flat = bytes(img.reshape(-1).tolist())
                assert flat[:n] == data
                assert set(flat[n:]) <= {0}  # zero pad only
                assert img.shape[1] == width
                assert img.shape[0] == max(1, -(-n // (3 * width)))

    def test_wav_golden_decode_with_extra_chunk(self):
        """A WAV with a LIST chunk *between* fmt and data must still
        decode (chunk walking, not fixed-offset slicing), including an
        odd-sized chunk's alignment pad byte."""
        import struct

        from ema_bigdata_spark.operators.multimodal import decode_wav

        samples = struct.pack("<3h", -32768, 0, 32767)
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        info = b"INFOx"  # 5 bytes → odd, needs 1 alignment pad
        body = (
            b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"LIST" + struct.pack("<I", len(info)) + info + b"\x00"
            + b"data" + struct.pack("<I", len(samples)) + samples
        )
        payload = b"RIFF" + struct.pack("<I", len(body)) + body
        rate, out = decode_wav(payload)
        assert rate == 8000
        assert out.tolist() == [-32768, 0, 32767]

    def test_wav_roundtrip_odd_length_pad(self):
        from ema_bigdata_spark.operators.multimodal import (
            decode_wav,
            encode_wav,
        )

        rate, out = decode_wav(encode_wav(b"\x01\x02\x03", 44100))
        assert rate == 44100
        # 3 bytes → pad to 4 → samples: 0x0201, 0x0003
        assert out.tolist() == [0x0201, 0x0003]

    def test_media_codec_hypothesis_roundtrip(self):
        """Hypothesis: arbitrary byte payloads survive BMP and WAV
        encode→decode byte-exactly (data region)."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from ema_bigdata_spark.operators.multimodal import (
            decode_bmp,
            decode_wav,
            encode_bmp,
            encode_wav,
        )

        @settings(max_examples=50, deadline=None)
        @given(st.binary(min_size=0, max_size=300),
               st.integers(min_value=1, max_value=20))
        def run(data, width):
            img = decode_bmp(encode_bmp(data, width))
            assert bytes(img.reshape(-1).tolist())[:len(data)] == data
            _, samples = decode_wav(encode_wav(data))
            raw = samples.astype("<i2").tobytes()
            assert raw[:len(data)] == data

        run()

    def test_png_golden_decode(self):
        """Decode a hand-assembled 2×2 8-bit RGB PNG (filter-0 rows,
        chunks + CRCs spliced with struct/zlib directly, NOT via
        encode_png) so encoder and decoder can't share a layout bug."""
        import struct
        import zlib

        from ema_bigdata_spark.operators.multimodal import decode_png

        def chunk(t, b):
            return (
                struct.pack(">I", len(b)) + t + b
                + struct.pack(">I", zlib.crc32(t + b))
            )

        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
        stream = (
            bytes([0, 255, 0, 0, 0, 255, 0])      # row 0: red, green
            + bytes([0, 0, 0, 255, 10, 20, 30])   # row 1: blue, misc
        )
        payload = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(stream))
            + chunk(b"IEND", b"")
        )
        img = decode_png(payload)
        assert img.tolist() == [
            [[255, 0, 0], [0, 255, 0]],
            [[0, 0, 255], [10, 20, 30]],
        ]

    def test_png_golden_decode_each_filter(self):
        """One hand-filtered golden image PER filter type: the same
        3×3 pixel content stored under Sub/Up/Average/Paeth with
        filter bytes and predictions computed by an independent
        per-byte reference in this test — catches an unfilter bug
        even if encode_png made the mirror-image mistake."""
        import struct
        import zlib

        from ema_bigdata_spark.operators.multimodal import decode_png

        def chunk(t, b):
            return (
                struct.pack(">I", len(b)) + t + b
                + struct.pack(">I", zlib.crc32(t + b))
            )

        def paeth(a, b, c):
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            if pa <= pb and pa <= pc:
                return a
            return b if pb <= pc else c

        w = h = 3
        raw = [[(r * 97 + i * 13) % 256 for i in range(w * 3)]
               for r in range(h)]
        for ftype in (1, 2, 3, 4):
            stream = bytearray()
            for r in range(h):
                stream.append(ftype)
                for i in range(w * 3):
                    x = raw[r][i]
                    a = raw[r][i - 3] if i >= 3 else 0
                    b = raw[r - 1][i] if r else 0
                    c = raw[r - 1][i - 3] if (r and i >= 3) else 0
                    if ftype == 1:
                        stream.append((x - a) % 256)
                    elif ftype == 2:
                        stream.append((x - b) % 256)
                    elif ftype == 3:
                        stream.append((x - (a + b) // 2) % 256)
                    else:
                        stream.append((x - paeth(a, b, c)) % 256)
            payload = (
                b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR",
                        struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
                + chunk(b"IDAT", zlib.compress(bytes(stream)))
                + chunk(b"IEND", b"")
            )
            img = decode_png(payload)
            assert img.reshape(h, w * 3).tolist() == raw, f"filter {ftype}"

    def test_png_roundtrip_and_filter_equivalence(self):
        """encode→decode is the identity on the data region across
        widths/lengths (multi-row images rotate through all five
        filters), and the decoded pixels are identical to the BMP
        path's view of the same bytes — two codecs, one content."""
        from ema_bigdata_spark.operators.multimodal import (
            decode_png,
            encode_png,
        )

        for width in (1, 2, 8, 9, 16):
            for n in (0, 1, 3 * width, 3 * width + 1, 200):
                data = bytes((11 * i + n) % 256 for i in range(n))
                img = decode_png(encode_png(data, width))
                flat = bytes(img.reshape(-1).tolist())
                assert flat[:n] == data
                assert set(flat[n:]) <= {0}
                assert img.shape[1] == width
                assert img.shape[0] == max(1, -(-n // (3 * width)))

    def test_png_hypothesis_roundtrip(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from ema_bigdata_spark.operators.multimodal import (
            decode_png,
            encode_png,
        )

        @settings(max_examples=50, deadline=None)
        @given(st.binary(min_size=0, max_size=400),
               st.integers(min_value=1, max_value=20))
        def run(data, width):
            img = decode_png(encode_png(data, width))
            assert bytes(img.reshape(-1).tolist())[:len(data)] == data

        run()

    def test_unsupported_formats_raise(self):
        import pytest as _pytest

        from ema_bigdata_spark.operators.multimodal import (
            decode_bmp,
            decode_media,
            decode_wav,
        )

        with _pytest.raises(NotImplementedError):
            decode_media(b"\xff\xd8\xff", "image/jpeg")
        with _pytest.raises(ValueError):
            decode_bmp(b"PNG" + b"\x00" * 60)
        with _pytest.raises(ValueError):
            decode_wav(b"RIFX" + b"\x00" * 60)


class TestGMMNumericContract:
    """The library fit carries a machine-checked numeric contract
    beyond double-run determinism: the per-iteration lnP trace must be
    non-decreasing (EM's ascent guarantee) on BOTH executors, up to the
    snap of its sums, and the fitted parameters must agree with an
    independent, naive per-row numpy EM seeded with the identical
    init."""

    @staticmethod
    def _naive_em(xs, k, iters):
        """Textbook per-row EM, written independently of gmm.py: no
        histogram, no vectorized responsibility matrix tricks — plain
        loops over the raw sample, same quantile-spread init."""
        import math

        import numpy as np

        xs = np.sort(np.asarray(xs, dtype=np.float64))
        n = len(xs)
        mu = [
            float(np.quantile(xs, (j + 1) / (k + 1), method="linear"))
            for j in range(k)
        ]
        var0 = float(np.var(xs))
        s2 = [var0] * k
        phi = [1.0 / k] * k
        trace = []
        for _ in range(iters):
            lnp = 0.0
            nj = [0.0] * k
            sx = [0.0] * k
            sxx = [0.0] * k
            for x in xs:
                dens = [
                    phi[j]
                    / math.sqrt(2.0 * math.pi * s2[j])
                    * math.exp(-((x - mu[j]) ** 2) / (2.0 * s2[j]))
                    for j in range(k)
                ]
                tot = max(sum(dens), 1e-300)
                lnp += math.log(tot)
                for j in range(k):
                    g = dens[j] / tot
                    nj[j] += g
                    sx[j] += g * x
                    sxx[j] += g * x * x
            trace.append(lnp)
            for j in range(k):
                d = max(nj[j], 1e-300)
                phi[j] = d / n
                mu[j] = sx[j] / d
                s2[j] = max(sxx[j] / d - mu[j] * mu[j], 1e-12)
        return phi, mu, s2, trace

    def _fixture(self):
        import numpy as np

        rng = np.random.default_rng(7)
        return np.round(
            np.concatenate(
                [rng.normal(-3.0, 0.8, 2000), rng.normal(4.0, 1.1, 2500)]
            ),
            2,
        )

    @staticmethod
    def _snap_slack(xs) -> float:
        """The most two snapped lnL sums can misorder: each per-bin
        snap is within 0.5/LNL_SC of its term, so a sum over the
        histogram's bins is within nbins·0.5/LNL_SC of the exact one."""
        from ema_bigdata_spark import gmm_parity as G

        return len(set(xs.tolist())) / float(G.LNL_SC)

    def test_driver_path_trace_and_reference(self, spark):
        import numpy as np

        from ema_bigdata_spark.gmm import gmm_fit

        xs = self._fixture()
        df = spark.createDataFrame([(float(v),) for v in xs], "value DOUBLE")
        model = gmm_fit(df, "value", k=2, tol=0.0, max_iter=10)
        tr = model.lnp_trace
        assert len(tr) == 10
        slack = self._snap_slack(xs)
        assert all(b >= a - slack for a, b in zip(tr, tr[1:])), tr
        assert abs(tr[-1] - model.log_likelihood) < 1e-9
        # the exact (unsnapped) lnL along the engine's own parameter
        # trajectory: the fit after i iterations is the i-th point
        vals, cnts = np.unique(xs, return_counts=True)
        exact = []
        for i in range(len(tr)):
            m = gmm_fit(df, "value", k=2, tol=0.0, max_iter=i)
            dens = sum(
                w / np.sqrt(2.0 * np.pi * v)
                * np.exp(-((vals - mu) ** 2) / (2.0 * v))
                for w, mu, v in zip(m.weights, m.means, m.variances)
            )
            exact.append(float((np.log(np.maximum(dens, 1e-300))
                                * cnts).sum()))
            assert abs(exact[-1] - tr[i]) <= slack, (i, exact[-1], tr[i])
        assert all(b >= a - 1e-6 for a, b in zip(exact, exact[1:])), exact
        phi, mu, s2, rtr = self._naive_em(xs, 2, 10)
        # same init, same math → near-identical trajectory and params
        for a, b in zip(sorted(model.means), sorted(mu)):
            assert abs(a - b) < 1e-6, (model.means, mu)
        for a, b in zip(sorted(model.variances), sorted(s2)):
            assert abs(a - b) < 1e-6
        for a, b in zip(sorted(model.weights), sorted(phi)):
            assert abs(a - b) < 1e-9
        assert abs(tr[-1] - rtr[-1]) < 1e-5 * abs(rtr[-1])

    def test_distributed_path_trace_monotone(self, spark, monkeypatch):
        from ema_bigdata_spark import gmm as gmm_mod

        xs = self._fixture()
        df = spark.createDataFrame([(float(v),) for v in xs], "value DOUBLE")
        monkeypatch.setattr(gmm_mod, "MAX_DRIVER_BINS", 4)
        model = gmm_mod.gmm_fit(df, "value", k=2, tol=0.0, max_iter=6)
        tr = model.lnp_trace
        assert len(tr) == 6
        slack = self._snap_slack(xs)
        assert all(b >= a - slack for a, b in zip(tr, tr[1:])), tr
        assert abs(tr[-1] - model.log_likelihood) < 1e-9

    def test_bic_lnl_tracks_numpy_trace(self, spark, sf_dir):
        """r6: q_gmm_bic now reports the PARITY EM's lnL evaluated at
        the FINAL parameters (after 6 updates; the pre-r6 contract was
        the numpy trace tail = lnL entering iteration 6).  The new
        value must (a) sit at or above the numpy trace tail up to
        approximation slack — EM ascent: one more M-step cannot lower
        the likelihood — and (b) stay within loose relative agreement
        of the numpy fit, pinning that the parity arithmetic (snapped
        sums + polynomial exp/ln) tracks the same optimum."""
        from ema_bigdata_spark import registry
        from ema_bigdata_spark.gmm import gmm_fit
        from ema_bigdata_spark.sources.tables import load_table

        bic_rows = {
            r.k: r.log_likelihood
            for r in registry.QUERIES["q_gmm_bic"](spark, sf_dir).collect()
        }
        ev = load_table(spark, sf_dir, "events")
        for k in (2, 3, 4):
            m = gmm_fit(ev, "value", k=k, tol=0.0, max_iter=6)
            tail = m.lnp_trace[-1]
            assert bic_rows[k] >= tail - 1e-3 * abs(tail), (k, bic_rows[k], tail)
            assert abs(bic_rows[k] - tail) < 0.02 * abs(tail), (
                k, bic_rows[k], tail,
            )

    def test_parity_fit_matches_numpy_fit(self, spark, sf_dir):
        """The library fit and the registered (oracled) ``gmm_fit`` are
        one engine: a K=3 fit with the registered 15-iteration budget
        returns the engine's parameters bit for bit, and the registered
        rows are exactly their rounding."""
        from ema_bigdata_spark import gmm_parity as G
        from ema_bigdata_spark import registry
        from ema_bigdata_spark.gmm import gmm_fit
        from ema_bigdata_spark.sources.tables import load_table

        got = {
            r.component: (r.weight, r.mean, r.variance)
            for r in registry.QUERIES["gmm_fit"](spark, sf_dir).collect()
        }
        m = gmm_fit(
            load_table(spark, sf_dir, "events"), "value",
            k=3, tol=0.0, max_iter=15,
        )
        # an earlier stop is a fixed point: later iterations repeat it
        _, P, _ = G.parity_em_spark(spark, sf_dir, 3, 15)
        want = [P[f"{a}{j}"] for a in ("phi", "mu", "s2") for j in (1, 2, 3)]
        assert _packed(dict(enumerate(m.weights + m.means + m.variances))) \
            == _packed(dict(enumerate(want)))
        for j in range(3):
            assert got[j] == (G._round6(m.weights[j]), G._round6(m.means[j]),
                              G._round6(m.variances[j])), j


class TestSemDedup:
    """q_semdedup (r4): the SemDeDup drop rule on planted fixtures —
    the kept member of a near-dup pair must be the one FARTHER from
    the cluster centroid (diversity-preserving survivorship), and the
    delete-list operator must surface planted within-cluster dups
    while leaving cross-cluster near-dups alone (blocking is
    cluster-scoped by design)."""

    def _corpus(self, spark):
        import numpy as np

        from ema_bigdata_spark.operators.similarity import _plane_weights

        planes = np.array(_plane_weights())

        def sig(v):
            return tuple(planes @ v > 0)

        rng = np.random.default_rng(31)
        rows = []
        # cluster 0: 30 background vecs loosely around a direction
        base0 = rng.normal(size=64)
        for i in range(30):
            v = base0 + 0.8 * rng.normal(size=64)
            rows.append((i + 1, [float(x) for x in v], 0))
        # planted near-dup pair in cluster 0: 201 on the centroid
        # direction; 202 perturbed just enough to shift its
        # centroid-cosine but — verified against the actual plane
        # weights — not enough to flip any LSH bit (the perturbation
        # shrinks deterministically until the signatures match)
        interior = base0 * 1.05
        noise = rng.normal(size=64)
        eps = 0.05
        outlier = interior + eps * noise
        while sig(outlier) != sig(interior):
            eps /= 2
            outlier = interior + eps * noise
        rows.append((201, [float(x) for x in interior], 0))
        rows.append((202, [float(x) for x in outlier], 0))
        # cluster 1: copy of vec 201's direction — near-dup ACROSS
        # clusters; must NOT pair (blocking is per-cluster)
        rows.append((301, [float(x) * 1.2 for x in interior], 1))
        for i in range(10):
            v = rng.normal(size=64)
            rows.append((400 + i, [float(x) for x in v], 1))
        return spark.createDataFrame(
            rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
        )

    def test_drop_rule_keeps_diverse_member(self, spark):
        from ema_bigdata_spark.operators.similarity import semdedup_pairs

        emb = self._corpus(spark)
        pairs = {
            (r.vec_keep, r.vec_drop): r
            for r in semdedup_pairs(emb).collect()
        }
        hit = [
            p for p in pairs
            if {pairs[p].vec_keep, pairs[p].vec_drop} == {201, 202}
        ]
        assert hit, f"planted pair not blocked together: {sorted(pairs)}"
        r = pairs[hit[0]]
        assert r.pair_cosine > 0.9
        # the kept member has the LOWER centroid-cosine of the two
        assert r.keep_cent_cos <= r.drop_cent_cos
        # nothing pairs across clusters despite 301 ≈ 201
        assert all(
            not ({a, b} & {301} and {a, b} & {201, 202})
            for a, b in pairs
        )

    def test_delete_list_thresholded(self, spark):
        from ema_bigdata_spark.operators.similarity import (
            semdedup_drops,
            semdedup_pairs,
        )

        emb = self._corpus(spark)
        drops = {r.vec_drop for r in semdedup_drops(emb, 0.9).collect()}
        keeps = {
            r.vec_keep
            for r in semdedup_pairs(emb).where("pair_cosine >= 0.9").collect()
        }
        assert drops, "planted dup not in delete list"
        assert drops <= {201, 202, *range(1, 31)}
        # survivors of qualifying pairs are never ALSO dropped unless
        # they lost some other qualifying pair
        for k in keeps - drops:
            assert k not in drops


def test_media_codecs_reject_malformed_supported_formats():
    """r4 review finding: malformed inputs of SUPPORTED formats must
    raise the module's clean ValueError, not a raw numpy buffer error
    or a silent truncation — a quarantine sink routes on these."""
    import struct

    import pytest as _pytest

    from ema_bigdata_spark.operators.multimodal import (
        decode_bmp,
        decode_wav,
        encode_bmp,
        encode_wav,
    )

    # BMP whose header claims more pixels than the payload carries
    good = bytearray(encode_bmp(b"abcdef", 2))
    struct.pack_into("<i", good, 22, 1000)  # height := 1000
    with _pytest.raises(ValueError, match="truncated BMP"):
        decode_bmp(bytes(good))
    # degenerate zero-width geometry
    zero_w = bytearray(encode_bmp(b"abc", 1))
    struct.pack_into("<i", zero_w, 18, 0)  # width := 0
    with _pytest.raises(ValueError, match="degenerate BMP"):
        decode_bmp(bytes(zero_w))
    # pixel offset pointing INSIDE the header (ADVICE r4: the lower
    # bound must be validated too, else header bytes silently decode
    # as pixels)
    low_off = bytearray(encode_bmp(b"abcdef", 2))
    struct.pack_into("<I", low_off, 10, 0)  # pixel offset := 0
    with _pytest.raises(ValueError, match="overlaps the 54-byte header"):
        decode_bmp(bytes(low_off))
    # WAV data chunk with an odd byte length (legal RIFF, not 16-bit PCM)
    wav = bytearray(encode_wav(b"abcd"))
    struct.pack_into("<I", wav, 40, 3)  # data size := 3 (odd)
    with _pytest.raises(ValueError, match="odd data-chunk length"):
        decode_wav(bytes(wav))
    # WAV chunk claiming more bytes than remain in the payload
    wav2 = bytearray(encode_wav(b"abcd"))
    struct.pack_into("<I", wav2, 40, 4096)
    with _pytest.raises(ValueError, match="truncated WAV"):
        decode_wav(bytes(wav2))

    from ema_bigdata_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    # PNG: bad signature
    with _pytest.raises(ValueError, match="bad signature"):
        decode_png(b"\x89PNX\r\n\x1a\n" + encode_png(b"ab", 2)[8:])
    # PNG: one flipped pixel byte inside IDAT → CRC must catch it
    good_png = bytearray(encode_png(b"abcdefgh", 2))
    good_png[8 + 25 + 8 + 10] ^= 0xFF  # inside the IDAT body
    with _pytest.raises(ValueError, match="bad CRC"):
        decode_png(bytes(good_png))
    # PNG: header geometry disagrees with the inflated stream length
    import zlib as _zlib

    def _chunk(t, b):
        return (
            struct.pack(">I", len(b)) + t + b
            + struct.pack(">I", _zlib.crc32(t + b))
        )

    short = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0))
        + _chunk(b"IDAT", _zlib.compress(bytes(13)))  # 1 row, not 4
        + _chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="pixel stream"):
        decode_png(short)
    # PNG: unsupported variant (16-bit depth) is a clean gate, not a
    # numpy shape error
    deep = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 16, 2, 0, 0, 0))
        + _chunk(b"IDAT", _zlib.compress(bytes(13)))
        + _chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="unsupported PNG"):
        decode_png(deep)
    # PNG: IDAT bytes that aren't a zlib stream
    bad_z = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0))
        + _chunk(b"IDAT", b"notzlib!")
        + _chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="IDAT"):
        decode_png(bad_z)


class TestPiiScrubReference:
    """q_pii_scrub vs Python's `re` module — a THIRD regex engine
    beyond Java regex (Spark) and RE2 (DuckDB oracle).  The patterns
    live in the three-dialect intersection, so all engines must count
    identically on planted PII and on adversarial near-misses."""

    def test_planted_and_near_miss_counts(self, spark):
        import re

        from ema_bigdata_spark.operators.text import (
            _PII_EMAIL,
            _PII_IP,
            _PII_PHONE,
            pii_scrub,
        )

        texts = [
            "mail a.b+c@ex.co and d@e.io now",
            "call 555-123-4567 or +44 123 456 7890",
            "hosts 10.0.0.1 192.168.255.254 and 999.1.1.1",
            "not-an-email a@@b.com trailing@dot. x@y.z",
            "almost phone 12-34-5678 and 5551234567",
            "",
            "plain text with no pii whatsoever",
            "edge: a@b.cd 1.2.3.4 111 222 3333",
        ]
        rows = [(i, t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
        got = {r.doc_id: r for r in pii_scrub(df).collect()}
        for i, t in rows:
            want_e = len(re.findall(_PII_EMAIL, t))
            want_p = len(re.findall(_PII_PHONE, t))
            want_i = len(re.findall(_PII_IP, t))
            assert got[i].n_emails == want_e, (t, got[i])
            assert got[i].n_phones == want_p, (t, got[i])
            assert got[i].n_ips == want_i, (t, got[i])
            clean = t
            for pat in (_PII_EMAIL, _PII_PHONE, _PII_IP):
                clean = re.sub(pat, "[PII]", clean)
            assert got[i].clean_len == len(clean), (t, clean)

    def test_hypothesis_three_engine_agreement(self, spark):
        """Random word soup with randomly planted PII tokens: Spark
        counts equal Python re counts on every document."""
        import re

        from hypothesis import given, settings
        from hypothesis import strategies as st

        from ema_bigdata_spark.operators.text import (
            _PII_EMAIL,
            _PII_IP,
            _PII_PHONE,
            pii_scrub,
        )

        pii = st.sampled_from(
            ["bob@site.org", "555-987-6543", "172.16.4.200",
             "x.y@a.bc", "+1 212 555 0100"]
        )
        word = st.text(
            alphabet="abcdefghijk.@-0123456789", min_size=0, max_size=8
        )
        doc = st.lists(st.one_of(word, pii), min_size=0, max_size=12).map(
            " ".join
        )

        @settings(max_examples=15, deadline=None)
        @given(st.lists(doc, min_size=1, max_size=5))
        def run(texts):
            df = spark.createDataFrame(
                list(enumerate(texts)), "doc_id LONG, text STRING"
            )
            got = {r.doc_id: r for r in pii_scrub(df).collect()}
            for i, t in enumerate(texts):
                assert got[i].n_emails == len(re.findall(_PII_EMAIL, t))
                assert got[i].n_phones == len(re.findall(_PII_PHONE, t))
                assert got[i].n_ips == len(re.findall(_PII_IP, t))

        run()


def test_topk_ngrams_pure_python_reference(spark):
    """q_topk_ngrams' counting semantics vs a direct pure-Python
    reference on a handcrafted corpus with within-doc repeats (the
    n_occurrences / n_docs distinction) and sub-3-token docs (whole-
    text fallback shingles)."""
    from collections import Counter

    from ema_bigdata_spark.operators.dedup import _shingles
    from pyspark.sql import functions as F

    texts = [
        "a b c a b c a b c",          # within-doc repeated trigrams
        "a b c d",
        "x y",                        # < 3 tokens -> whole text
        "a b c",
        "x y",
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id LONG, text STRING"
    )

    def shingles(t):
        toks = t.split(" ")
        if len(toks) >= 3:
            return [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]
        return [t]

    occ = Counter()
    docs = Counter()
    for t in texts:
        c = Counter(shingles(t))
        occ.update(c)
        docs.update(c.keys())

    grid = (
        df.select("doc_id", F.explode(_shingles()).alias("ngram"))
        .groupBy("doc_id", "ngram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    got = {
        r.ngram: (r.n_occ, r.n_docs)
        for r in grid.groupBy("ngram")
        .agg(
            F.sum("c").cast("long").alias("n_occ"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
        .collect()
    }
    want = {g: (occ[g], docs[g]) for g in occ}
    assert got == want


def test_session_stream_state_carries_across_batches(spark, tmp_path):
    """The stateful sessionizer's cross-batch merge (r4): the
    registered query's single-file run never reaches the
    ``state.exists`` branch, so drive session_stream with TWO
    micro-batches directly.  A session spanning the batch boundary
    must keep its batch-1 start and count (impossible without the
    state store), and a cross-batch gap must close the old session
    exactly once."""
    import time
    import uuid as _uuid

    from pyspark.sql import functions as F

    from ema_bigdata_spark.streaming.stream_queries import (
        _SESSION_GAP_US,
        _state_partitions,
        session_stream,
    )

    minute = 60 * 1_000_000
    src = tmp_path / "src"
    src.mkdir()

    def write(name, ts_list):
        spark.createDataFrame(
            [(1, int(t)) for t in ts_list], "user_id BIGINT, ts_us BIGINT"
        ).coalesce(1).write.parquet(str(src / name))

    # batch 1: two events 10 min apart -> one open session [0, 10], n=2
    write("b1", [0 * minute, 10 * minute])
    time.sleep(1.1)  # distinct mtime -> distinct micro-batch
    # batch 2: +10 min extends it; +120 min is past the 30-min gap ->
    # closes [0, 20] n=3, opens [120, 120] n=1
    write("b2", [20 * minute, 120 * minute])
    assert 100 * minute > _SESSION_GAP_US

    stream = (
        spark.readStream.schema("user_id BIGINT, ts_us BIGINT")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    sink = f"xbatch_{_uuid.uuid4().hex[:8]}"
    with _state_partitions(spark):
        q = (
            session_stream(stream)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    rows = [
        (r.start_us // minute, r.end_us // minute, r.n_events)
        for r in spark.table(sink).collect()
    ]
    # the merged session [0, 20] with n=3 proves batch 2 extended
    # batch 1's carried-over state (broken state -> (20, 20, 1))
    assert (0, 20, 3) in rows, rows
    assert (20, 20, 1) not in rows, rows
    # the cross-gap close emitted the final [0,20] exactly once, and
    # the new open tail session appeared
    assert rows.count((0, 20, 3)) == 1, rows
    assert (120, 120, 1) in rows, rows
    # batch-1's provisional tail emission is the only other row
    assert sorted(rows) == [(0, 10, 2), (0, 20, 3), (120, 120, 1)], rows


def test_winsorize_numpy_reference(spark):
    """q_winsorize vs numpy's linear-interpolated percentile on a
    handcrafted distribution: extremes clip to the integer-µ bounds,
    interior values pass through untouched, and the clip flags match
    the numpy-computed bounds exactly (third engine beyond Spark and
    the DuckDB oracle)."""
    import numpy as np

    from ema_bigdata_spark.operators.profiling import winsorize

    rng = np.random.default_rng(13)
    vals = np.round(
        np.concatenate([rng.normal(50.0, 5.0, 400), [0.001, 9999.0]]), 3
    )
    rows = [(i, "click" if i % 2 else "view", float(v))
            for i, v in enumerate(vals)]
    ev = spark.createDataFrame(
        rows, "event_id LONG, event_type STRING, value DOUBLE"
    )
    got = {r.event_id: r for r in winsorize(ev).collect()}
    assert len(got) == len(rows)
    for etype in ("click", "view"):
        vu = np.array(sorted(
            round(v * 1_000_000) for i, t, v in rows if t == etype
        ))
        lo = round(float(np.percentile(vu, 1, method="linear")))
        hi = round(float(np.percentile(vu, 99, method="linear")))
        for i, t, v in rows:
            if t != etype:
                continue
            u = round(v * 1_000_000)
            r = got[i]
            assert r.clipped_low == (u < lo), (i, v, lo)
            assert r.clipped_high == (u > hi), (i, v, hi)
            want = min(max(u, lo), hi) / 1_000_000
            assert abs(r.value_w - round(want, 6)) < 1e-9, (i, v)
    # the planted extremes actually clipped (fixture sanity)
    assert got[len(rows) - 2].clipped_low or got[len(rows) - 1].clipped_high


# -- r5 additions: retrieval / quality / ordering / multimodal -------------


def _rhalf(x: float) -> int:
    """round-half-away-from-zero — matches SQL round() in both Spark
    and DuckDB; Python's built-in round() is half-to-even and would
    diverge from the engines whenever a reference value lands exactly
    on .5 (e.g. an even-count group's interpolated median)."""
    import math

    return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))



class TestRagChunk:
    def test_chunks_reconstruct_documents(self, spark, sf_dir):
        """Concatenating each doc's chunks by their non-overlapping
        prefixes must reproduce the document exactly — chunking may
        never lose or duplicate text — and the chunk count must match
        the stride arithmetic."""
        from ema_bigdata_spark import registry
        from ema_bigdata_spark.operators.text import (
            _CHUNK_SIZE,
            _CHUNK_STRIDE,
        )
        from ema_bigdata_spark.sources.tables import load_table

        docs = {
            r["doc_id"]: r["text"]
            for r in load_table(spark, sf_dir, "documents").collect()
        }
        rows = registry.QUERIES["q_rag_chunk"](spark, sf_dir).collect()
        by_doc: dict = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
        assert set(by_doc) == set(docs)
        for doc_id, text in docs.items():
            chunks = sorted(by_doc[doc_id], key=lambda r: r["chunk_idx"])
            expect_n = max(0, len(text) - 1) // _CHUNK_STRIDE + 1
            assert len(chunks) == expect_n
            rebuilt = ""
            for i, r in enumerate(chunks):
                assert r["chunk_start"] == i * _CHUNK_STRIDE
                assert r["chunk_len"] == len(r["chunk"]) <= _CHUNK_SIZE
                assert text[r["chunk_start"]:
                            r["chunk_start"] + len(r["chunk"])] == r["chunk"]
                rebuilt += (
                    r["chunk"][:_CHUNK_STRIDE]
                    if i < len(chunks) - 1 else r["chunk"]
                )
            assert rebuilt == text


class TestBM25:
    def test_matches_pure_python_reference(self, spark, sf_dir):
        """Full-value check against an independent from-scratch BM25
        (Robertson/Sparck-Jones idf variant with +1, k1=1.2, b=0.75)
        computed over collected documents."""
        import math

        from ema_bigdata_spark import registry
        from ema_bigdata_spark.operators.text import (
            _BM25_B,
            _BM25_K1,
            _BM25_TERMS,
        )
        from ema_bigdata_spark.sources.tables import load_table

        toks = {
            r["doc_id"]: [t for t in r["text"].split(" ") if t]
            for r in load_table(spark, sf_dir, "documents").collect()
        }
        n_docs = len(toks)
        total = sum(len(v) for v in toks.values())
        df = {
            t: sum(1 for v in toks.values() if t in v) for t in _BM25_TERMS
        }
        expected = {}
        for doc_id, words in toks.items():
            dl = len(words)
            score_u = 0
            hits = 0
            for t in _BM25_TERMS:
                tf = words.count(t)
                if not tf:
                    continue
                hits += 1
                idf = math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1)
                term = (
                    idf * (tf * (_BM25_K1 + 1))
                    / (tf + _BM25_K1 * (1 - _BM25_B
                                        + _BM25_B * dl * n_docs / total))
                )
                score_u += _rhalf(term * 1_000_000)
            if hits:
                expected[doc_id] = (hits, round(score_u / 1_000_000, 6))
        got = {
            r["doc_id"]: (r["n_hit_terms"], r["bm25"])
            for r in registry.QUERIES["q_bm25"](spark, sf_dir).collect()
        }
        assert got == expected


class TestCharEntropy:
    def test_matches_counter_entropy(self, spark, sf_dir):
        """Full-value check against collections.Counter + math.log."""
        import math
        from collections import Counter

        from ema_bigdata_spark import registry
        from ema_bigdata_spark.sources.tables import load_table

        texts = {
            r["doc_id"]: r["text"]
            for r in load_table(spark, sf_dir, "documents").collect()
        }
        expected = {}
        for doc_id, text in texts.items():
            if not text:
                continue
            L = len(text)
            sum_u = sum(
                _rhalf(math.log(c) * 1_000_000) * c
                for c in Counter(text).values()
            )
            expected[doc_id] = (
                L, round(math.log(L) - sum_u / 1_000_000 / L, 6)
            )
        got = {
            r["doc_id"]: (r["n_chars"], r["entropy"])
            for r in registry.QUERIES["q_char_entropy"](
                spark, sf_dir
            ).collect()
        }
        assert got == expected
        # sanity: word-salad corpus sits in the natural-text band
        assert all(1.5 < e < 4.5 for _, e in got.values())


class TestFilterReport:
    def test_counts_match_pandas_recompute(self, spark, sf_dir):
        from collections import Counter

        from ema_bigdata_spark import registry
        from ema_bigdata_spark.operators.text import (
            _FILTER_RULES,
            STOPWORDS,
        )
        from ema_bigdata_spark.sources.tables import load_table

        rows = load_table(spark, sf_dir, "documents").collect()
        counts = {name: 0 for name, _ in _FILTER_RULES}
        counts["pass_all"] = 0
        for r in rows:
            words = [t for t in r["text"].split(" ") if t]
            tf = Counter(words)
            n_chars, n_tok = len(r["text"]), len(words)
            sum_len = sum(len(w) for w in words)
            max_tf = max(tf.values()) if tf else 0
            n_stop = sum(tf[w] for w in STOPWORDS if w in tf)
            flags = {
                "short_doc": n_chars < 150,
                "few_tokens": n_tok < 40,
                "word_len_out": sum_len < 3 * n_tok
                or sum_len > 8 * n_tok,
                "repetitive": max_tf * 5 > n_tok,
                "low_stopword": n_stop * 50 < n_tok,
            }
            for k, v in flags.items():
                counts[k] += v
            counts["pass_all"] += not any(flags.values())
        got = {
            r["rule"]: r["n_docs"]
            for r in registry.QUERIES["q_filter_report"](
                spark, sf_dir
            ).collect()
        }
        assert got == counts


class TestSourceInterleave:
    def test_round_robin_structure(self, spark, sf_dir):
        """(round, slot) must be a collision-free order key, rounds
        dense per source, slots the sorted-source index, and the whole
        assignment deterministic across runs."""
        from ema_bigdata_spark import registry

        fn = registry.QUERIES["q_source_interleave"]
        rows = fn(spark, sf_dir).collect()
        keys = {(r["round"], r["slot"]) for r in rows}
        assert len(keys) == len(rows)
        per_source: dict = {}
        for r in rows:
            per_source.setdefault(r["source"], []).append(r["round"])
        sources = sorted(per_source)
        slot_of = {r["source"]: r["slot"] for r in rows}
        for i, s in enumerate(sources):
            assert slot_of[s] == i
            assert sorted(per_source[s]) == list(range(len(per_source[s])))
        again = {
            (r["doc_id"], r["round"], r["slot"])
            for r in fn(spark, sf_dir).collect()
        }
        assert again == {(r["doc_id"], r["round"], r["slot"]) for r in rows}


class TestMMHistogram:
    def test_bins_partition_decoded_pixels(self, spark, sf_dir):
        """Bins must partition the decoded pixel bytes exactly, and
        match a direct encode→decode→bincount recompute per doc."""
        import numpy as np

        from ema_bigdata_spark import registry
        from ema_bigdata_spark.operators.multimodal import (
            _BMP_WIDTH_BASE,
            _BMP_WIDTH_SPAN,
            decode_media,
            encode_bmp,
        )
        from ema_bigdata_spark.sources.tables import load_table

        texts = {
            r["doc_id"]: r["text"]
            for r in load_table(spark, sf_dir, "documents").collect()
        }
        rows = registry.QUERIES["q_mm_histogram"](spark, sf_dir).collect()
        assert {r["doc_id"] for r in rows} == set(texts)
        for r in rows:
            assert r["h0"] + r["h1"] + r["h2"] + r["h3"] == r["n_px"]
            img = decode_media(
                encode_bmp(
                    texts[r["doc_id"]].encode(),
                    _BMP_WIDTH_BASE + r["doc_id"] % _BMP_WIDTH_SPAN,
                ),
                "image/bmp",
            )
            counts = np.bincount(img.reshape(-1) >> 6, minlength=4)
            assert [r["h0"], r["h1"], r["h2"], r["h3"]] == counts.tolist()


class TestOutlierMAD:
    def test_matches_numpy_recompute(self, spark, sf_dir):
        """Full-value check vs numpy: same fixed-point medians (linear
        interpolation on integer µ-units), same integer gate."""
        import numpy as np

        from ema_bigdata_spark import registry
        from ema_bigdata_spark.sources.tables import load_table

        rows = (
            load_table(spark, sf_dir, "events")
            .where("value IS NOT NULL")
            .select("event_id", "event_type", "value")
            .collect()
        )
        by_type: dict = {}
        for r in rows:
            by_type.setdefault(r["event_type"], []).append(
                (r["event_id"], _rhalf(r["value"] * 1_000_000))
            )
        expected = {}
        for et, pairs in by_type.items():
            vus = np.array([v for _, v in pairs], dtype=np.int64)
            med_u = _rhalf(float(np.percentile(vus, 50)))
            au = np.abs(vus - med_u)
            mad_u = _rhalf(float(np.percentile(au, 50)))
            if mad_u <= 0:
                continue
            for (eid, vu), a in zip(pairs, au):
                if 6745 * int(a) > 35000 * mad_u:
                    expected[eid] = (et, round(0.6745 * int(a) / mad_u, 6))
        got = {
            r["event_id"]: (r["event_type"], r["mad_z"])
            for r in registry.QUERIES["q_outlier_mad"](
                spark, sf_dir
            ).collect()
        }
        assert got == expected
        assert expected  # the fixture must actually exercise the gate


class TestZorderLayout:
    def test_matches_python_bit_interleave(self, spark, sf_dir):
        from collections import defaultdict

        from ema_bigdata_spark import registry
        from ema_bigdata_spark.sources.tables import load_table

        def z(a: int, b: int) -> int:
            out = 0
            for i in range(8):
                out |= ((a >> i) & 1) << (2 * i)
                out |= ((b >> i) & 1) << (2 * i + 1)
            return out

        agg: dict = defaultdict(list)
        for r in load_table(spark, sf_dir, "events").select(
            "user_id", "ts"
        ).collect():
            a = r["user_id"] % 256
            b = (r["ts"].hour * 60 + r["ts"].minute) % 256
            agg[z(a, b) // 4096].append((a, b))
        expected = {
            zb: (
                len(v),
                min(a for a, _ in v), max(a for a, _ in v),
                min(b for _, b in v), max(b for _, b in v),
            )
            for zb, v in agg.items()
        }
        got = {
            r["zbucket"]: (r["n_rows"], r["min_a"], r["max_a"],
                           r["min_b"], r["max_b"])
            for r in registry.QUERIES["q_zorder_layout"](
                spark, sf_dir
            ).collect()
        }
        assert got == expected
        # the point of the layout: every bucket's per-dimension spread
        # is a fraction of the unsorted 255+255
        for r in registry.QUERIES["q_zorder_layout"](
            spark, sf_dir
        ).collect():
            assert r["spread"] == (r["max_a"] - r["min_a"]
                                   + r["max_b"] - r["min_b"]) <= 320


class TestPageRank:
    def test_matches_pure_python_pagerank(self, spark, sf_dir):
        """Full-value check vs an independent dict-based PageRank with
        the identical integer-µ update rule, and structural sanity:
        conservation (ranks stay near 1) and determinism."""
        from collections import defaultdict

        from ema_bigdata_spark import registry
        from ema_bigdata_spark.sources.tables import load_table

        orders = {
            r["o_orderkey"]: r["o_custkey"]
            for r in load_table(spark, sf_dir, "orders").collect()
        }
        pairs = set()
        for r in load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey"
        ).collect():
            cust = orders.get(r["l_orderkey"])
            if cust is not None:
                pairs.add((cust * 2, r["l_suppkey"] * 2 + 1))
        out_edges = defaultdict(list)
        for c, s in pairs:
            out_edges[c].append(s)
            out_edges[s].append(c)
        n = len(out_edges)
        r0_u = _rhalf(1_000_000 / n)
        t_u = _rhalf(150_000 / n)
        ranks = {v: r0_u for v in out_edges}
        for _ in range(3):
            nxt = defaultdict(int)
            for src, dsts in out_edges.items():
                contrib = _rhalf(0.85 * ranks[src] / len(dsts))
                for d in dsts:
                    nxt[d] += contrib
            ranks = {v: t_u + s for v, s in nxt.items()}
        expected = {
            v: (v % 2 == 1, round(u / 1_000_000, 6))
            for v, u in ranks.items()
        }
        got = {
            r["node"]: (r["is_supplier"], r["rank"])
            for r in registry.QUERIES["q_pagerank"](
                spark, sf_dir
            ).collect()
        }
        assert got == expected
        total = sum(rank for _, rank in got.values())
        assert 0.9 < total < 1.1  # teleport rounding aside, conserved


def test_anomaly_stream_state_carries_across_batches(spark, tmp_path):
    """The streaming anomaly detector's cross-batch state (r5): the
    registered query's single-file run never reaches the
    ``state.exists`` branch, so drive anomaly_stream with TWO
    micro-batches.  A batch-2 outlier must be judged against the
    (n, Σv, Σv²) carried over from batch 1 — with broken state the
    key restarts at n=0 < MIN_N and emits nothing."""
    import time
    import uuid as _uuid

    from ema_bigdata_spark.streaming.stream_queries import (
        _ANOM_MIN_N,
        _state_partitions,
        anomaly_stream,
    )

    src = tmp_path / "asrc"
    src.mkdir()

    def write(name, rows):
        spark.createDataFrame(
            rows,
            "user_id BIGINT, ts_us BIGINT, event_id BIGINT,"
            " value DOUBLE, vu BIGINT",
        ).coalesce(1).write.parquet(str(src / name))

    # batch 1: MIN_N calm events (vu = 1000 ± 1) — builds state, emits
    # nothing (each event judged against its PRIORS only)
    calm = [
        (1, i * 1_000_000, i, 10.0, 1000 + (i % 2)) for i in range(_ANOM_MIN_N)
    ]
    write("b1", calm)
    time.sleep(1.1)  # distinct mtime -> distinct micro-batch
    # batch 2: one wild value then one calm value
    write("b2", [
        (1, 100_000_000, 100, 500.0, 50_000),
        (1, 101_000_000, 101, 10.0, 1000),
    ])

    stream = (
        spark.readStream.schema(
            "user_id BIGINT, ts_us BIGINT, event_id BIGINT,"
            " value DOUBLE, vu BIGINT"
        )
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    sink = f"xanom_{_uuid.uuid4().hex[:8]}"
    with _state_partitions(spark):
        q = (
            anomaly_stream(stream)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    rows = [
        (r.event_id, r.value, r.n_prior)
        for r in spark.table(sink).collect()
    ]
    # ONLY the wild event fires, judged against exactly the 10
    # batch-1 priors (n_prior carries across the batch boundary);
    # the calm follower is absorbed by the post-outlier variance
    assert rows == [(100, 500.0, _ANOM_MIN_N)], rows


class TestAnnPQ:
    def test_codes_are_valid_and_recall_holds(self, spark, sf_dir):
        """Structural checks on the PQ pipeline: the registered query's
        recall bool is TRUE at test scale, the returned top-k is
        deterministic, and the codebooks have the declared geometry."""
        from ema_bigdata_spark import registry
        from ema_bigdata_spark.operators.similarity import (
            _PQ_K,
            _PQ_M,
            _PQ_SUB,
            _pq_codebooks,
            ann_pq_topk,
        )

        books = _pq_codebooks(spark, sf_dir)
        assert len(books) == _PQ_M
        assert all(len(b) == _PQ_K for b in books)
        assert all(len(c) == _PQ_SUB for b in books for c in b)
        row = registry.QUERIES["q_ann_pq"](spark, sf_dir).collect()
        assert len(row) == 1 and row[0]["pq_recall_ok"]
        got = [r["vec_id"] for r in ann_pq_topk(spark, sf_dir).collect()]
        assert len(got) == len(set(got)) == 10
        again = [r["vec_id"] for r in ann_pq_topk(spark, sf_dir).collect()]
        assert got == again

    def test_training_memo_is_per_process_and_deterministic(
        self, spark, sf_dir
    ):
        """VERDICT r12 item 4 (pin-ledger pricing): ``_PQ_CACHE`` /
        ``_IVF_CACHE`` memoize codebook/centroid TRAINING within one
        process — a plain module dict, nothing persisted — so a cold
        process always trains at least once, and a retrain from the
        same parquet yields bit-identical codebooks (the memo can never
        change a result, only skip recomputing it).  This pins both
        halves: clear the memo → the next call re-trains (the key
        reappears) and the retrained books equal the memoized ones."""
        from ema_bigdata_spark.operators import similarity as S

        books = S._pq_codebooks(spark, sf_dir)
        assert sf_dir in S._PQ_CACHE
        S._PQ_CACHE.pop(sf_dir)
        retrained = S._pq_codebooks(spark, sf_dir)
        assert sf_dir in S._PQ_CACHE  # trained again in this process
        assert retrained == books  # bit-identical: memo is cost-only
        cents = S._ivf_centroids(spark, sf_dir)
        S._IVF_CACHE.pop(sf_dir)
        assert S._ivf_centroids(spark, sf_dir) == cents


class TestSkyline:
    def test_matches_quadratic_definition(self, spark, sf_dir):
        """The bucket-prescreen decomposition must return the EXACT
        set the O(n²) dominance definition gives — including
        both-axis ties (mutually non-dominating, all survive)."""
        from ema_bigdata_spark import registry
        from ema_bigdata_spark.sources.tables import load_table

        rows = [
            (r["p_partkey"], _rhalf(r["p_retailprice"] * 100), r["p_size"])
            for r in load_table(spark, sf_dir, "part").collect()
        ]
        expected = {
            (k, pc, sz)
            for k, pc, sz in rows
            if not any(
                qc <= pc and qs <= sz and (qc < pc or qs < sz)
                for _, qc, qs in rows
            )
        }
        got = {
            (r["p_partkey"], _rhalf(r["price"] * 100), r["p_size"])
            for r in registry.QUERIES["q_skyline"](spark, sf_dir).collect()
        }
        assert got == expected
        assert got  # non-vacuous


class TestCDCMerge:
    def test_all_four_classes_on_synthetic_fixture(self, spark):
        """Drive cdc_merge with a crafted fixture hitting every op
        class — insert / update / unchanged (incl. NULL = NULL) /
        carry — and latest-per-key tie-breaks inside each side."""
        import datetime as dt

        from ema_bigdata_spark.operators.windows import cdc_merge

        def ev(rows):
            return spark.createDataFrame(
                [
                    (eid, dt.datetime(2024, 1, d), u, t, v)
                    for eid, d, u, t, v in rows
                ],
                "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT,"
                " event_type STRING, value DOUBLE",
            )

        snap = ev([
            (1, 1, 1, "a", 10.0),   # updated later
            (2, 2, 1, "a", 11.0),   # ← latest in snap
            (3, 1, 2, "a", 20.0),   # unchanged later
            (4, 1, 3, "a", None),   # NULL, matched by NULL → unchanged
            (5, 1, 4, "a", 40.0),   # carried (no batch row)
            (11, 1, 6, "a", 60.0),  # overwritten by NULL later
        ])
        batch = ev([
            (6, 5, 1, "a", 12.0),   # update (vs 11.0)
            (7, 5, 2, "a", 20.0),   # unchanged
            (8, 5, 3, "a", None),   # NULL = NULL → unchanged
            (9, 5, 5, "a", 50.0),   # insert
            (10, 6, 5, "a", 51.0),  # ← latest in batch
            (12, 5, 6, "a", None),  # NULL overwrites 60.0 → update/NULL
        ])
        got = {
            (r["user_id"], r["op"], r["final_value"])
            for r in cdc_merge(snap, batch).collect()
        }
        assert got == {
            (1, "update", 12.0),
            (2, "unchanged", 20.0),
            (3, "unchanged", None),
            (4, "carry", 40.0),
            (5, "insert", 51.0),
            (6, "update", None),  # batch NULL wins; never resurrected
        }

    def test_registered_query_classes(self, spark, sf_dir):
        from ema_bigdata_spark import registry

        ops = {
            r["op"]
            for r in registry.QUERIES["q_cdc_merge"](
                spark, sf_dir
            ).collect()
        }
        # the dense fixture has no silent keys → no carry here (the
        # synthetic test above pins that class)
        assert {"insert", "update"} <= ops


class TestGapfill:
    def test_spine_dense_and_locf_vs_python(self, spark, sf_dir):
        """Recompute the whole gap-fill independently in pure Python
        (dict-of-days LOCF) and compare every output row; also assert
        the spine is dense (one row per user per day, no holes)."""
        import datetime as dt
        from collections import defaultdict

        from ema_bigdata_spark import registry

        raw = (
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .where("event_type = 'purchase'")
            .select("ts", "user_id", "value")
            .collect()
        )
        daily: dict[tuple[int, dt.date], int] = defaultdict(int)
        for r in raw:
            daily[(r["user_id"], r["ts"].date())] += round(r["value"] * 100)
        expected = {}
        by_user: dict[int, list[dt.date]] = defaultdict(list)
        for (u, d) in daily:
            by_user[u].append(d)
        for u, ds in by_user.items():
            cur = None
            day = min(ds)
            while day <= max(ds):
                gap = (u, day) not in daily
                if not gap:
                    cur = daily[(u, day)]
                expected[(u, day)] = (cur / 100.0, gap)
                day += dt.timedelta(days=1)

        got = {
            (r["user_id"], r["day"]): (r["sum_value"], r["is_gap"])
            for r in registry.QUERIES["q_gapfill"](spark, sf_dir).collect()
        }
        assert got == expected
        assert any(gap for _, gap in got.values())  # fills real gaps


class TestBpePairs:
    def test_full_value_match_vs_python(self, spark, sf_dir):
        """Independent Counter-based recompute of the weighted
        char-pair frequencies; the Spark top-50 must equal the Python
        top-50 under the same (freq DESC, pair ASC) total order."""
        from collections import Counter

        from ema_bigdata_spark import registry

        texts = [
            r["text"]
            for r in spark.read.parquet(
                f"{sf_dir}/documents.parquet"
            ).collect()
        ]
        words = Counter(
            w for t in texts for w in t.split(" ") if w != ""
        )
        pairs: Counter = Counter()
        for w, n in words.items():
            for i in range(len(w) - 1):
                pairs[w[i : i + 2]] += n
        expected = sorted(
            pairs.items(), key=lambda kv: (-kv[1], kv[0])
        )[:50]

        got = [
            (r["pair"], r["freq"])
            for r in registry.QUERIES["q_bpe_pairs"](spark, sf_dir)
            .orderBy(F.desc("freq"), F.asc("pair"))
            .collect()
        ]
        assert got == expected
        assert got  # non-vacuous


class TestBigramLM:
    def test_full_value_match_vs_python(self, spark, sf_dir):
        """Independent pure-Python bigram-LM recompute (Counter
        counts, add-0.5 smoothing, snap-then-sum) — every doc's
        (n_bigrams, lm_score) must match exactly."""
        import math
        from collections import Counter, defaultdict

        from ema_bigdata_spark import registry

        rows = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
        doc_bigrams: dict[int, list[tuple[str, str]]] = {}
        bg: Counter = Counter()
        for r in rows:
            t = [w for w in r["text"].split(" ") if w != ""]
            if len(t) < 2:
                continue
            ps = list(zip(t, t[1:]))
            doc_bigrams[r["doc_id"]] = ps
            bg.update(ps)
        nv = len({w2 for (_, w2) in bg})
        cw: dict[str, int] = defaultdict(int)
        for (w1, _), n in bg.items():
            cw[w1] += n
        cost = {
            p: int(half_up(
                math.log((cw[p[0]] + 0.5 * nv) / (n + 0.5)) * 1e6
            ))
            for p, n in bg.items()
        }
        expected = {}
        for d, ps in doc_bigrams.items():
            s = sum(cost[p] for p in ps)
            expected[d] = (len(ps), half_up(s / len(ps) / 1e6, 6))

        got = {
            r["doc_id"]: (r["n_bigrams"], r["lm_score"])
            for r in registry.QUERIES["q_bigram_lm"](
                spark, sf_dir
            ).collect()
        }
        assert got == expected
        assert got  # non-vacuous

    def test_fluent_scores_below_gibberish(self, spark):
        """A corpus of one repeated fluent sentence + one gibberish
        doc: the gibberish doc must score strictly higher (the filter
        direction CCNet relies on)."""
        from ema_bigdata_spark.operators.text import bigram_lm

        fluent = "the quick brown fox jumps over the lazy dog"
        docs = spark.createDataFrame(
            [(i, fluent) for i in range(20)]
            + [(99, "zq xv qp vk jx wq zz xq vv kk")],
            "doc_id BIGINT, text STRING",
        )
        got = {
            r["doc_id"]: r["lm_score"] for r in bigram_lm(docs).collect()
        }
        assert got[99] > got[0]


class TestWeightedSample:
    def test_exact_match_vs_python_race(self, spark, sf_dir):
        """Recompute the Efraimidis–Spirakis race in pure Python
        (hashlib md5 60-bit uniform, snapped key, doc_id tiebreak)
        and compare the full winner sets."""
        import hashlib
        import math
        from collections import defaultdict

        from ema_bigdata_spark import registry
        from ema_bigdata_spark.operators.text import _WS_K

        rows = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
        per_src = defaultdict(list)
        for r in rows:
            if r["n_chars"] <= 0:
                continue
            h = int(hashlib.md5(r["text"].encode()).hexdigest()[:15], 16)
            key_u = int(half_up(
                -math.log((h + 1.0) / 1152921504606846977.0)
                / r["n_chars"]
                * 1e9
            ))
            per_src[r["source"]].append((key_u, r["doc_id"], r["n_chars"]))
        expected = set()
        for src, lst in per_src.items():
            for rk, (ku, did, nc) in enumerate(sorted(lst)[:_WS_K], 1):
                expected.add((src, did, nc, rk))

        got = {
            (r["source"], r["doc_id"], r["n_chars"], r["rk"])
            for r in registry.QUERIES["q_weighted_sample"](
                spark, sf_dir
            ).collect()
        }
        assert got == expected
        assert got  # non-vacuous


class TestEventTransitions:
    def test_full_match_vs_python(self, spark, sf_dir):
        """Rebuild every user's event sequence in Python, count
        transitions, and compare counts + row-normalized
        probabilities exactly."""
        from collections import Counter, defaultdict

        from ema_bigdata_spark import registry

        rows = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
        per_user = defaultdict(list)
        for r in rows:
            per_user[r["user_id"]].append(
                (r["ts"], r["event_id"], r["event_type"])
            )
        cnt: Counter = Counter()
        for seq in per_user.values():
            seq.sort()
            for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
                cnt[(a, b)] += 1
        tot = defaultdict(int)
        for (a, _), n in cnt.items():
            tot[a] += n
        expected = {
            (a, b, n, half_up(n / tot[a], 6)) for (a, b), n in cnt.items()
        }

        got = {
            (r["from_type"], r["to_type"], r["cnt"], r["p"])
            for r in registry.QUERIES["q_event_transitions"](
                spark, sf_dir
            ).collect()
        }
        assert got == expected
        assert got

    def test_probabilities_sum_to_one(self, spark, sf_dir):
        from collections import defaultdict

        from ema_bigdata_spark import registry

        sums = defaultdict(float)
        for r in registry.QUERIES["q_event_transitions"](
            spark, sf_dir
        ).collect():
            sums[r["from_type"]] += r["p"]
        assert sums and all(
            abs(s - 1.0) < 1e-4 for s in sums.values()
        )


class TestABTTest:
    def test_t_stat_vs_scipy_free_recompute(self, spark, sf_dir):
        """Welch t recomputed from the raw cent values in pure Python
        (no scipy needed) — means and t must match to the rounding
        grid, and the significance flag must be consistent."""
        import math

        from ema_bigdata_spark import registry

        rows = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
        arms = {"click": [], "view": []}
        for r in rows:
            if r["event_type"] in arms:
                arms[r["event_type"]].append(round(r["value"] * 100))
        c, v = arms["click"], arms["view"]

        def stats(xs):
            n = len(xs)
            s = sum(xs)
            q = sum(x * x for x in xs)
            var = (q - s * s / n) / (n - 1)  # cent^2
            return n, s / n / 100.0, var / 10000.0

        n1, m1, v1 = stats(c)
        n2, m2, v2 = stats(v)
        t = (m1 - m2) / math.sqrt(v1 / n1 + v2 / n2)

        [row] = registry.QUERIES["q_ab_ttest"](spark, sf_dir).collect()
        assert (row["n1"], row["n2"]) == (n1, n2)
        assert abs(row["mean1"] - m1) < 1e-6
        assert abs(row["mean2"] - m2) < 1e-6
        assert abs(row["t_stat"] - t) < 1e-5
        assert row["significant"] == (abs(row["t_stat"]) > 1.96)


class TestEmbedCovariance:
    def test_full_match_vs_numpy(self, spark, sf_dir):
        """Covariance recomputed with numpy on the same snapped
        integers — all 2 080 upper-tri cells must match exactly; also
        pin shape and diagonal non-negativity."""
        import numpy as np

        from ema_bigdata_spark import registry

        rows = spark.read.parquet(
            f"{sf_dir}/embeddings.parquet"
        ).collect()
        X = np.array(
            [r["embedding"] for r in rows], dtype=np.float64
        )  # float32 → float64 widening, same as both engines
        n, d = X.shape
        # snapped second moments / means exactly as the operator does
        def np_half_up(a):
            # engine ROUND semantics (half away from zero), not rint
            return np.sign(a) * np.floor(np.abs(a) + 0.5)

        P = np_half_up(
            np.einsum("ni,nj->nij", X, X) * 1e9
        ).astype(np.int64).sum(axis=0)
        S = np_half_up(X * 1e6).astype(np.int64).sum(axis=0)
        expected = {}
        for i in range(d):
            for j in range(i, d):
                cov = P[i, j] / 1e9 / n - (S[i] / 1e6 / n) * (
                    S[j] / 1e6 / n
                )
                expected[(i, j)] = half_up(cov, 6)

        got = {
            (r["i"], r["j"]): r["cov"]
            for r in registry.QUERIES["q_embed_covariance"](
                spark, sf_dir
            ).collect()
        }
        assert len(got) == d * (d + 1) // 2
        mism = {
            k: (got[k], expected[k])
            for k in expected
            if abs(got[k] - expected[k]) > 1e-9
        }
        assert not mism, list(mism.items())[:5]
        assert all(got[(i, i)] >= 0 for i in range(d))


class TestGapfillHypothesis:
    def test_random_sparse_series_match_reference(self, spark):
        """Hypothesis: arbitrary sparse (user, day, cents) observation
        sets — the spine must be dense per user, LOCF must carry the
        latest observed daily SUM, and gap flags must mark exactly
        the unobserved days."""
        import datetime as dt
        from collections import defaultdict

        import hypothesis.strategies as st
        from hypothesis import given, settings

        from ema_bigdata_spark.operators.analytics import gapfill

        @settings(max_examples=10, deadline=None)
        @given(
            st.lists(
                st.tuples(
                    st.integers(0, 2),        # user
                    st.integers(0, 20),       # day offset in 2024-01
                    st.integers(-500, 500),   # value in cents
                ),
                min_size=1,
                max_size=40,
            )
        )
        def run(raw):
            rows = [
                (
                    eid,
                    dt.datetime(2024, 1, 1) + dt.timedelta(days=d, hours=eid % 24),
                    u,
                    c / 100.0,
                )
                for eid, (u, d, c) in enumerate(raw)
            ]
            df = spark.createDataFrame(
                rows,
                "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT,"
                " value DOUBLE",
            )
            daily = defaultdict(int)
            for _, ts, u, v in rows:
                daily[(u, ts.date())] += round(v * 100)
            expected = {}
            by_user = defaultdict(list)
            for (u, d) in daily:
                by_user[u].append(d)
            for u, ds in by_user.items():
                cur = None
                day = min(ds)
                while day <= max(ds):
                    gap = (u, day) not in daily
                    if not gap:
                        cur = daily[(u, day)]
                    expected[(u, day)] = (cur / 100.0, gap)
                    day += dt.timedelta(days=1)
            got = {
                (r["user_id"], r["day"]): (r["sum_value"], r["is_gap"])
                for r in gapfill(df).collect()
            }
            assert got == expected

        run()


class TestCDCMergeHypothesis:
    def test_random_splits_match_reference(self, spark):
        """Hypothesis: arbitrary event sets split at an arbitrary
        point — cdc_merge must classify every key exactly as the
        compact-then-merge Python reference does (incl. NULL values
        and latest-per-key tie-breaks on (ts, event_id))."""
        import datetime as dt

        import hypothesis.strategies as st
        from hypothesis import given, settings

        from ema_bigdata_spark.operators.windows import cdc_merge

        @settings(max_examples=10, deadline=None)
        @given(
            st.lists(
                st.tuples(
                    st.integers(0, 3),                      # user
                    st.integers(0, 9),                      # day
                    st.one_of(st.none(), st.integers(0, 3)),  # value
                ),
                min_size=1,
                max_size=30,
            ),
            st.integers(1, 9),  # split day
        )
        def run(raw, split):
            rows = [
                (
                    eid,
                    dt.datetime(2024, 1, 1) + dt.timedelta(days=d),
                    u,
                    "a",
                    float(v) if v is not None else None,
                )
                for eid, (u, d, v) in enumerate(raw)
            ]
            df = spark.createDataFrame(
                rows,
                "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT,"
                " event_type STRING, value DOUBLE",
            )
            cut = dt.datetime(2024, 1, 1) + dt.timedelta(days=split)

            def compact(side):
                best = {}
                for eid, ts, u, t, v in side:
                    k = (u, t)
                    if k not in best or (ts, eid) > (best[k][0], best[k][1]):
                        best[k] = (ts, eid, v)
                return best

            snap = compact([r for r in rows if r[1] < cut])
            batch = compact([r for r in rows if r[1] >= cut])
            expected = {}
            for k in set(snap) | set(batch):
                if k not in snap:
                    op, v = "insert", batch[k][2]
                elif k not in batch:
                    op, v = "carry", snap[k][2]
                elif batch[k][2] == snap[k][2]:
                    op, v = "unchanged", batch[k][2]
                else:
                    op, v = "update", batch[k][2]
                expected[k] = (op, v)

            got = {
                (r["user_id"], r["event_type"]): (r["op"], r["final_value"])
                for r in cdc_merge(
                    df.where(F.col("ts") < F.lit(cut)),
                    df.where(F.col("ts") >= F.lit(cut)),
                ).collect()
            }
            assert got == expected

        run()


def test_stream_topk_rank_reflects_cross_batch_counts(spark, tmp_path):
    """s_stream_topk's shape: windowed counts must ACCUMULATE across
    micro-batches and the downstream rank must follow the accumulated
    totals — batch 1 puts type 'a' ahead; batch 2's extra 'b' rows
    flip the order."""
    import time
    import uuid as _uuid

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import Window

    d = tmp_path / "topk_src"
    d.mkdir()

    def write(name, rows):
        pdf = pd.DataFrame(rows, columns=["event_type", "ts_us"])
        table = pa.Table.from_pandas(pdf).cast(
            pa.schema([("event_type", pa.string()), ("ts_us", pa.int64())])
        )
        pq.write_table(table, str(d / name))

    h = 3_600_000_000  # one hour in µs; all rows in window [0, 1h)
    batches = [
        ("a.parquet", [("a", 100), ("a", 200), ("b", 300)]),
        ("b.parquet", [("b", 400), ("b", 500)]),  # b overtakes a
    ]
    for name, rows in batches:
        write(name, rows)
        time.sleep(1.1)
    assert all(t < h for _, rs in batches for _, t in rs)

    stream = (
        spark.readStream.schema("event_type STRING, ts_us BIGINT")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
        .withColumn("ts", F.timestamp_micros("ts_us"))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    sink = f"topktest_{_uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rk = F.row_number().over(
        Window.partitionBy("w").orderBy(F.desc("n"), F.asc("event_type"))
    )
    out = [
        (r.event_type, r.n, r.rk)
        for r in spark.table(sink)
        .withColumn("rk", rk)
        .orderBy("rk")
        .collect()
    ]
    assert out == [("b", 3, 1), ("a", 2, 2)]


# -- q_kmeans / q_linreg: exact recomputes (operators/ml.py) --------------


class TestKMeans:
    def test_full_match_vs_python_lloyd(self, spark, sf_dir):
        """Recompute the fixed-point Lloyd fit in pure Python from the
        raw values and demand bit-identical clusters/means — pins the
        integer-division update, the tie-break, and the empty-cluster
        carry against both engines' SQL."""
        registry.load_all()
        vals = [
            int(round(r.value * 100))
            for r in load_table(spark, sf_dir, "events")
            .select("value")
            .collect()
        ]
        from collections import Counter

        hist = Counter(vals)
        c = [min(hist), (min(hist) + max(hist)) // 2, max(hist)]
        for _ in range(3):
            sv = [0, 0, 0]
            sn = [0, 0, 0]
            for v, n in hist.items():
                d = [abs(v - ck) for ck in c]
                k = d.index(min(d))  # ties -> lower id, same as SQL
                sv[k] += v * n
                sn[k] += n
            c = [sv[k] // sn[k] if sn[k] else c[k] for k in range(3)]
        exp = {}
        sv = [0, 0, 0]
        sn = [0, 0, 0]
        for v, n in hist.items():
            d = [abs(v - ck) for ck in c]
            k = d.index(min(d))
            sv[k] += v * n
            sn[k] += n
        for k in range(3):
            if sn[k]:
                exp[k + 1] = (
                    sn[k],
                    round(sv[k] / sn[k] / 100.0, 6),
                    round(c[k] / 100.0, 6),
                )
        got = {
            r.cluster_id: (r.n_points, r.mean_value, r.centroid_value)
            for r in registry.QUERIES["q_kmeans"](spark, sf_dir).collect()
        }
        assert got == exp

    def test_partition_is_total(self, spark, sf_dir):
        registry.load_all()
        total = load_table(spark, sf_dir, "events").count()
        out = registry.QUERIES["q_kmeans"](spark, sf_dir).collect()
        assert sum(r.n_points for r in out) == total

    def test_negative_values_floor_division_cross_engine(self, spark, duck):
        """r6 review regression: both engines' native integer division
        TRUNCATES toward zero (Spark DIV; DuckDB // — verified on 1.0,
        contrary to ADVICE r5's floor claim), so fdiv spells explicit
        floor division on BOTH sides.  On a negative-value fixture with
        odd negative cluster sums, Spark SQL, DuckDB SQL, and the
        Python floor recompute must agree exactly — pre-fix the two
        SQL dialects diverged (e.g. centroid -3.02 vs -3.01)."""
        from collections import Counter

        from ema_bigdata_spark.operators.ml import _kmeans_body

        cents_vals = [-701, 100, -301, -302, -302, 455, -99]
        hist = Counter(cents_vals)
        rows = [(v, n) for v, n in sorted(hist.items())]
        spark.createDataFrame(rows, "v LONG, n LONG").createOrReplaceTempView(
            "v_kmeans_hist_neg"
        )
        sgot = {
            r.cluster_id: (r.n_points, r.mean_value, r.centroid_value)
            for r in spark.sql(
                _kmeans_body("spark", "v_kmeans_hist_neg", with_hist_cte=False)
            ).collect()
        }
        duck.execute("CREATE OR REPLACE TABLE t_kmeans_hist_neg(v BIGINT, n BIGINT)")
        duck.executemany("INSERT INTO t_kmeans_hist_neg VALUES (?, ?)", rows)
        dgot = {
            r[0]: (r[1], r[2], r[3])
            for r in duck.execute(
                _kmeans_body("duckdb", "t_kmeans_hist_neg", with_hist_cte=False)
            ).fetchall()
        }
        # python floor recompute (// IS floor in Python)
        c = [min(hist), (min(hist) + max(hist)) // 2, max(hist)]
        for _ in range(3):
            sv, sn = [0, 0, 0], [0, 0, 0]
            for v, n in hist.items():
                d = [abs(v - ck) for ck in c]
                k = d.index(min(d))
                sv[k] += v * n
                sn[k] += n
            c = [sv[k] // sn[k] if sn[k] else c[k] for k in range(3)]
        exp = {}
        sv, sn = [0, 0, 0], [0, 0, 0]
        for v, n in hist.items():
            d = [abs(v - ck) for ck in c]
            k = d.index(min(d))
            sv[k] += v * n
            sn[k] += n
        for k in range(3):
            if sn[k]:
                exp[k + 1] = (
                    sn[k],
                    round(sv[k] / sn[k] / 100.0, 6) + 0.0,
                    round(c[k] / 100.0, 6) + 0.0,
                )
        assert sgot == exp, (sgot, exp)
        assert dgot == exp, (dgot, exp)


class TestLinreg:
    def test_full_match_vs_numpy_moments(self, spark, sf_dir):
        registry.load_all()
        rows = (
            load_table(spark, sf_dir, "lineitem")
            .groupBy("l_orderkey")
            .agg(F.count(F.lit(1)).alias("xi"))
            .join(
                load_table(spark, sf_dir, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .select("xi", "o_totalprice")
            .collect()
        )
        xs = [r.xi for r in rows]
        ys = [int(round(r.o_totalprice * 10000)) for r in rows]
        n = float(len(xs))
        sx, sy = float(sum(xs)), float(sum(ys))
        sxy = float(sum(x * y for x, y in zip(xs, ys)))
        sxx = float(sum(x * x for x in xs))
        syy = float(sum(y * y for y in ys))
        num, den = n * sxy - sx * sy, n * sxx - sx * sx
        exp = (
            int(n),
            round(num / den / 10000.0, 6),
            round((sy - num / den * sx) / n / 10000.0, 6),
            round(num * num / (den * (n * syy - sy * sy)), 6),
        )
        [r] = registry.QUERIES["q_linreg"](spark, sf_dir).collect()
        assert (r.n_orders, r.slope, r.intercept, r.r2) == exp


class TestSignedZeroParity:
    """Regression guards for the r5 official red row (q_embed_covariance):
    Spark's BigDecimal HALF_UP round(x, 6) emits +0.0 for tiny-negative x
    while DuckDB's round keeps -0.0 — equal values, different bit
    patterns, and the driver hash is bit-sensitive.  Two invariants:
    the local harness must SEE the difference, and the shared-text
    `+ CAST(0 AS DOUBLE)` guard must erase it on both engines."""

    def test_norm_is_bit_faithful_for_signed_zero(self):
        from tests.oracle import _norm

        assert _norm(-0.0) != _norm(0.0)
        assert _norm(-0.0) == _norm(-0.0)
        assert _norm(float("nan")) == _norm(float("nan"))

    def test_guard_canonicalizes_both_engines(self, spark, duck):
        # -4e-7 rounds(6) to a signed zero; the guard must yield +0.0 bits
        expr = "(round(CAST(-0.0000004 AS DOUBLE), 6) + CAST(0 AS DOUBLE))"
        import struct

        sv = spark.sql(f"SELECT {expr} AS v").collect()[0].v
        dv = duck.execute(f"SELECT {expr} AS v").fetchone()[0]
        assert struct.pack(">d", sv) == struct.pack(">d", dv)
        assert struct.pack(">d", sv) == struct.pack(">d", 0.0)

    def test_unguarded_round_diverges_cross_engine(self, spark, duck):
        # documents WHY the guard exists: without it the engines disagree
        # on the zero's sign for this input class
        import struct

        expr = "round(CAST(-0.0000004 AS DOUBLE), 6)"
        sv = spark.sql(f"SELECT {expr} AS v").collect()[0].v
        dv = duck.execute(f"SELECT {expr} AS v").fetchone()[0]
        assert struct.pack(">d", sv) != struct.pack(">d", dv)


class TestXMath:
    """Cross-engine bit-identity of the exact-op transcendental
    approximations (functions/xmath.py) — the foundation under the r6
    gmm_fit/q_gmm_bic oracles.  Spark ≡ DuckDB ≡ Python compared by
    IEEE bit pattern over dense grids, plus accuracy floors vs libm."""

    ZS = [0.0, 1e-12, 1e-6, 0.001, 0.5, 1.0, 2.0, 7.3, 15.9, 50.0,
          123.456, 300.0, 707.0, 708.0, 1e5, 1e300]
    VS = [1e-300, 2.3e-308, 1e-12, 1e-6, 0.001, 0.5, 0.9999, 1.0,
          1.0000001, 1.5, 2.0, 3.141592653589793, 123.456, 1e6, 1e12,
          1e300]
    SS = [1.0, 1.0000001, 1.3, 2.0, 2.9999, 3.0, 3.7, 4.0]

    @staticmethod
    def _bits(x):
        import struct

        return struct.pack(">d", x)

    def test_exp_neg_arr_three_engines(self, spark, duck):
        from ema_bigdata_spark.functions import xmath as X

        for dialect, run in (
            ("spark", lambda q: list(spark.sql(q).collect()[0])),
            ("duckdb", lambda q: list(duck.execute(q).fetchone())),
        ):
            zarr = X.arr([X.dlit_exact(z) for z in self.ZS], dialect)
            e = X.exp_neg_arr(zarr, dialect)
            q = "SELECT " + ", ".join(
                f"{X.ix(e, i + 1, dialect)} AS r{i}"
                for i in range(len(self.ZS))
            )
            vals = run(q)
            for i, z in enumerate(self.ZS):
                assert self._bits(vals[i]) == self._bits(X.xexp_neg(z)), (
                    dialect, z,
                )

    def test_exp_accuracy_vs_libm(self):
        """Taylor truncation bound: rel err ≈ 2¹⁶·(z/2¹⁶)⁵/120 — about
        2.4e-12 at z=1, 1.1e-9 at z=300, 8e-8 at the 708 clamp (where
        exp(-z) ≈ 1e-308 and the error is physically irrelevant)."""
        import math

        from ema_bigdata_spark.functions import xmath as X

        for z in self.ZS:
            zc = min(z, 708.0)
            t = math.exp(-zc)
            if t > 1e-290:
                bound = 1e-11 + 3.0 * 65536.0 * (zc / 65536.0) ** 5 / 120.0
                assert abs(X.xexp_neg(z) - t) / t < bound, (z, bound)

    def test_ln_scalar_duckdb_matches_python(self, duck):
        import math

        from ema_bigdata_spark.functions import xmath as X

        for v in self.VS:
            steps = X.sql_xln_scalar(X.dlit_exact(v), "l")
            ctes, prev, cols = [], None, ["one"]
            for i, (n, e) in enumerate(steps):
                src = "(SELECT 1 AS one)" if prev is None else prev
                ctes.append(
                    f"s{i} AS (SELECT {', '.join(cols)}, {e} AS {n}"
                    f" FROM {src})"
                )
                cols.append(n)
                prev = f"s{i}"
            q = "WITH " + ", ".join(ctes) + f" SELECT l_v FROM {prev}"
            dv = duck.execute(q).fetchone()[0]
            p = X.xln(v)
            assert self._bits(dv) == self._bits(p), (v, dv, p)
            assert abs(p - math.log(v)) <= 1e-10 * max(1.0, abs(math.log(v)))

    def test_atanh_series_three_engines(self, spark, duck):
        import math

        from ema_bigdata_spark.functions import xmath as X

        for s in self.SS:
            steps = X.atanh_ln_series(X.dlit_exact(s), "a")
            q = "SELECT a_v FROM " + X.chain_sql(
                "(SELECT 1 AS one)", ["one"], [steps]
            )
            sv = spark.sql(q).collect()[0][0]
            dv = duck.execute(q).fetchone()[0]
            p = X.py_atanh_ln(s)
            assert self._bits(sv) == self._bits(dv) == self._bits(p), s
            assert abs(p - math.log(s)) < 4e-13


def _packed(d):
    """Dict of floats → dict of IEEE bit patterns (Python == treats
    -0.0 == +0.0; the driver hash does not)."""
    import struct

    return {k: struct.pack(">d", v) for k, v in d.items()}


def _packed_model(m):
    """A ``GMMModel`` → its iteration count and every float as IEEE
    bits."""
    floats = (m.weights + m.means + m.variances + m.lnp_trace
              + [m.log_likelihood])
    return m.n_iter, _packed(dict(enumerate(floats)))


def _packed_fits(fits):
    """``{k: (nd, P, lnl)}`` with lnL → every float as IEEE bits."""
    return {k: _packed({"nd": nd, "lnl": lnl, **P})
            for k, (nd, P, lnl) in fits.items()}


def _sql_frames(spark, monkeypatch, run):
    """``run()``'s result and the frame of every ``spark.sql`` call it
    made."""
    frames, sql = [], spark.sql

    def capture(q, **kwargs):
        frames.append(sql(q, **kwargs))
        return frames[-1]

    monkeypatch.setattr(spark, "sql", capture)
    try:
        return run(), frames
    finally:
        monkeypatch.setattr(spark, "sql", sql)


#: hand-built (x, cnt) histograms for the parity-EM init and executors
_PARITY_HISTS = {
    "one-bin": [(2.5, 7)],
    "two-bins-n2": [(-1.0, 1), (3.0, 1)],
    # n = 5: K=3 positions 1, 2, 3 land exactly on cm = 2, 3 and
    # inside the last bin; K=2's 4/3 and 8/3 straddle boundaries
    "cm-boundary": [(0.25, 2), (0.75, 1), (1.5, 2)],
    "counts-2^31": [(1.5, 2**31 + 3), (2.0, 5), (4.25, 2**32)],
    "negative": [(-3.5, 4), (-1.25, 9), (0.5, 2), (2.0, 1)],
}


class TestJsonBoundary:
    """r7: the DECLARED single-document boundary of q_json_extract
    (scalars.py).  On prefix-valid JSON with trailing garbage the
    engines legitimately differ — Spark's streaming get_json_object
    extracts from the valid prefix while DuckDB's whole-document
    json_valid rejects — and no shared expression reproduces either
    side (try_parse_json accepts concatenated docs too, measured).
    This pins BOTH measured behaviors so a silent change in either
    engine (or a future attempt to 'fix' parity here) surfaces."""

    def test_engine_defined_trailing_garbage(self, spark, duck):
        from pyspark.sql import functions as F

        cases = ['{"k": 10}garbage', '{"k":1}{"k":2}']
        got = (
            spark.createDataFrame([(c,) for c in cases], "props STRING")
            .select(F.get_json_object("props", "$.k").alias("k"))
            .collect()
        )
        # Spark: prefix extraction succeeds
        assert [r.k for r in got] == ["10", "1"]
        # DuckDB: whole-document validation rejects both
        for c in cases:
            assert not duck.execute(
                "SELECT json_valid(?)", [c]
            ).fetchone()[0], c

    def test_agreement_inside_the_contract(self, spark, duck):
        """Single-document inputs — valid, empty-object, non-object,
        malformed, NULL — agree through the registered query texts'
        gate pair (get_json_object NULL ↔ json_valid guard)."""
        from pyspark.sql import functions as F

        cases = ['{"k": 20}', "{}", "[1,2]", "not json", None, '"s"']
        sdf = (
            spark.createDataFrame([(c,) for c in cases], "props STRING")
            .select(F.get_json_object("props", "$.k").alias("k"))
            .collect()
        )
        for c, r in zip(cases, sdf):
            want = duck.execute(
                "SELECT CASE WHEN json_valid(?) THEN"
                " json_extract_string(?, '$.k') END",
                [c, c],
            ).fetchone()[0]
            assert r.k == want, (c, r.k, want)


class TestParityEMInvariants:
    """r6: invariants of the oracled parity EM beyond the DuckDB hash."""

    def test_partitioning_independence(self, spark, sf_dir, monkeypatch):
        """The snapped-integer sufficient-statistic sums make every
        iteration order-free, so the fit must be bit-identical under
        any histogram partitioning, on both executors.  The histograms
        go through ``local_checkpoint``: on
        the Spark executor (forced by ``MAX_DRIVER_BINS = 0``) the
        one-partition one is read in place and the 13-partition one
        keeps its Exchange — a wide histogram is never squeezed into
        one task.  The driver executor runs no statement at all."""
        from ema_bigdata_spark import gmm
        from ema_bigdata_spark import gmm_parity as G
        from ema_bigdata_spark.plans import executed_plan
        from ema_bigdata_spark.sources.tables import local_checkpoint

        base = G.parity_em_spark(spark, sf_dir, 3, 4)
        driver_bins = gmm.MAX_DRIVER_BINS
        for parts in (1, 13):
            hist = local_checkpoint(
                G.events_hist(spark, sf_dir).repartition(parts)
            )
            assert hist.rdd.getNumPartitions() == parts
            for max_bins in (0, driver_bins):
                monkeypatch.setattr(gmm, "MAX_DRIVER_BINS", max_bins)
                got, frames = _sql_frames(
                    spark, monkeypatch,
                    lambda: G.parity_em_spark(spark, sf_dir, 3, 4,
                                              hist=hist),
                )
                assert got[0] == base[0]
                # compare by IEEE bits: Python == treats -0.0 == +0.0,
                # exactly the class the driver hash distinguishes
                assert _packed(got[1]) == _packed(base[1]), (parts, max_bins)
                plans = [executed_plan(f) for f in frames]
                # bounds, init, 4 iterations
                assert len(plans) == (2 + 4 if max_bins == 0 else 0)
                assert all(("Exchange" in p) == (parts > 1)
                           for p in plans), (parts, plans)

    def test_randomized_xmath_cross_engine(self, spark, duck):
        """Seeded random doubles through the shared exp/ln texts,
        delivered as COLUMN VALUES (a temp view / a DuckDB table) —
        the production shape: in the registered queries, per-row
        inputs and oracle params are always columns, never arbitrary
        DuckDB literals (see
        test_duckdb_literal_parser_not_correctly_rounded)."""
        import random
        import struct

        from ema_bigdata_spark.functions import xmath as X

        rng = random.Random(20260814)
        zs = [rng.uniform(0.0, 750.0) for _ in range(200)] + [
            rng.uniform(0.0, 1e-3) for _ in range(50)
        ]
        ss = [rng.uniform(1.0, 4.0) for _ in range(100)]

        spark.createDataFrame(
            [(z, s) for z, s in zip(zs, ss + [1.0] * (len(zs) - len(ss)))],
            "z DOUBLE, s DOUBLE",
        ).createOrReplaceTempView("v_xmath_rand")
        duck.execute(
            "CREATE OR REPLACE TABLE t_xmath_rand(z DOUBLE, s DOUBLE)"
        )
        duck.executemany(
            "INSERT INTO t_xmath_rand VALUES (?, ?)",
            [(z, s) for z, s in zip(zs, ss + [1.0] * (len(zs) - len(ss)))],
        )

        a_steps = X.atanh_ln_series("s", "a")
        for dialect, src, run in (
            ("spark", "v_xmath_rand",
             lambda q: [tuple(r) for r in spark.sql(q).collect()]),
            ("duckdb", "t_xmath_rand",
             lambda q: duck.execute(q).fetchall()),
        ):
            e = X.exp_neg_arr(X.arr(["z"], dialect), dialect)
            body = X.chain_sql(src, ["z", "s"], [a_steps])
            q = (
                f"SELECT z, s, {X.ix(e, 1, dialect)} AS ez, a_v"
                f" FROM {body}"
            )
            for z, s, ez, av in run(q):
                assert struct.pack(">d", ez) == struct.pack(
                    ">d", X.xexp_neg(z)
                ), (dialect, z)
                assert struct.pack(">d", av) == struct.pack(
                    ">d", X.py_atanh_ln(s)
                ), (dialect, s)

    def test_duckdb_literal_parser_not_correctly_rounded(self, duck):
        """Documents the hazard the xmath design must respect: DuckDB
        1.0 parses SOME 17-digit double literals 1 ulp off (its float
        parser is fast, not correctly rounded), while its arithmetic
        and parameter binding are exact.  Production texts therefore
        never put arbitrary doubles in DuckDB literals — oracle params
        are column refs; only the FIXED xmath constants are literals,
        each pinned bit-exact by the test below."""
        import struct

        v = 2.4635071984458166  # known 1-ulp misparse in duckdb 1.0
        lit = duck.execute(f"SELECT CAST({v!r} AS DOUBLE)").fetchone()[0]
        bound = duck.execute("SELECT ?", [v]).fetchone()[0]
        assert struct.pack(">d", bound) == struct.pack(">d", v)
        if struct.pack(">d", lit) == struct.pack(">d", v):
            # a fixed/upgraded DuckDB would erase the hazard — fine,
            # but flag it so the guard rationale can be retired
            import warnings

            warnings.warn("duckdb literal parser now correctly rounded")

    def test_dlit_exact_round_trips_both_engines(self, spark, duck):
        """``dlit_exact`` (mantissa × 2^k) must reconstruct the exact
        bits of every shared-text constant AND arbitrary doubles on
        both engines — the defense against DuckDB 1.0's non-correctly-
        rounded literal parser (which demonstrably misparses the raw
        repr of 1/11 and 1/53)."""
        import math
        import random
        import struct

        from ema_bigdata_spark.functions import xmath as X

        consts = [
            X.TWO_PI, X.LN2, X.EXP_CLAMP, X.INV_2_16,
            X._EXP_C3, X._EXP_C4,
            1e-300, 1e-12, 0.5, 1.0, -1.0, 2.0,
            1000000000.0, 1000000.0, 10000.0, 1000.0, 708.0,
            math.log(1e-300),
        ]
        consts += [1.0 / float(2 * m + 1) for m in range(1, 27)]
        consts += [float(2**p)
                   for p in (512, 256, 128, 64, 32, 16, 8, 4, 2, 1)]
        rng = random.Random(414213562)
        consts += [rng.uniform(-1e6, 1e6) for _ in range(60)]
        consts += [rng.uniform(-1e-8, 1e-8) for _ in range(20)]
        consts += [5e-324, 1.7976931348623157e308, -0.0]
        q = "SELECT " + ", ".join(
            f"{X.dlit_exact(c)} AS c{i}" for i, c in enumerate(consts)
        )
        svals = list(spark.sql(q).collect()[0])
        dvals = list(duck.execute(q).fetchone())
        for c, sv, dv in zip(consts, svals, dvals):
            # NaN-free set, so value bits are the whole contract
            want = struct.pack(">d", c)
            assert struct.pack(">d", sv) == want, ("spark", c, sv)
            assert struct.pack(">d", dv) == want, ("duckdb", c, dv)

    def test_lockstep_multi_equals_single_k(self, spark, sf_dir,
                                            monkeypatch):
        """The merged per-iteration step (every K fit in one SQL on the
        Spark executor, forced by ``MAX_DRIVER_BINS = 0``; one numpy
        pass on the driver executor) must produce BIT-identical
        parameters and lnL to separate one-K runs on the Spark
        executor, whatever order the K values come in — the merge is a
        scheduling change, not a math change.  The driver executor runs
        no statement."""
        from ema_bigdata_spark import gmm
        from ema_bigdata_spark import gmm_parity as G

        hist = G.events_hist(spark, sf_dir)
        driver_bins = gmm.MAX_DRIVER_BINS
        monkeypatch.setattr(gmm, "MAX_DRIVER_BINS", 0)
        single = {
            k: G.parity_em_spark_multi(
                spark, sf_dir, (k,), 3, want_lnl=True, hist=hist
            )[k]
            for k in (2, 3, 4)
        }
        for max_bins in (0, driver_bins):
            monkeypatch.setattr(gmm, "MAX_DRIVER_BINS", max_bins)
            for ks in ((2,), (2, 3), (4, 2, 3)):
                multi, frames = _sql_frames(
                    spark, monkeypatch,
                    lambda: G.parity_em_spark_multi(
                        spark, sf_dir, ks, 3, want_lnl=True, hist=hist),
                )
                # bounds, init, 3 iterations, lnL
                assert len(frames) == (2 + 3 + 1 if max_bins == 0 else 0)
                assert sorted(multi) == sorted(ks)
                assert _packed_fits(multi) == _packed_fits(
                    {k: single[k] for k in ks}), (max_bins, ks)

    @pytest.mark.parametrize("hist_rows", list(_PARITY_HISTS.values()),
                             ids=list(_PARITY_HISTS))
    def test_init_matches_independent_reference(self, spark, hist_rows):
        """The init statement's row, in both dialects' text, against a
        reference that shares no SQL text with it: numpy percentiles
        (Spark ``percentile`` semantics: linear interpolation at
        position p·(n−1) of the expanded sorted multiset) for every K's
        mean, Python-int sums of the per-bin snaps for n / s1u / s2u."""
        import math

        import numpy as np

        from ema_bigdata_spark import gmm_parity as G

        ks = (1, 2, 3, 4)
        hist = spark.createDataFrame(hist_rows, "x DOUBLE, cnt BIGINT")

        def snap(v, scale):
            return math.floor((v * scale) + 0.5)

        n = sum(c for _, c in hist_rows)
        s1u = sum(snap(x, 1e6) * c for x, c in hist_rows)
        s2u = sum(snap(x * x, 1e4) * c for x, c in hist_rows)
        rows = sorted(hist_rows)
        vals = np.array([x for x, _ in rows])
        cum = np.cumsum([c for _, c in rows])

        def percentile(p):
            pos = p * (n - 1)
            lo, hi = math.floor(pos), math.ceil(pos)
            vlo = float(vals[np.searchsorted(cum, lo + 1)])
            vhi = float(vals[np.searchsorted(cum, hi + 1)])
            return vlo * (1.0 - (pos - lo)) + vhi * (pos - lo)

        bounds = (len(hist_rows), max(abs(x) for x, _ in hist_rows),
                  max(c for _, c in hist_rows), n)
        for dialect in ("spark", "duckdb"):
            # Spark sums the snaps in limbs; the oracle in one BIGINT
            limbs = G._layouts(bounds, 0)[0] if dialect == "spark" else None
            ctes, agg, fin = G.init_ctes(dialect, "{hist}", ks, "i", limbs)
            row = spark.sql(G._with(ctes, f"SELECT * FROM {fin}"),
                            hist=hist).collect()[0].asDict()
            if limbs:
                tot = row = G._recombine(row, limbs)
            else:
                tot = spark.sql(
                    G._with(ctes, f"SELECT n, s1u, s2u FROM {agg}"),
                    hist=hist).collect()[0]
            assert (tot["n"], tot["s1u"], tot["s2u"]) == (n, s1u, s2u)
            assert row["n"] == n and row["nd"] == float(n)
            for k in ks:
                want = [percentile((j + 1) / (k + 1)) for j in range(k)]
                got = [row[f"k{k}_mu0_{j}"] for j in range(1, k + 1)]
                assert _packed(dict(enumerate(got))) == _packed(
                    dict(enumerate(want))), (dialect, k, got, want)

    @pytest.mark.parametrize("ks, iters, named", [
        ((), 2, "ks=()"),
        ((0,), 2, "K=0"),
        ((-1,), 2, "K=-1"),
        ((3, 3), 2, "K=3 appears twice"),
        ((3,), -1, "iters=-1"),
        # bool is an int subclass: True must not pass as K=1 / 1 iter
        ((True,), 2, "K=True"),
        ((3,), True, "iters=True"),
        # a float count would only fail in range(), after the histogram
        ((3,), 2.0, "iters=2.0"),
    ])
    def test_degenerate_params_refused(self, spark, sf_dir, ks, iters,
                                       named):
        """Parameters no fit is defined for fail loudly, naming the bad
        value, before any job runs."""
        import re

        from ema_bigdata_spark import gmm_parity as G

        sc = spark.sparkContext
        group = "test_parity_em_degenerate_params"
        sc.setJobGroup(group, "parity EM refusal")
        try:
            with pytest.raises(ValueError, match=re.escape(named)):
                G.parity_em_spark_multi(spark, sf_dir, ks, iters)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup(group) == []

    @pytest.mark.parametrize(
        "source",
        ["sf_dir", "events-neg_wide", "events-constant", "events-tiny"]
        + [f"hist-{name}" for name in _PARITY_HISTS],
    )
    def test_driver_executor_matches_spark_statements(
            self, spark, sf_dir, adv_dirs, monkeypatch, source):
        """The numpy executor against the Spark statements (forced by
        ``MAX_DRIVER_BINS = 0``) over the same histogram: params, nd
        and lnL bit for bit, for one, three and three lockstep fits.
        Inputs: the Tier-1 corpus, the adversarial events tables
        (negatives, wide magnitudes, a constant column, 3 rows) and the
        hand-built init histograms (counts past 2^31 included)."""
        from ema_bigdata_spark import gmm
        from ema_bigdata_spark import gmm_parity as G

        kind, _, name = source.partition("-")
        if kind == "hist":
            hist = spark.createDataFrame(_PARITY_HISTS[name],
                                         "x DOUBLE, cnt BIGINT")
        else:
            hist = G.events_hist(
                spark, sf_dir if kind == "sf_dir" else adv_dirs[name])
        driver_bins = gmm.MAX_DRIVER_BINS
        for ks in ((1,), (3,), (2, 3, 4)):
            monkeypatch.setattr(gmm, "MAX_DRIVER_BINS", 0)
            want = G.parity_em_spark_multi(spark, sf_dir, ks, 3,
                                           want_lnl=True, hist=hist)
            monkeypatch.setattr(gmm, "MAX_DRIVER_BINS", driver_bins)
            got, frames = _sql_frames(
                spark, monkeypatch,
                lambda: G.parity_em_spark_multi(spark, sf_dir, ks, 3,
                                                want_lnl=True, hist=hist),
            )
            assert frames == []
            assert _packed_fits(got) == _packed_fits(want), (source, ks)

    @pytest.mark.parametrize("hist_rows, iters", [
        # per-bin x² snaps of 5e18 fit; the init's sum of them is 1e19
        ([(1e6, 500), (-1e6, 500)], 0),
        # the init's x² sum fits (2^63 − 2^29) and so does each bin's
        # snapped g·x²·c (K=1: g = 1); the iteration's sxx sum of the
        # two is 2^63 + 131272704
        ([(756.7445448376116, 3 * 2**28), (-756.7445448376116, 3 * 2**28)],
         1),
        # one bin whose snapped x²·c alone is 2^63 + 2048: a BIGINT
        # snap of the iteration's sxx term saturates or raises
        ([(273337.5618841549, 12345)], 1),
    ], ids=["init-x2-sum", "iteration-sxx-sum", "one-bin-sxx-sum"])
    def test_snapped_sums_exact_on_both_executors(
            self, spark, monkeypatch, hist_rows, iters):
        """Snapped sums past BIGINT fit exactly and identically on the
        Spark statements and the driver executor, equal to a Python-int
        reference: the init's s1u/s2u and, for K=1 (every γ is 1.0),
        one iteration's n/sx/sxx."""
        import math

        from ema_bigdata_spark import gmm
        from ema_bigdata_spark import gmm_parity as G

        def snapped(term, scale):
            return sum(math.floor(term(x, float(c)) * scale + 0.5)
                       for x, c in hist_rows)

        want_init = (
            sum(math.floor(x * 1e6 + 0.5) * c for x, c in hist_rows),
            sum(math.floor((x * x) * 1e4 + 0.5) * c for x, c in hist_rows),
        )
        want_iter = {
            "k1_n1u": snapped(lambda x, c: 1.0 * c, 1e9),
            "k1_sx1u": snapped(lambda x, c: (1.0 * x) * c, 1e6),
            "k1_sxx1u": snapped(lambda x, c: ((1.0 * x) * x) * c, 1e4),
        }
        assert max(max(want_init), *want_iter.values()) >= 1 << 63
        hist = spark.createDataFrame(hist_rows, "x DOUBLE, cnt BIGINT")
        fits = []
        for max_bins in (0, gmm.MAX_DRIVER_BINS):
            monkeypatch.setattr(gmm, "MAX_DRIVER_BINS", max_bins)
            with G._executor(hist) as (_, steps):
                init, step = steps(0)
                row = init((1,))
                assert (int(row["s1u"]), int(row["s2u"])) == want_init
                nd, P = G.init_fold(row, 1)
                if iters:
                    assert step({1: P}, "fit") == want_iter, max_bins
            fits.append(G.run_em(hist, (1,), iters, want_lnl=True)[0])
        assert _packed_fits(fits[0]) == _packed_fits(fits[1])

    def test_stops_on_repeated_parameters(self, monkeypatch):
        """With ``tol = 0`` the loop stops once an update returns
        parameters the fit already reached — a fixed point or a cycle,
        which every later iteration would repeat — and not on a
        repeated lnL while the parameters still move.  A stub executor
        cycles A → B → A after the init."""
        from contextlib import contextmanager

        from ema_bigdata_spark import gmm_parity as G

        def sums(mu, lnl):
            return {"k1_n1u": 10**9, "k1_sx1u": int(mu * 1e6),
                    "k1_sxx1u": int((mu * mu + 1.0) * 1e4),
                    "k1_lnlu": lnl}

        calls = []

        def step(params, mode):
            calls.append(params[1]["mu1"])
            # lnL repeats (Δ = 0 at the second step) while params move
            return sums(3.0 if params[1]["mu1"] == 2.0 else 2.0,
                        5 if len(calls) < 3 else len(calls))

        def init(ks):
            return {"n": 1, "s1u": 0, "s2u": 10**4, "k1_mu0_1": 0.0}

        @contextmanager
        def executor(hist):
            yield (1, 0.0, 1), lambda e: (init, step)

        monkeypatch.setattr(G, "_executor", executor)
        fits, traces = G.run_em(None, (1,), 50, tol=0.0)
        assert calls == [0.0, 2.0, 3.0]  # A = 2.0, B = 3.0, then A again
        assert fits[1][1]["mu1"] == 2.0 and len(traces[1]) == 3
        _, traces = G.run_em(None, (1,), 2, tol=0.0)
        assert len(traces[1]) == 2

    @pytest.mark.parametrize("hist_rows", [
        [(float("nan"), 3), (1.0, 2)],
        [(1e200, 1), (2.0, 1)],  # x² is +Inf
    ], ids=["nan", "inf-square"])
    def test_nonfinite_snap_raises_on_both_executors(
            self, spark, monkeypatch, hist_rows):
        """A snap that is not finite raises on the Spark statements and
        on the driver executor — neither returns a wrapped, saturated or
        zeroed number.  (``hist_sql`` keeps such values out of every
        histogram it builds; a caller's own histogram may not.)"""
        from ema_bigdata_spark import gmm
        from ema_bigdata_spark import gmm_parity as G

        hist = spark.createDataFrame(hist_rows, "x DOUBLE, cnt BIGINT")
        for max_bins in (0, gmm.MAX_DRIVER_BINS):
            monkeypatch.setattr(gmm, "MAX_DRIVER_BINS", max_bins)
            with pytest.raises(Exception, match="not finite or overflows"):
                G.run_em(hist, (1,), 1)

    def test_single_component_fits(self, spark, sf_dir):
        """K=1 is a plain Gaussian, not a degenerate mixture: it fits
        (weight 1) and has a log-likelihood."""
        import math

        from ema_bigdata_spark import gmm_parity as G

        _, P, lnl = G.parity_em_spark(spark, sf_dir, 1, 2, want_lnl=True)
        assert P["phi1"] == 1.0 and math.isfinite(lnl)


def test_covariance_arrow_path_bit_identical(spark, sf_dir, tmp_path):
    """The library entry point ``embed_covariance`` (the Arrow/numpy
    product partials behind ``q_embed_covariance``) must match the
    query's DuckDB oracle bit-for-bit — the numpy HALF_UP snap
    reproduces the oracle's per-product round — on the driver corpus,
    on a NaN/zero/NULL table the domain gate must thin to 2 rows, and
    on an id-less frame (the ``vec_id`` clause applies only when the
    column exists)."""
    import duckdb

    from ema_bigdata_spark.operators.similarity import embed_covariance
    from ema_bigdata_spark.sources.tables import load_table
    from tests.oracle import rowset

    def check(frame, parquet):
        got = embed_covariance(spark, frame)
        duck = duckdb.connect()
        duck.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{parquet}')"
        )
        res = duck.execute(registry.ORACLES["q_embed_covariance"])
        want = rowset([c[0] for c in res.description], res.fetchall())
        assert rowset(got.columns, [tuple(r) for r in got.collect()]) == want
        assert len(want[1]) == 2080

    check(
        load_table(spark, sf_dir, "embeddings"),
        f"{sf_dir}/embeddings.parquet",
    )

    hostile = spark.createDataFrame(
        [
            (1, [0.5] * 64, 0),
            (2, [float("nan")] * 64, 0),
            (3, [0.0] * 64, 0),
            (4, None, 0),
            (5, [-0.25] * 64, 0),
        ],
        "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
    )
    hostile.coalesce(1).write.parquet(f"{tmp_path}/embeddings.parquet")
    files = f"{tmp_path}/embeddings.parquet/*.parquet"
    check(load_table(spark, str(tmp_path), "embeddings"), files)
    check(
        load_table(spark, str(tmp_path), "embeddings").select("embedding"),
        files,
    )


class TestTextFoldParity:
    """r9 (hostile-unicode sweep): the two declared text-builtin
    parity classes — see functions/textfold.py."""

    def test_fold_lower_battery_matches_duckdb(self, spark):
        import duckdb

        from ema_bigdata_spark.functions.textfold import (
            fold_lower,
            sql_fold_lower,
        )

        battery = [
            "İstanbul", "İİİ", "ΟΣ ΑΣ", "Σ", "ϹΣϹ", "ß STRASSE ﬁ",
            "café nfd", "café nfc", "mixed İ and ΟΣ text",
            "plain ascii", "", "ŉ ǅ Ǆ",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(battery)], "i INT, t STRING"
        )
        got = {
            r.i: r.f
            for r in df.select("i", fold_lower("t").alias("f")).collect()
        }
        duck = duckdb.connect()
        try:
            for i, t in enumerate(battery):
                want = duck.execute(
                    f"SELECT {sql_fold_lower('?')}", [t]
                ).fetchone()[0]
                assert got[i] == want, (t, got[i], want)
        finally:
            duck.close()
        # the declared simple folds, by value
        assert got[0] == "istanbul" and got[3] == "σ"

    def test_lev_bytes_battery_matches_duckdb(self, spark):
        import duckdb

        from ema_bigdata_spark.functions.textfold import (
            lev_bytes,
            sql_lev_bytes,
        )

        pairs = [
            ("café", "café"), ("é", "e"), ("中", "a"),
            ("abc", "abd"), ("", "xyz"), ("🚀🚀", "🚀"),
            ("same", "same"), ("a\x00b", "ab"),
        ]
        df = spark.createDataFrame(
            [(i, a, b) for i, (a, b) in enumerate(pairs)],
            "i INT, a STRING, b STRING",
        )
        got = {
            r.i: r.d
            for r in df.select(
                "i", lev_bytes(F.col("a"), F.col("b")).alias("d")
            ).collect()
        }
        duck = duckdb.connect()
        try:
            for i, (a, b) in enumerate(pairs):
                want = duck.execute(
                    f"SELECT {sql_lev_bytes('?', '?')}", [a, b]
                ).fetchone()[0]
                assert got[i] == want, (a, b, got[i], want)
        finally:
            duck.close()
        # byte semantics by value: NFC/NFD pair is 3 byte edits
        assert got[0] == 3 and got[2] == 3
