"""Hostile-input sweep harness (r8): poison the testdata and run every
oracled query on both engines, reporting crashes and parity breaks.

This is the tool behind ROUND8_NOTES §15/§17/§18 — the three sweeps
that found 12 + 10 + 8 latent crashers.  Each mode plants a different
hostile class on top of a pristine sf-dir copy:

  python tools/hostile_sweep.py nonfinite-tpch   # NaN/±Inf/1e17 in every
                                                 # DOUBLE measure column,
                                                 # IN-WINDOW dates
  python tools/hostile_sweep.py hostile-ts       # NULL / year-0001 /
                                                 # year-9999 timestamps
  python tools/hostile_sweep.py hostile-docs     # degenerate text/metadata
  python tools/hostile_sweep.py hostile-keys     # NULL/orphan/dup join keys
  python tools/hostile_sweep.py hostile-unicode  # encoding battery (r9)
  python tools/hostile_sweep.py hostile-embeddings  # vector domain (r9)
  python tools/hostile_sweep.py hostile-nulls    # one NULL per column,
                                                 # every table (r9)
  python tools/hostile_sweep.py hostile-extremes # INT64/INT32 boundary
                                                 # keys (r9)
  python tools/hostile_sweep.py hostile-combined # every class at once:
                                                 # interaction probe (r9)
  python tools/hostile_sweep.py all              # every mode, sequentially

Exit code 0 only if every oracled query is parity-OK and crash-free.
The fixture rules that make a sweep honest (learned the hard way):
poison ONE column per row with benign in-filter values in the others,
and put hostile rows INSIDE the date windows the queries filter on —
a hostile row a predicate silently excludes proves nothing (§17: the
first TPC-H sweep missed 10 crashers that way; the §15 events fixture
missed q_events_hourly's crash because its timestamps fell outside
the query's window).
"""
from __future__ import annotations

import datetime
import glob
import os
import shutil
import sys
import tempfile

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SPARK_GRAFT_SWEEP_SF", "/root/testdata/sf0.001")

_D = datetime.datetime
NAN, INF = float("nan"), float("inf")

#: non-finite measures: one hostile column per row; benign values keep
#: the row inside q6-class predicates; dates cycle through the TPC-H
#: filter windows
_NF_POISON = {
    "lineitem": ("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
    "orders": ("o_totalprice",),
    "customer": ("c_acctbal",),
    "supplier": ("s_acctbal",),
    "part": ("p_retailprice",),
}
_NF_HOSTILE = [NAN, INF, -INF, 1e17]
_NF_DATES = [_D(1994, 6, 15), _D(1995, 3, 10), _D(1995, 9, 15), _D(1996, 6, 15)]
_NF_BENIGN = {
    "l_quantity": 10.0, "l_extendedprice": 1000.0,
    "l_discount": 0.06, "l_tax": 0.04,
}

#: hostile timestamps: NULL + both representable-year extremes
_TS_HOSTILE = {
    "events": ("ts", "event_id"),
    "orders": ("o_orderdate", "o_orderkey"),
    "lineitem": ("l_shipdate", None),
}
_TS_VALUES = [None, _D(1, 1, 1, 0, 0, 0), _D(9999, 12, 31, 23, 59, 59)]


def _single_file(df, path: str) -> None:
    tmp = path + "__d"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(f"{tmp}/part-*.parquet")
    assert len(part) == 1
    shutil.move(part[0], path)
    shutil.rmtree(tmp)


def _build_nonfinite_tpch(spark, tables, root: str) -> None:
    for t in tables:
        src = f"{SRC}/{t}.parquet"
        if t not in _NF_POISON and t != "events":
            shutil.copy(src, f"{root}/{t}.parquet")
            continue
        df = spark.read.parquet(src)
        base = df.limit(1).collect()[0].asDict()
        rows = []
        if t == "events":
            # in-window ts for q_events_hourly (2024-01-02..04)
            for i, h in enumerate(_NF_HOSTILE):
                d = dict(base)
                d["event_id"] = 10_000_000 + i
                d["ts"] = _D(2024, 1, 2, 6, i)
                d["value"] = h
                rows.append(tuple(d[f.name] for f in df.schema.fields))
        else:
            for ci, c in enumerate(_NF_POISON[t]):
                for hi, h in enumerate(_NF_HOSTILE):
                    d = dict(base)
                    for b, v in _NF_BENIGN.items():
                        if b in d:
                            d[b] = v
                    d[c] = h
                    for dc in ("l_shipdate", "o_orderdate"):
                        if dc in d:
                            d[dc] = _NF_DATES[(ci + hi) % 4]
                    rows.append(tuple(d[f.name] for f in df.schema.fields))
        _single_file(
            df.unionByName(spark.createDataFrame(rows, df.schema)),
            f"{root}/{t}.parquet",
        )


def _build_hostile_ts(spark, tables, root: str) -> None:
    for t in tables:
        src = f"{SRC}/{t}.parquet"
        if t not in _TS_HOSTILE:
            shutil.copy(src, f"{root}/{t}.parquet")
            continue
        df = spark.read.parquet(src)
        base = df.limit(1).collect()[0].asDict()
        tscol, idcol = _TS_HOSTILE[t]
        rows = []
        for i, v in enumerate(_TS_VALUES):
            d = dict(base)
            if idcol:
                d[idcol] = 20_000_000 + i
            d[tscol] = v
            rows.append(tuple(d[f.name] for f in df.schema.fields))
        _single_file(
            df.unionByName(spark.createDataFrame(rows, df.schema)),
            f"{root}/{t}.parquet",
        )


#: hostile documents: degenerate text and NULL metadata.  n_chars is
#: kept CONSISTENT with the text (some queries trust the column);
#: doc_ids far above the corpus range.
_DOC_ROWS = [
    (30_000_000, None, "en", "src0"),            # NULL text
    (30_000_001, "", "en", "src0"),              # empty text
    (30_000_002, "   \t  \n ", "en", "src1"),    # whitespace only
    (30_000_003, "x", "en", "src1"),             # single char
    (30_000_004, "!!! ??? ... ;;; :::", "en", "src2"),  # punct only
    (30_000_005, "word " * 20_000, "en", "src2"),  # 100 kB one-token-type
    (30_000_006, "the quick brown fox", None, "src0"),   # NULL lang
    (30_000_007, "the quick brown fox", "en", None),     # NULL source
    (30_000_008, "éèê 中文 مرح"
                 "با \U0001f600", "zh", "src1"),  # non-ASCII+emoji
]


def _build_hostile_docs(spark, tables, root: str) -> None:
    for t in tables:
        src = f"{SRC}/{t}.parquet"
        if t != "documents":
            shutil.copy(src, f"{root}/{t}.parquet")
            continue
        df = spark.read.parquet(src)
        rows = [
            (i, txt, lang, source, len(txt) if txt is not None else None)
            for i, txt, lang, source in _DOC_ROWS
        ]
        _single_file(
            df.unionByName(spark.createDataFrame(rows, df.schema)),
            f"{root}/{t}.parquet",
        )


def _build_hostile_keys(spark, tables, root: str) -> None:
    """NULL / orphan / negative / duplicated join keys: orders whose
    custkey is NULL, matches no customer, or is negative; a customer
    with a duplicated primary key; lineitem rows pointing at a
    nonexistent order/part/supplier.  Joins must treat these as SQL
    does (NULL matches nothing, orphans drop from inner joins,
    duplicate dim keys fan out) — never crash or silently mis-bucket
    (q_join_salted's salt arithmetic runs on the key itself)."""
    for t in tables:
        src = f"{SRC}/{t}.parquet"
        if t not in ("orders", "customer", "lineitem"):
            shutil.copy(src, f"{root}/{t}.parquet")
            continue
        df = spark.read.parquet(src)
        base = df.limit(1).collect()[0].asDict()
        rows = []

        def mk(**over):
            d = dict(base)
            d.update(over)
            return tuple(d[f.name] for f in df.schema.fields)

        if t == "orders":
            rows = [
                mk(o_orderkey=40_000_000, o_custkey=None),
                mk(o_orderkey=40_000_001, o_custkey=88_000_000),
                mk(o_orderkey=40_000_002, o_custkey=-5),
            ]
        elif t == "customer":
            # duplicate primary key: same c_custkey twice, different
            # attrs — inner joins fan out, both engines identically
            rows = [
                mk(c_custkey=base["c_custkey"], c_name="dupe"),
                mk(c_custkey=-5, c_name="negative-key"),
            ]
        elif t == "lineitem":
            rows = [
                mk(l_orderkey=77_000_000, l_linenumber=1),
                mk(l_orderkey=77_000_001, l_partkey=99_000_000,
                   l_suppkey=99_000_000, l_linenumber=1),
            ]
        _single_file(
            df.unionByName(spark.createDataFrame(rows, df.schema)),
            f"{root}/{t}.parquet",
        )


#: hostile unicode (r9, VERDICT r8 item 6): the hostile-docs mode's
#: one emoji found a BIGINT overflow, so this mode runs the
#: systematic encoding battery — astral-plane text, combining marks
#: and NFC/NFD twins, zero-width joiners/non-joiners inside words,
#: bidi controls, NUL and C0 controls, Unicode line/para separators
#: (U+2028/29 probe Java-vs-RE2 regex class differences), ideographic
#: space, case-folding traps (dotted I / sharp s / fi ligature), and
#: a 200-combining-mark pileup.  All non-ASCII spelled as \u escapes
#: so the fixture is unambiguous in source.  n_chars stays CONSISTENT
#: with the text in CODE POINTS (Python len == Spark length() ==
#: DuckDB length()).  doc_ids far above the corpus range.
_UNI_DOC_ROWS = [
    # astral plane: math letters + emoji with skin-tone modifier
    (31_000_000, "\U0001d54a\U0001d55a\U0001d556 astral \U0001f680"
                 "\U0001f9d1\U0001f3fd plane math letters", "en", "src0"),
    # NFC vs NFD twins: same rendered text, different code points —
    # byte-level dedup/hashing must treat them as DIFFERENT docs,
    # identically on both engines
    (31_000_001, "caf\u00e9 au lait nfc/nfd twin", "fr", "src0"),
    (31_000_002, "cafe\u0301 au lait nfc/nfd twin", "fr", "src0"),
    # ZWJ emoji sequence (family: 4 emoji joined by U+200D)
    (31_000_003, "family \U0001f468\u200d\U0001f469\u200d"
                 "\U0001f467\u200d\U0001f466 zwj sequence", "en", "src1"),
    # ZWNJ inside a word
    (31_000_004, "auf\u200czug zwnj inside word", "de", "src1"),
    # RTL text + explicit bidi override/pop controls
    (31_000_005, "mixed English \u0627\u0644\u0639\u0631\u0628"
                 "\u064a\u0629 rtl \u202ereversed\u202c bidi",
     "ar", "src1"),
    # NUL and C0 controls inside the text
    (31_000_006, "before\x00after nul byte", "en", "src2"),
    (31_000_007, "ctrl \x01\x02 chars line\x0bfeed\x0cpage",
     "en", "src2"),
    # combining mark with no base char, at string start
    (31_000_008, "\u0301leading combining mark", "en", "src2"),
    # LINE/PARAGRAPH SEPARATOR between words (Java \\s vs RE2 \\s
    # class-membership probe)
    (31_000_009, "line1\u2028line2\u2029line3 separators", "en", "src0"),
    # ideographic space U+3000 between words
    (31_000_010, "word\u3000ideographic\u3000space", "ja", "src0"),
    # case-folding traps: dotted capital I, sharp s, fi ligature
    (31_000_011, "\u0130stanbul \u00df STRASSE \ufb01 ligature case",
     "tr", "src1"),
    # 200 combining marks on one base char
    (31_000_012, "a" + "\u0301" * 200 + " combining pileup",
     "en", "src2"),
]

#: events.props poisoning for the same mode: escaped lone surrogates
#: and astral text INSIDE valid-looking JSON (parsers may reject the
#: \\ud800 escape — both engines must agree), plus a raw NUL in a
#: JSON string and a combining-mark key
_UNI_PROPS = [
    '{"k": "\\ud800 lone escaped surrogate"}',
    '{"k": "\\ud83d\\ude00 paired escape"}',
    '{"k": "\U0001f680 raw astral"}',
    '{"k": "nul \x00 inside"}',
    '{"k": 7, "\u0301": "combining key"}',
    # JSON edge battery (late r9): probed clean against the registered
    # integer-literal guard (scalars._JSON_INT_PAT) — kept as armor.
    # Raw get_json_object vs json_extract_string DO diverge on 1e309
    # (Spark re-serializes the overflow as a QUOTED "Infinity" string,
    # DuckDB unquoted) — the guard is what keeps parity.
    '{"k": 1, "k": 2}',                 # duplicate key (first wins, both)
    '{"k": 1e309}',                     # double overflow
    '{"k": 9223372036854775808}',       # int64+1 (19 digits -> NULL)
    '{"k": -9223372036854775808}',      # int64 min
    '{"k": 01}', '{"k": 00012}',        # leading zeros (invalid JSON)
    '{"k": 1.0}', '{"k": +5}', '{"k": -0}',
    '{"k": [1,2,3]}', '{"k": {"n": 5}}',
    '[{"k": 1}]',                       # array root
    '{"k": 1',                          # truncated
    '{"k": ' + '[' * 200 + ']' * 200 + '}',  # 200-deep nesting
]


def _build_hostile_unicode(spark, tables, root: str) -> None:
    for t in tables:
        src = f"{SRC}/{t}.parquet"
        if t not in ("documents", "events"):
            shutil.copy(src, f"{root}/{t}.parquet")
            continue
        df = spark.read.parquet(src)
        if t == "documents":
            rows = [
                (i, txt, lang, source, len(txt))
                for i, txt, lang, source in _UNI_DOC_ROWS
            ]
        else:
            base = df.limit(1).collect()[0].asDict()
            rows = []
            for i, props in enumerate(_UNI_PROPS):
                d = dict(base)
                d["event_id"] = 31_500_000 + i
                d["ts"] = _D(2024, 1, 2, 7, i)
                d["value"] = 10.0 + i
                d["props"] = props
                rows.append(tuple(d[f.name] for f in df.schema.fields))
        _single_file(
            df.unionByName(spark.createDataFrame(rows, df.schema)),
            f"{root}/{t}.parquet",
        )


#: hostile embeddings (r9, sixth mode): the embedding family's domain
#: gate (similarity._NORM2_MAX, Σx² ∈ (0, 1e4]) was pinned by pytest
#: fixtures in r8; this mode gives it FILE-LEVEL sweep coverage so
#: every similarity/ANN/dedup-embedding query meets the hostile rows
#: through the same parquet seam the driver uses.  All rows keep the
#: CORRECT width (64) — ragged width is a DECLARED LOUD REFUSAL
#: (q_embed_covariance's _cov_dim), pinned separately in pytest, and
#: planting it here would count a designed refusal as a crash.
_EMB_ROWS = [
    (32_000_000, [float("nan")] * 64, 0),          # NaN vector
    (32_000_001, [1.0] * 63 + [float("inf")], 1),  # one +Inf element
    (32_000_002, [0.0] * 64, 2),                   # zero norm (out: >0)
    (32_000_003, [1e20] * 64, 3),                  # huge norm
    (32_000_004, None, 0),                         # NULL embedding
    (32_000_005, [-0.3] * 64, None),               # NULL label
    (32_000_006, [1e-30] * 64, 1),                 # denormal-tiny norm
    (32_000_007, [12.5] * 64, 2),                  # Σx² = 1e4 AT bound
    (32_000_008, [12.500001] * 64, 3),             # just above bound
    (32_000_009, [-12.5] * 64, 0),                 # at bound, negative
]


def _build_hostile_embeddings(spark, tables, root: str) -> None:
    for t in tables:
        src = f"{SRC}/{t}.parquet"
        if t != "embeddings":
            shutil.copy(src, f"{root}/{t}.parquet")
            continue
        df = spark.read.parquet(src)
        _single_file(
            df.unionByName(spark.createDataFrame(_EMB_ROWS, df.schema)),
            f"{root}/{t}.parquet",
        )


#: hostile nulls (r9, seventh mode): SYSTEMATIC single-column NULLs —
#: one added row per column per table (51 rows across all ten tables),
#: NULL in exactly that column, benign IN-WINDOW values everywhere
#: else (the §17 lesson: a hostile row a predicate excludes proves
#: nothing).  Prior modes planted NULLs opportunistically (ts, join
#: keys, doc metadata, embeddings); this mode guarantees every column
#: of every table has file-level NULL coverage, probing the
#: engine-divergence classes NULLs are famous for: ASC NULL ordering
#: (Spark NULLS FIRST vs DuckDB NULLS LAST) under windows,
#: greatest/least NULL propagation, concat vs ||, and NULL group keys.
#: PK-uniqueness per table so dup-key fan-out (hostile-keys' job)
#: doesn't confound the NULL signal — except of course the row whose
#: NULL target IS the PK.
_NULL_BENIGN = {
    "region": {"r_regionkey": 90, "r_name": "NULLPROBE"},
    "nation": {"n_nationkey": 990, "n_name": "NULLPROBE",
               "n_regionkey": 0},
    "customer": {"c_custkey": 90_000_000, "c_name": "nullprobe",
                 "c_nationkey": 0, "c_acctbal": 100.0,
                 "c_mktsegment": "BUILDING"},
    "supplier": {"s_suppkey": 90_000_000, "s_name": "nullprobe",
                 "s_nationkey": 0, "s_acctbal": 100.0},
    "part": {"p_partkey": 90_000_000, "p_name": "nullprobe part",
             "p_brand": "Brand#13", "p_type": "ECONOMY ANODIZED STEEL",
             "p_size": 15, "p_retailprice": 900.0},
    "orders": {"o_orderkey": 90_000_000, "o_custkey": 1,
               "o_orderstatus": "O", "o_totalprice": 1000.0,
               "o_orderdate": _D(1995, 6, 15),
               "o_orderpriority": "1-URGENT"},
    "lineitem": {"l_orderkey": 90_000_000, "l_partkey": 1,
                 "l_suppkey": 1, "l_linenumber": 1, "l_quantity": 10.0,
                 "l_extendedprice": 1000.0, "l_discount": 0.06,
                 "l_tax": 0.04, "l_returnflag": "N",
                 "l_linestatus": "O", "l_shipdate": _D(1994, 6, 15)},
    "events": {"event_id": 90_000_000, "ts": _D(2024, 1, 2, 7, 30),
               "user_id": 1, "event_type": "click", "value": 10.0,
               "props": '{"k": 7}'},
    "documents": {"doc_id": 90_000_000,
                  "text": "the quick brown fox jumps",
                  "lang": "en", "source": "src0", "n_chars": 25},
    "embeddings": {"vec_id": 90_000_000, "embedding": [0.5] * 64,
                   "label": 1},
}
#: per-table PK columns to keep unique across the fixture's rows
_NULL_PK = {
    "region": ("r_regionkey",), "nation": ("n_nationkey",),
    "customer": ("c_custkey",), "supplier": ("s_suppkey",),
    "part": ("p_partkey",), "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey",), "events": ("event_id",),
    "documents": ("doc_id",), "embeddings": ("vec_id",),
}


def _build_hostile_nulls(spark, tables, root: str) -> None:
    for t in tables:
        src = f"{SRC}/{t}.parquet"
        benign = _NULL_BENIGN[t]
        df = spark.read.parquet(src)
        names = [f.name for f in df.schema.fields]
        assert set(names) == set(benign), (t, names, sorted(benign))
        rows = []
        for i, target in enumerate(names):
            d = dict(benign)
            for pk in _NULL_PK[t]:
                if isinstance(d[pk], int):
                    d[pk] = d[pk] + i
            # documents: n_chars stays CONSISTENT with text (some
            # queries trust the column) — NULL text carries NULL
            # n_chars; the explicit NULL-n_chars row keeps real text
            if t == "documents" and target == "text":
                d["n_chars"] = None
            d[target] = None
            rows.append(tuple(d[n] for n in names))
        _single_file(
            df.unionByName(spark.createDataFrame(rows, df.schema)),
            f"{root}/{t}.parquet",
        )


#: hostile extremes (r9, eighth mode): INT64/INT32 boundary values in
#: every integer key/attribute column — one hostile value per row,
#: benign in-window values elsewhere (same honesty rules as the other
#: modes, same benign templates as hostile-nulls).  The overflow
#: surface this probes is ARITHMETIC ON KEYS: hash-sample multiplies
#: (q_init_means' event_id * 2654435761), node encodes (q_pagerank's
#: key * 2), salt/bucket arithmetic (q_join_salted, q_zorder_layout)
#: — under ANSI Spark an int64 overflow is a hard job kill, and
#: "both engines crash" is still a failed sweep row.  INT32 columns
#: get int32 extremes (they widen safely in arithmetic but stress
#: join/dominance/grouping paths).
#: the first four sit OUTSIDE q_pagerank's declared key domain
#: [-2^62, 2^62-1] and prove the gate excludes them; the last two
#: (ADVICE r9) are the IN-domain boundary keys, so the 2k/2k+1 node
#: encode itself is exercised at its i64 edge (2·(-2^62) = -2^63,
#: 2·(2^62-1)+1 = 2^63-1)
_EXTREME_I64 = [2**63 - 1, -(2**63 - 1), 2**62, -(2**63), -(2**62), 2**62 - 1]
_EXTREME_I32 = [2**31 - 1, -(2**31 - 1), -(2**31)]
#: integer columns per table, split by physical width (see TESTDATA
#: schemas); PK columns are included — an extreme id is a valid id
_EXTREME_COLS = {
    "region": {"i32": ("r_regionkey",)},
    "nation": {"i32": ("n_nationkey", "n_regionkey")},
    "customer": {"i64": ("c_custkey",), "i32": ("c_nationkey",)},
    "supplier": {"i64": ("s_suppkey",), "i32": ("s_nationkey",)},
    "part": {"i64": ("p_partkey",), "i32": ("p_size",)},
    "orders": {"i64": ("o_orderkey", "o_custkey")},
    "lineitem": {"i64": ("l_orderkey", "l_partkey", "l_suppkey"),
                 "i32": ("l_linenumber",)},
    "events": {"i64": ("event_id", "user_id")},
    "documents": {"i64": ("doc_id", "n_chars")},
    "embeddings": {"i64": ("vec_id",), "i32": ("label",)},
}


def _build_hostile_extremes(spark, tables, root: str) -> None:
    for t in tables:
        src = f"{SRC}/{t}.parquet"
        benign = _NULL_BENIGN[t]
        spec = _EXTREME_COLS[t]
        df = spark.read.parquet(src)
        names = [f.name for f in df.schema.fields]
        rows = []
        i = 0
        for width, vals in (("i64", _EXTREME_I64), ("i32", _EXTREME_I32)):
            for target in spec.get(width, ()):
                for v in vals:
                    d = dict(benign)
                    for pk in _NULL_PK[t]:
                        if isinstance(d[pk], int):
                            d[pk] = d[pk] + 1_000_000 + i
                    d[target] = v
                    if t == "documents" and target == "n_chars":
                        # n_chars normally mirrors len(text); here the
                        # LIE is the probe — queries must not trust it
                        # into overflow
                        pass
                    rows.append(tuple(d[n] for n in names))
                    i += 1
        _single_file(
            df.unionByName(spark.createDataFrame(rows, df.schema)),
            f"{root}/{t}.parquet",
        )


_BASE_MODES = {
    "nonfinite-tpch": _build_nonfinite_tpch,
    "hostile-ts": _build_hostile_ts,
    "hostile-docs": _build_hostile_docs,
    "hostile-keys": _build_hostile_keys,
    "hostile-unicode": _build_hostile_unicode,
    "hostile-embeddings": _build_hostile_embeddings,
    "hostile-nulls": _build_hostile_nulls,
    "hostile-extremes": _build_hostile_extremes,
}


def _build_hostile_combined(spark, tables, root: str) -> None:
    """Ninth mode (r9): EVERY poison class in ONE corpus — each
    table is the pristine base plus the union of every base mode's
    added rows.  The per-class gates are all per-row predicates, so
    parity should compose; a failure here is an INTERACTION bug
    (one gate invalidating another's assumption) that no single-class
    sweep can see."""
    builds = {}
    for name, fn in _BASE_MODES.items():
        sub = tempfile.mkdtemp(prefix=f"combined_{name.replace('-', '_')}_")
        fn(spark, tables, sub)
        builds[name] = sub
    for t in tables:
        base = spark.read.parquet(f"{SRC}/{t}.parquet")
        extra = None
        for name, sub in builds.items():
            added = spark.read.parquet(f"{sub}/{t}.parquet").exceptAll(base)
            extra = added if extra is None else extra.unionByName(added)
        _single_file(base.unionByName(extra), f"{root}/{t}.parquet")
    for sub in builds.values():
        shutil.rmtree(sub)


_MODES = {**_BASE_MODES, "hostile-combined": _build_hostile_combined}


def run_mode(spark, mode: str) -> list[str]:
    import duckdb

    from ema_bigdata_spark import registry
    from ema_bigdata_spark.sources.tables import TABLES
    from tests.oracle import compare_query

    root = tempfile.mkdtemp(prefix=f"sweep_{mode.replace('-', '_')}_")
    _MODES[mode](spark, TABLES, root)
    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{root}/{t}.parquet')"
        )
    bad: list[str] = []
    names = [n for n in registry.QUERIES if n in registry.ORACLES]
    for i, name in enumerate(names):
        try:
            compare_query(spark, duck, root, name)
        except AssertionError:
            bad.append(f"{name}: MISMATCH")
        except Exception as ex:
            bad.append(f"{name}: CRASH {ex!r:.200}")
        if (i + 1) % 25 == 0:
            print(f"  [{i + 1}/{len(names)}]", flush=True)
    duck.close()
    print(f"{mode}: {len(names) - len(bad)}/{len(names)} clean")
    for b in bad:
        print(f"  {b}")
    return bad


def main() -> int:
    mode = sys.argv[1] if len(sys.argv) > 1 else "all"
    modes = list(_MODES) if mode == "all" else [mode]
    for m in modes:
        if m not in _MODES:
            print(f"unknown mode {m!r}; modes: {sorted(_MODES)} or 'all'")
            return 2

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('PAR_CPUS', '16')}]"
        )
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from ema_bigdata_spark import registry

    registry.load_all()
    failures: list[str] = []
    for m in modes:
        failures += run_mode(spark, m)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
