"""Seeded input generators.

Every input the benchmark hands the program is a pure function of the
workload seed: the star-schema tables (same schema and physical types
as the engine's parquet testdata) and the mixture text file.  Sizes are
fixed constants, so two seeds give inputs of identical shape and only
the values differ.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per generated table (the engine's sf0.01 shape)
SIZES = {
    "region": 5,
    "nation": 25,
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
N_USERS = 150
#: the reference's input format: a mixture of three normals, one double
#: per line (means, standard deviations, weights)
MIXTURE = ((-5.0, 1.0, 0.4), (0.0, 0.7, 0.3), (6.0, 1.5, 0.3))
MIXTURE_ROWS = 30_000

_VOCAB = (
    "a the row query stream fast spark line small customer group value "
    "hash batch sort data big filter key agg scan slow table part merge "
    "window order column join vector"
).split()
_COLORS = ("red", "blue", "small", "large", "hot", "cold", "old", "new")
_NOUNS = ("widget", "ring", "bolt", "gear", "plate", "rod", "gizmo", "anvil")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PTYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_LANGS = ("en", "en", "de", "es", "fr", "zh")


def _days(rng, lo: str, hi: str, n: int) -> pa.Array:
    d0 = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - d0).astype(int)
    days = d0 + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[ms]"), pa.timestamp("ms"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


def _events(rng, n: int, users: np.ndarray, days: int) -> pa.Table:
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, days * 86_400_000_000, n))
    ts = pa.array((t0 + offs.astype("timedelta64[us]")), pa.timestamp("us"))
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": ts,
        "user_id": pa.array(users.astype(np.int64)),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": value,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def star_schema(rng) -> dict[str, pa.Table]:
    """The ten engine tables, shaped like the sf0.01 testdata."""
    n = SIZES
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, _SEGMENTS, nc),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, _COLORS, npart),
                                               _pick(rng, _NOUNS, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": _pick(rng, _PTYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10, 1),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": _pick(rng, _PRIORITIES, no),
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
        "l_linestatus": _pick(rng, ("F", "O"), nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    })
    ne = n["events"]
    t["events"] = _events(rng, ne, rng.integers(0, N_USERS, ne), 30)
    nd = n["documents"]
    texts = [
        " ".join(_pick(rng, _VOCAB, int(rng.integers(10, 100))))
        for _ in range(nd)
    ]
    # ~5% near-duplicates: a copy of an earlier document plus one token
    for i in rng.choice(np.arange(1, nd), nd // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": texts,
        "lang": _pick(rng, _LANGS, nd),
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    nv = n["embeddings"]
    vec = rng.normal(size=(nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return t


def mixture_values(rng) -> np.ndarray:
    """Draws from :data:`MIXTURE`, rounded to 3 decimals."""
    comp = rng.choice(len(MIXTURE), MIXTURE_ROWS, p=[w for _, _, w in MIXTURE])
    mu = np.array([m for m, _, _ in MIXTURE])[comp]
    sd = np.array([s for _, s, _ in MIXTURE])[comp]
    return np.round(rng.normal(mu, sd), 3)


def write_inputs(root: str, seed: int) -> dict[str, int]:
    """Write every input under ``root``; return rows written per input."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    rows: dict[str, int] = {}
    tables = star_schema(rng)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(root, f"{name}.parquet"))
        rows[name] = tab.num_rows
    mix = mixture_values(rng)
    with open(os.path.join(root, "mixture.txt"), "w") as f:
        f.write("\n".join(f"{v:.3f}" for v in mix))
        f.write("\n")
    rows["mixture"] = len(mix)
    return rows
