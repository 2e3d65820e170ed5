"""Seeded benchmark inputs, written as parquet with numpy + pyarrow only.

The star schema (region, nation, customer, supplier, part, orders,
lineitem, events, documents, embeddings) follows the testdata layout in
FIXTURES.md section B: same tables, columns, types and value domains,
with sf0.1 row counts at ``scale=0.1``. The distributions follow the
sf0.1 testdata as measured: uniform keys, line items drawn uniformly
over orders, the 31-word document vocabulary with 5% " dup"
near-duplicates, unit-norm embeddings with weak label clusters. The
tables are synthesized here rather than copied, so a benchmark checkout
needs no external data.

Two layers of randomness keep runs comparable across seeds:

* the *base* tables come from one fixed generator seed, so every
  workload seed holds the same rows;
* the workload seed picks the *row order* of every table, so each seed
  is a different physical layout of the same relations. Seed 0 keeps
  the generated order.

The seed does not relabel keys. The MIS entry orders vertices by a hash
of their id, so a key bijection changes its cascade: 97 jobs on one
seed and 131 on another, at scale 0.001. With row orders, every seed
does the same work, and differences between runs are the system's.

``ensure(root, scale, seed)`` writes ``<root>/s<scale>_seed<seed>_<tag>/``
once and reuses it afterwards. The tag hashes this file's source, so an
edit here never reuses old inputs, nor old oracle frames (their cache key
holds the path). The directory is published by rename, so a half-written
copy is never read.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
with open(__file__, "rb") as _f:
    SOURCE_TAG = hashlib.sha256(_f.read()).hexdigest()[:10]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "hot", "large", "small", "cold", "dark"]
NOUNS = ["bolt", "ring", "nut", "gear", "pipe", "valve", "plate", "screw"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.14, 0.15, 0.15, 0.16]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64

_DAY_US = 86_400 * 1_000_000
_D1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_D2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def sizes(scale: float) -> dict[str, int]:
    """Row counts per table: the testdata's counts at sf0.001, sf0.01 and
    sf0.1 for ``scale`` 0.001, 0.01 and 0.1."""
    k = scale / 0.1
    return {
        "customer": max(50, round(15_000 * k)),
        "supplier": max(10, round(1_000 * k)),
        "part": max(50, round(20_000 * k)),
        "orders": max(200, round(150_000 * k)),
        "events": max(200, round(100_000 * k)),
        "users": max(10, round(1_500 * k)),
        "documents": max(500, round(5_000 * k)),
        "embeddings": max(500, round(2_000 * k)),
    }


def row_orders(seed: int, tables: dict) -> dict[str, np.ndarray]:
    """One row permutation per table; the identity for seed 0."""
    out = {}
    for i, name in enumerate(sorted(tables)):
        n = len(next(iter(tables[name].values())))
        if seed == 0:
            out[name] = np.arange(n)
        else:
            out[name] = np.random.default_rng([seed, i]).permutation(n)
    return out


def reorder(tables: dict, orders: dict[str, np.ndarray]) -> dict:
    """Every table's columns taken in its row order."""
    out = {}
    for name, cols in tables.items():
        idx = orders[name]
        out[name] = {
            c: (np.asarray(v)[idx] if isinstance(v, np.ndarray) else [v[i] for i in idx])
            for c, v in cols.items()
        }
    return out


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def base_tables(scale: float) -> dict[str, dict[str, np.ndarray | list]]:
    """The seed-independent tables as column dicts (numpy / lists)."""
    rng = np.random.default_rng(BASE_SEED)
    n = sizes(scale)
    t: dict[str, dict] = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    nc = n["customer"]
    t["customer"] = {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    }
    ns = n["supplier"]
    t["supplier"] = {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    }
    npart = n["part"]
    t["part"] = {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [
            f"{COLORS[a]} {NOUNS[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 2),
    }
    no = n["orders"]
    t["orders"] = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1_000.0, 500_000.0, no),
        "o_orderdate": _D1995 + rng.integers(0, 2404, no) * _DAY_US,  # to 2001-08-01
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    }
    # As in the testdata: four lines per order on average, each line's
    # order drawn uniformly (so ~2% of orders have none), line numbers
    # and ship dates drawn independently of the order.
    nl = 4 * no
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": np.round(rng.uniform(0.0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _D1995 + rng.integers(1, 2499, nl) * _DAY_US,  # to 2001-11-04
    }
    ne = n["events"]
    t["events"] = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _D2024 + np.sort(rng.integers(0, 30 * _DAY_US, ne)),
        "user_id": rng.integers(0, n["users"], ne).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)],
    }
    nd = n["documents"]
    texts = [
        " ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), rng.integers(10, 101)))
        for _ in range(nd)
    ]
    # As in the testdata: 5% near-duplicates (another document with
    # " dup" appended) and a few exact copies, so the dedup and substring
    # entries have candidates to find.
    for i in rng.choice(nd, nd // 20, replace=False):
        texts[i] = texts[rng.integers(0, nd)] + " dup"
    for i in rng.choice(nd, max(1, nd // 600), replace=False):
        texts[i] = texts[rng.integers(0, nd)]
    t["documents"] = {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    }
    nv = n["embeddings"]
    # Unit vectors with a weak cluster signal per label, as in the
    # testdata (each label's mean vector has norm ~0.07).
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 0.07 / np.sqrt(EMB_DIM), (10, EMB_DIM))
    vecs = centers[labels] + rng.normal(0.0, 1.0 / np.sqrt(EMB_DIM), (nv, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32),
    }
    return t


_TS_COLS = {"o_orderdate", "l_shipdate", "ts"}


def to_arrow(cols: dict) -> pa.Table:
    arrays, names = [], []
    for name, v in cols.items():
        if name in _TS_COLS:
            arrays.append(_ts(np.asarray(v)))
        elif name == "embedding":
            arrays.append(pa.array([x.tolist() for x in v], type=pa.list_(pa.float32())))
        else:
            arrays.append(pa.array(v))
        names.append(name)
    return pa.table(arrays, names=names)


def write(out_dir: str, scale: float, seed: int) -> None:
    base = base_tables(scale)
    tables = reorder(base, row_orders(seed, base))
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(
            to_arrow(cols), os.path.join(out_dir, f"{name}.parquet"),
            compression="snappy",
        )


def ensure(root: str, scale: float, seed: int) -> str:
    """Path of the seeded copy at ``scale``; generated on first use."""
    final = os.path.join(root, f"s{scale:g}_seed{seed}_{SOURCE_TAG}")
    if os.path.isdir(final):
        return final
    tmp = os.path.join(root, f".tmp-{uuid.uuid4().hex}")
    try:
        write(tmp, scale, seed)
        try:
            os.rename(tmp, final)
        except OSError:  # another run published it first
            pass
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final
