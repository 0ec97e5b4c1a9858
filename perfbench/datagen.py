"""Deterministic synthetic tables for the benchmark.

The benchmark runs from a bare checkout, so it cannot rely on a shared
test-data directory: it writes its own parquet tables under the
checkout's work directory. The shapes follow the engine's table
fixtures (a TPC-H-style star schema plus ``events``, ``documents`` and
``embeddings``): the same column names and parquet types, and value
domains that keep every benchmarked query's result non-empty. The
data seed is fixed; ``--seed`` only drives what the workloads do with
the tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20261017
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DIM = 64
ORDER_EPOCH = dt.datetime(1995, 1, 1)
EVENT_EPOCH = dt.datetime(2024, 1, 1)


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": max(50, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, epoch: dt.datetime, span: int, n: int) -> pa.Array:
    base = np.datetime64(epoch, "us")
    offs = rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(base + offs, pa.timestamp("us"))


def _pick(rng, values, n: int, p=None) -> list[str]:
    return list(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def build_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n = _sizes(sf)
    i64, i32 = pa.int64(), pa.int32()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (npart, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": _pick(rng, P_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 2),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
        "o_totalprice": _money(rng, 1000, 500_000, no),
        "o_orderdate": _days(rng, ORDER_EPOCH, 2405, no),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
        "l_linestatus": _pick(rng, ("F", "O"), nl),
        "l_shipdate": _days(rng, ORDER_EPOCH + dt.timedelta(days=1), 2499, nl),
    })
    ne = n["events"]
    gaps = rng.exponential(1.0, ne)
    span_us = 30 * 86_400 * 10**6
    offs = (np.cumsum(gaps) / gaps.sum() * (span_us - 10**6)).astype("int64")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(
            np.datetime64(EVENT_EPOCH, "us") + offs.astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, n["users"], ne), i64),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": _pick(rng, LANGS, nd, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(s) for s in texts], i64),
    })
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, DIM))
    vecs = centers[labels] + rng.normal(0, 1.5, (nv, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return t


#: tables the write workload mutates, with the key their files are split on
SPLIT_TABLES = {"orders": "o_orderkey", "lineitem": "l_orderkey"}
SPLIT_FILES = 8


def write_split(table: pa.Table, key: str, out: str) -> None:
    """Write ``table`` as SPLIT_FILES parquet files over disjoint key
    ranges, so a key-range write touches few of them."""
    os.makedirs(out, exist_ok=True)
    table = table.sort_by(key)
    step = -(-table.num_rows // SPLIT_FILES)
    for i in range(SPLIT_FILES):
        pq.write_table(
            table.slice(i * step, step), os.path.join(out, f"part-{i:05d}.parquet")
        )


def ensure_data(root: str, sf: float) -> str:
    """Write the tables for ``sf`` under ``root`` once; return their dir.

    Besides one file per table, ``split/`` holds the write workload's
    starting layout of ``orders`` and ``lineitem``. A ``_DONE`` marker
    makes the build idempotent and lets an interrupted build start over
    instead of serving a partial set.
    """
    out = os.path.join(root, f"sf{sf:g}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    os.makedirs(out, exist_ok=True)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
        if name in SPLIT_TABLES:
            write_split(
                table, SPLIT_TABLES[name], os.path.join(out, "split", f"{name}.parquet")
            )
    open(os.path.join(out, "_DONE"), "w").close()
    return out
