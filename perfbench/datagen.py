"""Seeded fixture tables for the benchmark.

Writes the ten tables the library's declared queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
as one parquet file each, with the schemas and value domains of the
fixtures described in FIXTURES.md and the row counts of ``SIZES``.
Timestamps are written without a time zone (TIMESTAMP(isAdjustedToUTC=false,
MICROS)), like the fixtures, so the library's NTZ normalization path is
exercised.

The same seed always gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table: the sf0.01 fixture sizes. At the sf0.1 sizes a run takes
# 57-72 s here, and the benchmark's protocol no longer fits its time budget
# (perfbench/README.md, "Input data").
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "large", "small", "red", "hot", "green", "tiny"]
PART_NOUN = ["anvil", "bolt", "gizmo", "ring", "rod", "widget", "gear", "plate"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64
N_LABELS = 10


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = SIZES
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
    })
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": [
            f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n["part"]),
                                       rng.choice(PART_NOUN, n["part"]))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(n["part"]) * 0.1, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, n["orders"], 1000.0, 500000.0),
        "o_orderdate": _days(rng, n["orders"], "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
    })
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * 86_400_000_000, ne))
    out["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": ts.astype("datetime64[us]"),
        "user_id": pa.array(rng.integers(0, n["customer"] // 10, ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = [
        " ".join(rng.choice(WORDS, int(k))) for k in rng.integers(10, 100, nd)
    ]
    # one document in eighteen is a near-copy of an earlier one (a tenth of
    # its words replaced), so the dedup and set-similarity joins find about
    # as many pairs as on the fixtures
    for i in range(18, nd, 18):
        words = texts[int(rng.integers(0, i))].split()
        for j in rng.choice(len(words), len(words) // 10, replace=False):
            words[j] = str(rng.choice(WORDS))
        texts[i] = " ".join(words)
    out["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = n["embeddings"]
    # unit vectors in random directions; the label does not depend on the
    # vector, as on the fixtures
    labels = rng.integers(0, N_LABELS, nv)
    vecs = rng.normal(0.0, 1.0, (nv, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write(seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
