"""Seeded generator for the fixture tables the query registry reads.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one parquet file each, with the column names,
types and value distributions of the TPC-H-ish fixture family the
registry's queries and DuckDB oracles are written against. Row counts
scale with ``sf`` like the fixture family (sf0.01 = 60k lineitem rows);
``documents`` and ``embeddings`` are sized separately because the corpus
build's cost is driven by them, not by ``sf``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
DOC_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
DIM = 64

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, n, span_days):
    days = rng.integers(0, span_days, n)
    return (_EPOCH_1995 + days.astype("timedelta64[D]")).astype("datetime64[us]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(
    out_dir: str,
    seed: int,
    sf: float = 0.01,
    n_docs: int = 500,
    n_vecs: int = 500,
) -> dict[str, int]:
    """Write every fixture table under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 100)
    n_line = max(int(6_000_000 * sf), 400)
    n_evt = max(int(1_000_000 * sf), 100)
    n_user = max(int(15_000 * sf), 5)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _dates(rng, n_ord, 2404),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(19.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _dates(rng, n_line, 2500),
    })
    offs = np.sort(rng.integers(0, 30 * _DAY_US, n_evt))
    _write(out_dir, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _EPOCH_2024 + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_user, n_evt).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts = [
        " ".join(rng.choice(DOC_WORDS, int(n)))
        for n in rng.integers(10, 100, n_docs)
    ]
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, DIM))
    vecs = rng.normal(0.0, 1.0, (n_vecs, DIM)) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return {"lineitem": n_line, "orders": n_ord, "events": n_evt,
            "documents": n_docs, "embeddings": n_vecs}
