"""Seeded tables for the declared queries.

Writes the ten tables the declared-query registry reads (TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``), one parquet
file each, with the column names and types of the repository's test
data. ``scale`` 1.0 corresponds to sf1 (6M lineitem rows); the benchmark
uses a small scale, at which declared-query walls are dominated by
Python-side build time and the per-job floor.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge order "
    "part query row scan slow small sort spark stream table the value vector window"
).split()
DUP_SHARE = 0.05  # documents that repeat another document plus " dup"
DIM = 64


def _days(rng, start: str, span: int, n: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, span, n).astype("timedelta64[D]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, scale: float) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_events = int(1_500_000 * scale), int(1_000_000 * scale)
    n_docs, n_emb = int(50_000 * scale), int(50_000 * scale)

    _write(out_dir, "region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _days(rng, "1995-01-01", 2400, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    part = rng.integers(0, n_part, n_li)
    _write(out_dir, "lineitem", {
        "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), lines),
        "l_partkey": part,
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900 + (part % 1000) / 10) * rng.uniform(0.95, 1.05, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": rng.choice(("A", "N", "R"), n_li),
        "l_linestatus": rng.choice(("F", "O"), n_li),
        "l_shipdate": _days(rng, "1995-01-02", 2500, n_li),
    })
    ts = np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, 30 * 86_400_000_000, n_events)).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(n_events // 66, 1), n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.normal(size=(n_emb, DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
