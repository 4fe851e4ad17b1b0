"""Deterministic input tables for the benchmark.

Writes the ten tables the engine's catalog knows (``sources.io.TABLES``)
as single-row-group parquet files, with the column names and types of
the engine's synthetic test tables and row counts of scale factor 0.01.
The tables depend only on ``DATA_SEED``: the workload seed picks request
parameters and order, never table contents, so every run of every seed
scans the same bytes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SF = 0.01
ROWS = {
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
ORDER_DATE_FIRST = dt.date(1995, 1, 1)
ORDER_DATE_DAYS = 2404  # last order date 2001-08-01
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)


def _ts(first: dt.date, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(first.isoformat(), "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate: an earlier text with its head clipped and a marker
            src = texts[int(rng.integers(0, i))]
            texts.append(src[int(rng.integers(0, 24)):].lstrip() + " dup")
        else:
            words = rng.choice(VOCAB, size=int(rng.integers(8, 90)))
            texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 0.02, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 0.125, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


def build_tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    nat = rng.integers(0, 25, n["customer"])
    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
            "c_nationkey": pa.array(nat, pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["customer"])),
            "c_mktsegment": pa.array(rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n["customer"])),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"])),
        },
    }
    adjs = ["small", "red", "blue", "hot", "old", "large", "new", "green"]
    nouns = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
    np_ = n["part"]
    tables["part"] = {
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": pa.array([f"{rng.choice(adjs)} {rng.choice(nouns)}" for _ in range(np_)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], np_)),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2)),
    }
    no = n["orders"]
    order_days = rng.integers(0, ORDER_DATE_DAYS + 1, no)
    tables["orders"] = {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no)),
        "o_orderdate": _ts(ORDER_DATE_FIRST, order_days * 86_400_000_000),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no)),
    }
    nl = n["lineitem"]
    partkey = rng.integers(0, np_, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    price = np.round(qty * (900.0 + (partkey % 1000) * 0.1) * rng.uniform(0.95, 1.05, nl), 2)
    tables["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": _ts(ORDER_DATE_FIRST, rng.integers(1, ORDER_DATE_DAYS + 120, nl)
                          * 86_400_000_000),
    }
    ne = n["events"]
    gaps = rng.exponential(259e6, ne).astype(np.int64)  # ~4.3 min between events
    tables["events"] = {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(dt.date(2024, 1, 1), np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": pa.array(rng.choice(["click", "error", "purchase", "signup", "view"], ne)),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    }
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    return {name: pa.table(cols) for name, cols in tables.items()}


def write_tables(out_dir: str, seed: int = DATA_SEED) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(table.num_rows, 1))
        counts[name] = table.num_rows
    return counts
