"""Seeded star-schema tables for the analytics mix.

The declared queries read ten parquet tables (TPC-H-shaped ``region`` ..
``lineitem``, an ``events`` stream table, and the ``documents`` /
``embeddings`` corpus tables). This module writes a fresh set from a seed,
with the column types, key ranges and value domains the queries expect, at
a scale factor ``sf`` (``sf=0.001`` gives 6,000 ``lineitem`` rows). The
tables are written once per (seed, sf) and reused.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import harness

GENERATOR_VERSION = 1
TABLE_NAMES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
               "events", "documents", "embeddings")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
NOUNS = ["widget", "gizmo", "gear", "bolt", "ring", "plate", "anvil", "spring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
N_SOURCES = 20
EMBED_DIM = 64


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(root: str, seed: int, sf: float) -> dict:
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_events = max(100, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000, 500000),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        },
    }
    quantity = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(900, 2100, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", 2499),
    }
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_events)
    ).astype("timedelta64[us]")
    tables["events"] = {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.clip(np.round(rng.lognormal(3.5, 1.0, n_events), 2), 0.01, 500.0),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    }
    lengths = rng.integers(10, 101, n_docs)
    text = [" ".join(rng.choice(WORDS, n)) for n in lengths]
    tables["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": text,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }
    vecs = rng.standard_normal((n_vecs, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    }

    os.makedirs(root, exist_ok=True)
    counts = {}
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
        counts[name] = table.num_rows
    return {"seed": seed, "sf": sf, "rows": counts}


def cached(cache_dir: str, seed: int, sf: float) -> tuple[str, dict]:
    """``(dir, manifest)`` of the tables for (seed, sf), written on first use."""
    root = os.path.join(cache_dir, f"tables-v{GENERATOR_VERSION}-seed{seed}-sf{sf}")
    return root, harness.cached(root, lambda d: generate(d, seed, sf))
