"""Benchmark inputs: the ten catalog tables, generated from nothing.

``base_tables(sf)`` builds a TPC-H-ish star schema plus the ``events``,
``documents`` and ``embeddings`` tables the corpus operators read, with the
same schemas and value distributions as the repository's test data.  Their
content depends only on ``sf``: every run measures the same rows.

``write_inputs(tables, seed, out_dir)`` writes a seeded row permutation of
those tables, one single-row-group parquet file per table.  The workload seed
changes only row order, so every output the program computes from the files
must be the same for every seed.
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
EMBED_DIM = 64

_US_PER_DAY = 86_400_000_000


def _epoch_us(day: str) -> int:
    return int((datetime.fromisoformat(day) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], type=pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), rng.integers(10, 101))]) for _ in range(n)]
    # 5% near-duplicates (another document's text plus a marker word) and a
    # few exact copies, so the dedup operators have clusters to find
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts, type=pa.string()),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in ids], type=pa.string()),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def base_tables(sf: float) -> dict[str, pa.Table]:
    """The benchmark's tables at scale factor ``sf`` (sf0.1: 600k lineitems)."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust, n_supp, n_part = round(150_000 * sf), round(10_000 * sf), round(200_000 * sf)
    n_ord, n_line, n_ev = round(1_500_000 * sf), round(6_000_000 * sf), round(1_000_000 * sf)
    n_users = max(10, round(15_000 * sf))

    region = pa.table(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    part_keys = np.arange(n_part, dtype=np.int64)
    part = pa.table(
        {
            "p_partkey": part_keys,
            "p_name": pa.array(
                [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
                type=pa.string(),
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], type=pa.string()),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (part_keys % 1000) / 10, 2),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(_epoch_us("1995-01-01") + rng.integers(0, 2404, n_ord) * _US_PER_DAY),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _ts(_epoch_us("1995-01-02") + rng.integers(0, 2499, n_line) * _US_PER_DAY),
        }
    )
    events = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(_epoch_us("2024-01-01") + np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev))),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], type=pa.string()),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": _documents(rng, round(50_000 * sf)),
        "embeddings": _embeddings(rng, round(20_000 * sf)),
    }


def content_key(sf: float) -> str:
    """Changes whenever ``base_tables(sf)`` could return other rows."""
    with open(__file__, "rb") as fh:
        source = fh.read()
    return hashlib.sha256(source + f"{sf}|{np.__version__}".encode()).hexdigest()


def write_inputs(tables: dict[str, pa.Table], seed: int, out_dir: str) -> None:
    """Write each table with its rows in a ``seed``-determined order."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        shuffled = table.take(pa.array(rng.permutation(table.num_rows)))
        pq.write_table(shuffled, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(1, table.num_rows))
