"""Seeded generator for the engine's ten input tables.

The tables have the schemas and value domains of the engine's fixture
tables (FIXTURES.md): a TPC-H-like star schema, an ``events`` stream
table, word-soup ``documents`` and 64-dimensional ``embeddings``.  The
same seed and scale always give byte-identical parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "red", "small", "big", "green", "old"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
EMBED_DIM = 64
TABLE_NAMES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings")

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, span_days: int, n: int) -> pa.Array:
    us = _EPOCH_1995 + rng.integers(0, span_days, n) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale ``sf`` (1.0 = 6 M lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_event = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    keys = np.arange(n_part)
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array(rng.choice(names, n_part)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": _money(rng, 1_000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, 2_404, n_ord),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2_100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _days(rng, 2_499, n_line),
    })
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _US_PER_DAY, n_event))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_event), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(150, n_cust // 10), n_event),
                            pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_event)),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_event), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_event)],
    })
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 100)))
             for _ in range(n_doc)]
    # A few exact and near duplicates for the dedup operators.
    for i in range(0, n_doc, 25):
        j = int(rng.integers(0, n_doc))
        texts[j] = texts[i] if i % 50 == 0 else texts[i] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(rng.choice(LANGS, n_doc)),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_vec)
    centres = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centres[labels] + rng.normal(0.0, 0.7, (n_vec, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> int:
    """Write every table as ``<out_dir>/<name>.parquet``; returns the
    number of lineitem rows."""
    os.makedirs(out_dir, exist_ok=True)
    tables = make_tables(seed, sf)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return tables["lineitem"].num_rows
