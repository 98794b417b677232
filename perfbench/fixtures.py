"""Seeded fixture tables for the ``catalog`` workload.

The declared queries read ten parquet tables (``iotstream.schemas.
FIXTURE_TABLES``).  This module writes tables with the same names, column
types and value domains, at ``scale`` times the row counts of the
smallest fixture scale (150 customers, 1 500 orders, ~6 000 line items,
1 000 events; 500 documents and 500 embeddings at every scale).  The same
seed gives the same tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from iotstream.schemas import FIXTURE_TABLES, table_path

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["red", "small", "hot", "large", "old", "cold", "blue", "new"]
_PART_NOUN = ["plate", "widget", "ring", "rod", "gear", "bolt", "pipe", "valve"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_DAY_US = 86_400_000_000


def _us(d: dt.date) -> int:
    """Midnight UTC of ``d`` in epoch microseconds."""
    return (d - dt.date(1970, 1, 1)).days * _DAY_US


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int, scale: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_orders, n_events = 1500 * scale, 1000 * scale
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    retail = np.round(900 + (np.arange(n_part) % 1000) / 10, 1)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    first_day = _us(dt.date(1995, 1, 1))
    order_day = rng.integers(0, 2405, n_orders)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders).tolist(),
        "o_totalprice": _money(rng, 1000, 500000, n_orders),
        "o_orderdate": _ts(first_day + order_day * _DAY_US),
        "o_orderpriority": rng.choice(_PRIORITIES, n_orders).tolist(),
    })
    lines = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders), lines)
    n_lines = len(l_order)
    l_number = np.concatenate([np.arange(1, k + 1) for k in lines])
    l_part = rng.integers(0, n_part, n_lines)
    qty = rng.integers(1, 51, n_lines).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), pa.int64()),
        "l_linenumber": pa.array(l_number, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part] * rng.uniform(0.999, 2.1, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100,
        "l_tax": rng.integers(0, 9, n_lines) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_lines).tolist(),
        "l_shipdate": _ts(first_day + (order_day[l_order] + rng.integers(1, 122, n_lines)) * _DAY_US),
    })
    span_us = 30 * _DAY_US
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(_us(dt.date(2024, 1, 1)) + np.sort(rng.integers(0, span_us, n_events))),
        "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_events).tolist(),
        "value": _money(rng, 0.01, 490.02, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    n_docs = 500
    texts = [
        " ".join(rng.choice(_WORDS, int(k)).tolist())
        for k in rng.integers(8, 90, n_docs)
    ]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs).tolist(),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    n_vec, dim = 500, 64
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, dim))
    vecs = centers[labels] + rng.normal(0, 0.8, (n_vec, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_fixtures(seed: int, scale: int, directory: str) -> int:
    """Write every fixture table under ``directory``; returns the total
    row count."""
    os.makedirs(directory, exist_ok=True)
    tables = build_tables(seed, scale)
    for name in FIXTURE_TABLES:
        pq.write_table(tables[name], table_path(directory, name))
    return sum(tb.num_rows for tb in tables.values())
