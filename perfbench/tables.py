"""Seeded generator for the ten tables the contract queries read.

The tables have the schema of the star-schema test tables the contract
queries were written against (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings), at the row counts of the
smallest of them. Every value comes from ``seed``, so a run reads only
files it made itself. About one document in twenty is an earlier document
with `` dup`` appended, so the dedup queries find duplicates.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}
TABLES = ["region", "nation", *ROWS]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["cold", "small", "large", "red", "blue", "shiny", "matte", "heavy"]
_PART_NOUN = ["widget", "bolt", "gear", "spring", "valve", "panel", "screw", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "fr", "es", "zh", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(rng, n: int, start: datetime, span_days: int) -> list[datetime]:
    return [start + timedelta(days=int(d)) for d in rng.integers(0, span_days, n)]


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]).tolist(),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n["part"]), pa.int64()),
            "p_name": [
                f"{rng.choice(_PART_ADJ)} {rng.choice(_PART_NOUN)}"
                for _ in range(n["part"])
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(_PART_TYPES, n["part"]).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900.0 + 0.1 * np.arange(n["part"]), 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": pa.array(
                _days(rng, n["orders"], datetime(1995, 1, 1), 2404), pa.timestamp("us")
            ),
            "o_orderpriority": rng.choice(_PRIORITIES, n["orders"]).tolist(),
        }
    )
    m = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, m),
            "l_discount": np.round(rng.integers(0, 11, m) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, m) / 100.0, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], m).tolist(),
            "l_linestatus": rng.choice(["F", "O"], m).tolist(),
            "l_shipdate": pa.array(
                _days(rng, m, datetime(1995, 1, 2), 2498), pa.timestamp("us")
            ),
        }
    )
    e = n["events"]
    offsets_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, e))
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(e), pa.int64()),
            "ts": pa.array(
                [datetime(2024, 1, 1) + timedelta(microseconds=int(o)) for o in offsets_us],
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, 15, e), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, e).tolist(),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, e)],
        }
    )
    texts: list[str] = []
    for i in range(n["documents"]):
        if texts and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            k = int(rng.integers(8, 95))
            texts.append(" ".join(rng.choice(_WORDS, k)))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(n["documents"]), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, n["documents"], p=_LANG_P).tolist(),
            "source": [f"src{s}" for s in rng.integers(0, 20, n["documents"])],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    v = rng.standard_normal((n["embeddings"], 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(n["embeddings"]), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n["embeddings"]), pa.int32()),
        }
    )
    return t


def write_tables(out_dir: str, seed: int) -> None:
    """Write ``<out_dir>/<table>.parquet``, one row group per table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
