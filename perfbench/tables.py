"""Seeded generator of the star-schema fixture tables the query registry
reads (region, nation, customer, supplier, part, orders, lineitem,
events, documents, embeddings), one parquet file each.

Schemas and value distributions follow the repository's sf0.01 fixtures
(TESTDATA.md, FIXTURES.md section B) at a fifth of their row counts,
except the 100 suppliers: uniform keys, two-decimal prices,
day-granular order and ship dates, ``{"k": n}`` event properties, a 31-word
document vocabulary with 5% near-duplicate documents, and unit-norm
64-dimensional embeddings.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {  # a fifth of the sf0.01 fixture sizes, all 100 suppliers
    "customer": 300,
    "supplier": 100,
    "part": 400,
    "orders": 3_000,
    "lineitem": 12_000,
    "events": 2_000,
    "documents": 100,
    "embeddings": 100,
}
USERS = 150
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
WORDS = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()


def _ts(rng: np.random.Generator, lo: str, hi: str, n: int, unit: str) -> np.ndarray:
    a = np.datetime64(datetime.fromisoformat(lo), unit).astype(np.int64)
    b = np.datetime64(datetime.fromisoformat(hi), unit).astype(np.int64)
    return rng.integers(a, b, n, endpoint=True).astype(f"datetime64[{unit}]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n, endpoint=True) / 100, 2)


def make_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = ROWS
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n["customer"]), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n["supplier"]), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n["part"]), i64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(ADJECTIVES, n["part"]), rng.choice(NOUNS, n["part"])
                )
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(PART_TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
            "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n["orders"]), i64),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
            "o_orderdate": _ts(rng, "1995-01-01", "2001-08-01", n["orders"], "D").astype(
                "datetime64[us]"
            ),
            "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
        }
    )
    m = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], m), i64),
            "l_partkey": pa.array(rng.integers(0, n["part"], m), i64),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, 900.5, 104999.99, m),
            "l_discount": rng.integers(0, 11, m) / 100,
            "l_tax": rng.integers(0, 9, m) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], m),
            "l_linestatus": rng.choice(["F", "O"], m),
            "l_shipdate": _ts(rng, "1995-01-02", "2001-11-04", m, "D").astype(
                "datetime64[us]"
            ),
        }
    )
    e = n["events"]
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e), i64),
            "ts": np.sort(_ts(rng, "2024-01-01", "2024-01-30 23:59:59", e, "us")),
            "user_id": pa.array(rng.integers(0, USERS, e), i64),
            "event_type": rng.choice(EVENT_TYPES, e),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    texts: list[str] = []
    for i in range(n["documents"]):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 100)))))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n["documents"]), i64),
            "text": texts,
            "lang": rng.choice(LANGS, n["documents"]),
            "source": [f"src{k}" for k in rng.integers(0, 20, n["documents"])],
            "n_chars": pa.array([len(x) for x in texts], i64),
        }
    )
    v = rng.normal(size=(n["embeddings"], 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n["embeddings"]), i64),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n["embeddings"]), i32),
        }
    )
    return t


def write_tables(out_dir: str, seed: int) -> int:
    """Write every table to ``out_dir/<name>.parquet`` (one file, one row
    group, like the fixtures); returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in make_tables(np.random.default_rng(seed)).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
