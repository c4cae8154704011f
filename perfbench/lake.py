"""Seeded synthetic lake for the `analytics` workload.

Writes the ten tables the engine's registry queries read
(``data_eng_project_spark.tables.TABLE_NAMES``), one single-row-group
parquet file each, with the column names, arrow types and value domains
of the engine's reference test lake (TPC-H-like star schema, an events
stream, a short-text corpus with planted near-duplicates, and unit
embeddings). Sizes are those of the reference lake's sf0.01 tier.

The lake depends only on ``seed``; ``digest`` names it so that cached
oracle answers can never outlive the data they were computed from.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LAKE_SEED = 20240101

ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
N_USERS = 150
DUP_SHARE = 0.05  # documents that repeat an earlier text plus " dup"

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "hot", "small", "old", "red", "new", "big", "cold", "green", "dark", "shiny", "tiny", "light"]
_PART_NOUN = ["bolt", "gear", "anvil", "ring", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _day_timestamps(rng: np.random.Generator, start: str, days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < DUP_SHARE:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            words = rng.choice(_VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    labels = rng.integers(0, 10, n)
    centers = rng.standard_normal((10, dim)) * 0.5
    v = centers[labels] + rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


def build_tables(seed: int = LAKE_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    r = ROWS
    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(_REGIONS, pa.string()),
    }
    t["nation"] = {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }
    n = r["customer"]
    t["customer"] = {
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n), pa.float64()),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n), pa.string()),
    }
    n = r["supplier"]
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n), pa.float64()),
    }
    n = r["part"]
    t["part"] = {
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, n), rng.choice(_PART_NOUN, n))],
            pa.string(),
        ),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n)], pa.string()),
        "p_type": pa.array(rng.choice(_PART_TYPES, n), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2), pa.float64()),
    }
    n = r["orders"]
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, r["customer"], n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n), pa.float64()),
        "o_orderdate": _day_timestamps(rng, "1995-01-01", 2404, n),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n), pa.string()),
    }
    n = r["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    t["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, r["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, r["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, r["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n), 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n), pa.string()),
        "l_shipdate": _day_timestamps(rng, "1995-01-02", 2499, n),
    }
    n = r["events"]
    ts = np.datetime64("2024-01-01", "us") + rng.integers(0, 30 * 86_400_000_000, n).astype(
        "timedelta64[us]"
    )
    t["events"] = {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(np.sort(ts), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, n), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n), pa.string()),
        "value": pa.array(np.maximum(np.round(rng.lognormal(3.5, 1.0, n), 2), 0.01), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    }
    t["documents"] = _documents(rng, r["documents"])
    t["embeddings"] = _embeddings(rng, r["embeddings"])
    return {name: pa.table(cols) for name, cols in t.items()}


def write_lake(directory: str, seed: int = LAKE_SEED) -> str:
    """Write the lake under ``directory`` (idempotent: an existing
    complete lake is kept). Returns the directory."""
    marker = os.path.join(directory, "_COMPLETE")
    if os.path.exists(marker):
        return directory
    os.makedirs(directory, exist_ok=True)
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
    open(marker, "w").close()
    return directory


def digest(directory: str) -> str:
    h = hashlib.sha1()
    for name in sorted(os.listdir(directory)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(directory, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]
