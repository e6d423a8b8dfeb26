"""Seeded generator of the registry's ten input tables.

The registry queries read ``<sf_dir>/<table>.parquet`` (``tables.table``).
This module writes those files from a seed alone, with the column names and
types the queries and their DuckDB oracles expect: a TPC-H-like star schema,
an ``events`` stream, a ``documents`` corpus in which about 5% of the
documents repeat another one's text plus `` dup``, and unit-norm 64-d
``embeddings`` with ten weak clusters. Row counts scale with ``sf`` the
way the TPC-H tables do (lineitem ~= 6M x sf). Only numpy and pyarrow are
used, so the inputs are staged before any Spark session exists.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DOC_WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
DOC_LANGS = ("en", "de", "es", "fr", "zh")
DOC_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
N_SOURCES = 20
EMB_DIM = 64
EMB_LABELS = 10

_ORDER_DAY0 = np.datetime64("1995-01-01", "us")
_EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
_EVENT_SPAN_US = 30 * 86400 * 1_000_000


def _write(dst: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(dst, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng: np.random.Generator, values: tuple[str, ...], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values, pa.string())
    ).cast(pa.string())


def _documents(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    texts = [
        " ".join(rng.choice(DOC_WORDS, size=int(k)))
        for k in rng.integers(10, 101, size=n)
    ]
    # planted near-duplicates: another document's text plus one token
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(n))] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _choice(rng, DOC_LANGS, n, DOC_LANG_P),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    centers = rng.normal(size=(EMB_LABELS, EMB_DIM))
    centers *= 0.15 / np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, EMB_LABELS, size=n)
    x = centers[labels] + rng.normal(scale=EMB_DIM ** -0.5, size=(n, EMB_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32))
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels.astype(np.int32)),
    }


def write_tables(dst: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten tables for scale ``sf`` under ``dst``; same (sf, seed),
    same files. Returns the row count of each table."""
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(500, int(1_000_000 * sf))
    n_users = max(20, int(15_000 * sf))
    n_docs = max(200, int(50_000 * sf))
    n_emb = max(200, int(50_000 * sf))

    _write(dst, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    _write(dst, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(dst, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
    })
    _write(dst, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(dst, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": _choice(rng, tuple(names), n_part),
        "p_brand": _choice(rng, tuple(f"Brand#{i}" for i in range(1, 26)), n_part),
        "p_type": _choice(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
        ),
    })
    order_dates = _ORDER_DAY0 + rng.integers(0, 2400, n_ord).astype("timedelta64[D]")
    _write(dst, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _choice(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": pa.array(order_dates, pa.timestamp("us")),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
    })
    ship = _ORDER_DAY0 + rng.integers(1, 2500, n_line).astype("timedelta64[D]")
    _write(dst, "lineitem", {
        "l_orderkey": pa.array(np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _choice(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _choice(rng, ("F", "O"), n_line),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    offs = np.sort(rng.choice(_EVENT_SPAN_US, size=n_evt, replace=False))
    _write(dst, "events", {
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": pa.array(_EVENT_T0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt).astype(np.int64)),
        "event_type": _choice(rng, EVENT_TYPES, n_evt),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2))),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)], pa.string()
        ),
    })
    _write(dst, "documents", _documents(rng, n_docs))
    _write(dst, "embeddings", _embeddings(rng, n_emb))
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_ord, "lineitem": n_line, "events": n_evt,
        "documents": n_docs, "embeddings": n_emb,
    }


def data_bytes(sf_dir: str) -> int:
    """Bytes of the staged table files."""
    return sum(
        os.path.getsize(os.path.join(sf_dir, f"{t}.parquet")) for t in TABLES
    )

