"""Seeded catalog tables for the ``catalog_headline`` workload.

Writes the six tables the benchmark's catalog queries read, in the
layout ``contract.load`` expects (``<dir>/<table>.parquet``), with the
column names, Arrow types and value shapes of the TPC-H-ish test tables
at scale factor 0.01. Every value is a function of the seed, so the same
seed writes the same tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per table at the benchmark's scale (the sf0.01 sizes).
ROWS = {
    "customer": 1_500,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_WEIGHTS = (0.45, 0.15, 0.14, 0.12, 0.14)
_WORDS = (
    "join", "hash", "row", "batch", "scan", "customer", "column", "filter",
    "small", "slow", "merge", "order", "vector", "line", "data", "table",
    "agg", "value", "key", "stream", "window", "spark", "a", "group", "part",
    "big", "sort", "query", "fast", "the",
)
_DAY_US = 86_400 * 1_000_000
_EMBED_DIM = 64
_N_LABELS = 10


def _days(start: str, n_days: np.ndarray) -> np.ndarray:
    return np.datetime64(start, "D") + n_days.astype("timedelta64[D]")


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _customer(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, n)),
        "c_mktsegment": rng.choice(_SEGMENTS, n),
    })


def _orders(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    dates = _days("1995-01-01", rng.integers(0, 2404, n))
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n, dtype=np.int64),
        "o_orderstatus": rng.choice(("F", "O", "P"), n),
        "o_totalprice": _cents(rng.uniform(1000.0, 500_000.0, n)),
        "o_orderdate": pa.array(dates.astype("datetime64[us]"),
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(_PRIORITIES, n),
    })


def _lineitem(rng: np.random.Generator, n: int, orders: pa.Table) -> pa.Table:
    n_orders = orders.num_rows
    okeys = rng.integers(0, n_orders, n, dtype=np.int64)
    order_dates = orders.column("o_orderdate").to_numpy()
    ship = order_dates[okeys] + (
        rng.integers(1, 122, n).astype("timedelta64[D]")
    ).astype("timedelta64[us]")
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": okeys,
        "l_partkey": rng.integers(0, 2000, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, 100, n, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _cents(qty * rng.uniform(900.0, 2100.0, n)),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n),
        "l_linestatus": rng.choice(("F", "O"), n),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    # Increasing timestamps over 30 days, microsecond precision.
    gaps = rng.exponential(30 * _DAY_US / n, n)
    ts_us = np.cumsum(gaps).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + ts_us.astype(
        "timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 150, n, dtype=np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n),
        "value": np.maximum(_cents(rng.exponential(50.0, n)), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 100, n)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_WEIGHTS),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, _N_LABELS, n)
    centers = rng.normal(0.0, 1.0, (_N_LABELS, _EMBED_DIM))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n, _EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(out_dir: str, seed: int,
                 scale: float = 1.0) -> dict[str, int]:
    """Write every table under ``out_dir``, with ``scale`` times the
    default rows; return rows per table."""
    rng = np.random.default_rng(seed)
    rows = {t: max(1, round(n * scale)) for t, n in ROWS.items()}
    os.makedirs(out_dir, exist_ok=True)
    orders = _orders(rng, rows["orders"], rows["customer"])
    tables = {
        "customer": _customer(rng, rows["customer"]),
        "orders": orders,
        "lineitem": _lineitem(rng, rows["lineitem"], orders),
        "events": _events(rng, rows["events"]),
        "documents": _documents(rng, rows["documents"]),
        "embeddings": _embeddings(rng, rows["embeddings"]),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
