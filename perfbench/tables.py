"""Seeded input tables for the batch headline queries.

The headline slugs read seven tables: ``events`` (the observation stream
adapter), ``nation``, ``documents``, ``embeddings``, ``customer``,
``orders`` and ``lineitem``.  This module writes them as parquet with the
column names, types and value ranges of the repository's TPC-H-ish
fixtures (TESTDATA.md), at ``SF`` times the sf=1 row counts, as a pure
function of the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.01
VOCAB = (
    "a the spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row agg key "
    "query scan batch"
).split()
LANGS = ("en", "zh", "de", "es", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
DIM = 64
US_PER_DAY = 86_400_000_000


def _days_us(rng, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * US_PER_DAY


def _events(rng) -> pa.Table:
    n, users = int(1_000_000 * SF), int(15_000 * SF)
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * US_PER_DAY, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(60.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng) -> pa.Table:
    n = int(50_000 * SF)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.03:  # exact re-post of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.08:  # near-duplicate: a few tokens changed
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(8, 100)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng) -> pa.Table:
    n = int(20_000 * SF)
    label = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, DIM))
    v = centers[label] + rng.normal(scale=1.5, size=(n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label),
    })


def _nation() -> pa.Table:
    k = np.arange(25, dtype=np.int32)
    return pa.table({
        "n_nationkey": pa.array(k),
        "n_name": pa.array([f"NATION_{i}" for i in k]),
        "n_regionkey": pa.array(k % 5),
    })


def _customer(rng) -> pa.Table:
    n = int(150_000 * SF)
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
    })


def _orders(rng) -> pa.Table:
    n, customers = int(1_500_000 * SF), int(150_000 * SF)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, customers, n)),
        "o_orderstatus": pa.array(np.array(("F", "O", "P"))[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n), 2)),
        "o_orderdate": pa.array(_days_us(rng, n, "1995-01-01", "2001-08-01"), pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    })


def _lineitem(rng) -> pa.Table:
    n, orders = int(6_000_000 * SF), int(1_500_000 * SF)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, orders, n)),
        "l_partkey": pa.array(rng.integers(0, int(200_000 * SF), n)),
        "l_suppkey": pa.array(rng.integers(0, int(10_000 * SF), n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(("A", "N", "R"))[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(("O", "F"))[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(_days_us(rng, n, "1995-01-02", "2001-11-04"), pa.timestamp("us")),
    })


def write_tables(out_dir: str, seed: int) -> None:
    """Write every headline input table under ``out_dir``.  Each table
    draws from its own seeded stream, so adding a table never changes the
    others."""
    os.makedirs(out_dir, exist_ok=True)
    makers = {
        "events": _events,
        "documents": _documents,
        "embeddings": _embeddings,
        "nation": lambda rng: _nation(),
        "customer": _customer,
        "orders": _orders,
        "lineitem": _lineitem,
    }
    for i, (name, make) in enumerate(makers.items()):
        rng = np.random.default_rng([seed, i])
        pq.write_table(make(rng), os.path.join(out_dir, f"{name}.parquet"))
