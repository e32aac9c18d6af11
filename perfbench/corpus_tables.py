"""Seeded generator for the corpus tables the query basket reads.

Writes `lineitem`, `orders`, `customer`, `documents` and `embeddings`
as single-row-group parquet files with the same column names, types
and value domains as the TPC-H-ish tables the corpus is written
against, so every basket entry and its DuckDB oracle run unchanged.
The same (seed, sf) always writes the same rows.

Two choices keep the oracle comparison free of ties that the engines
may break differently: `(l_orderkey, l_linenumber)` is unique, and
`l_extendedprice` is a whole number of hundreds (see `_lineitem`).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EMBED_DIM = 64


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d) / np.timedelta64(1, "D"))
    return (lo_d + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _orders(rng, n: int, n_cust: int) -> pa.Table:
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n, dtype=np.int64),
        "o_orderstatus": rng.choice(["O", "P", "F"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    })


def _lineitem(rng, n_orders: int) -> pa.Table:
    lines = np.clip(rng.poisson(4.0, n_orders), 1, 7)
    keys = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(len(keys)) - starts + 1).astype(np.int32)
    n = len(keys)
    return pa.table({
        "l_orderkey": keys,
        "l_partkey": rng.integers(0, max(2, n_orders // 7), n, dtype=np.int64),
        "l_suppkey": rng.integers(0, max(2, n_orders // 150), n, dtype=np.int64),
        "l_linenumber": linenumber,
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        # whole hundreds: with two-decimal discount and tax, every
        # discounted price and charge then has at most two decimals,
        # so the a2 sums never sit on a rounding tie that summation
        # order could break either way
        "l_extendedprice": rng.integers(9, 1051, n) * 100.0,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
    })


def _customer(rng, n: int) -> pa.Table:
    return pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(SEGMENTS, n),
    })


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if texts and rng.random() < 0.01:
            # an exact duplicate of an earlier document, for dedup
            texts.append(texts[int(rng.integers(0, len(texts)))])
            continue
        words = rng.choice(VOCAB, int(rng.integers(8, 90)))
        text = " ".join(words)
        if rng.random() < 0.05:
            text += " dup"
        texts.append(text)
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int) -> pa.Table:
    vecs = rng.normal(0.0, 0.125, (n, EMBED_DIM)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the five tables for scale factor ``sf`` under ``out_dir``;
    return their row counts."""
    rng = np.random.default_rng(seed)
    n_orders = max(100, int(1_500_000 * sf))
    n_cust = max(20, int(150_000 * sf))
    tables = {
        "orders": _orders(rng, n_orders, n_cust),
        "lineitem": _lineitem(rng, n_orders),
        "customer": _customer(rng, n_cust),
        "documents": _documents(rng, max(50, int(50_000 * sf))),
        "embeddings": _embeddings(rng, max(50, int(20_000 * sf))),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )
    return {name: t.num_rows for name, t in tables.items()}
