"""Seeded generator for the benchmark's input tables.

Writes the six tables the workloads read (one parquet file each), with the
schemas and value shapes of the engine's TPC-H-style test data: the five
star-schema tables the triples graph is derived from (nation, customer,
supplier, orders, lineitem) and unit-norm ``embeddings``. The same
``(sf, seed)`` always writes the same rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
EMBED_DIM = 64
N_NATIONS = 25


def _days(rng: np.random.Generator, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table for scale factor ``sf`` under ``out_dir``; return
    the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(50, int(1_500_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    rows: dict[str, int] = {}

    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(N_NATIONS), i32),
        "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
        "n_regionkey": pa.array([i % 5 for i in range(N_NATIONS)], i32),
    })
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, N_NATIONS, n_cust), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2), f64),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, N_NATIONS, n_supp), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2), f64),
    })
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_ord), 2), f64),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", 2404), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })

    per_order = rng.integers(1, 8, n_ord)
    n_li = int(per_order.sum())
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    unit = rng.uniform(900, 2100, n_li)
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(np.repeat(np.arange(n_ord), per_order), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in per_order]), i32
        ),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * unit, 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(rng, n_li, "1995-01-02", 2498), pa.timestamp("us")),
    })

    labels = rng.integers(0, 10, n_vecs)
    centroids = rng.normal(0, 1, (10, EMBED_DIM))
    vecs = centroids[labels] * 0.15 + rng.normal(0, 1, (n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    rows["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return rows
