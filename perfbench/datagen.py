"""Seeded synthetic inputs for the benchmark.

Writes the two parquet tables the workloads read (``orders`` and
``lineitem``) with the column names and types of the repo's TPC-H-ish
fixtures: 75 k orders and ~300 k line items, half of sf0.1.  Order
keys are spaced ``KEY_STRIDE`` apart over sf0.1's key range, so the
6-digit rowkeys still fall into 15 prefix partitions.  The same seed
always yields byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ORDERS = 75_000
KEY_STRIDE = 2

STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
FLAGS = np.array(["A", "N", "R"])
LINESTATUS = np.array(["F", "O"])
EPOCH_1995 = np.datetime64("1995-01-01", "us")
DAY_US = 86_400_000_000


def orders(rng: np.random.Generator, n: int) -> pa.Table:
    days = rng.integers(0, 2404, n)  # 1995-01-01 .. 2001-08-01
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64) * KEY_STRIDE),
        "o_custkey": pa.array(rng.integers(0, 15_000, n, dtype=np.int64)),
        "o_orderstatus": pa.array(STATUSES[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(850.0, 550_000.0, n), 2)),
        "o_orderdate": pa.array(EPOCH_1995 + days * DAY_US, pa.timestamp("us")),
        "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n)]),
    })


def lineitem(rng: np.random.Generator, order_dates: np.ndarray) -> pa.Table:
    per_order = rng.integers(1, 8, len(order_dates))  # mean 4 lines per order
    okey = np.repeat(np.arange(len(order_dates), dtype=np.int64), per_order)
    n = len(okey)
    starts = np.cumsum(per_order) - per_order
    linenumber = (np.arange(n) - np.repeat(starts, per_order) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2_100.0, n), 2)
    ship = order_dates[okey] + rng.integers(1, 122, n) * DAY_US
    return pa.table({
        "l_orderkey": pa.array(okey * KEY_STRIDE),
        "l_partkey": pa.array(rng.integers(0, 20_000, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n, dtype=np.int64)),
        "l_linenumber": pa.array(linenumber),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(FLAGS[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(LINESTATUS[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })


def generate(out_dir: str, seed: int, orders_only: bool = False) -> dict[str, pa.Table]:
    """Write the tables under ``out_dir`` and return them in memory (the
    benchmark's verification model reads the same values).  ``orders``
    is drawn first from the seeded stream, so it is the same with
    ``orders_only`` (all the KV workloads read)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tabs = {"orders": orders(rng, N_ORDERS)}
    if not orders_only:
        tabs["lineitem"] = lineitem(
            rng, tabs["orders"].column("o_orderdate").to_numpy().astype("datetime64[us]")
        )
    for name, t in tabs.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), compression="zstd")
    return tabs
