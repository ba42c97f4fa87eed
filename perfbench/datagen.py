"""Seeded TPC-H-shaped tables for the ``native_sql`` workload.

Writes ``region nation customer supplier orders lineitem`` as one
parquet file each, with the column names and types the inventory's
q01/q03/q05/q06/q13/q18/q24 builders read through
``flaco_spark.tables.table``.  Values are drawn uniformly from the
same ranges as the repository's test tables; row counts scale with
``sf`` (sf=0.1 gives 150,000 orders and ~600,000 lineitems).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem")

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    days = lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"))


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo, hi + 1, n) / 100.0


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the tables under ``out_dir``; returns rows per table."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 10)
    n_orders = max(int(1_500_000 * sf), 100)

    lines_per_order = rng.integers(1, 8, n_orders)
    n_lines = int(lines_per_order.sum())
    l_orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), lines_per_order)
    first_line = np.repeat(np.cumsum(lines_per_order) - lines_per_order, lines_per_order)
    l_linenumber = (np.arange(n_lines) - first_line + 1).astype(np.int32)

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _cents(rng, -99_999, 999_999, n_cust),
            "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _cents(rng, -99_999, 999_999, n_supp),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": _cents(rng, 100_191, 49_999_318, n_orders),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_orders),
            "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_orders)],
        }),
        "lineitem": pa.table({
            "l_orderkey": l_orderkey,
            "l_partkey": rng.integers(0, max(int(200_000 * sf), 10), n_lines).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_lines).astype(np.int64),
            "l_linenumber": l_linenumber,
            "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
            "l_extendedprice": _cents(rng, 90_068, 10_499_991, n_lines),
            "l_discount": rng.integers(0, 11, n_lines) / 100.0,
            "l_tax": rng.integers(0, 9, n_lines) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_lines)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_lines),
        }),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
