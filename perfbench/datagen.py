"""Seeded TPC-H-shaped input tables for the benchmark.

`derive_triples` reads five tables: customer, nation, region, supplier and
orders. This module writes them as parquet with the same columns and types
and the same row counts per scale factor as the repository's test data, so
sf=0.1 gives the same 543,144-triple KB with 13 predicates. Values (balances,
segments, foreign keys, prices) come from `numpy.random.default_rng(seed)`:
the same seed writes the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_NATIONS = 25
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]


def _balances(rng: np.random.Generator, n: int) -> np.ndarray:
    # TPC-H acctbal range, cents precision
    return rng.integers(-99_999, 1_000_000, n) / 100.0


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, str]:
    """Write the five tables under out_dir; returns {name: parquet path}."""
    rng = np.random.default_rng(seed)
    cust = np.arange(int(150_000 * sf), dtype=np.int64)
    supp = np.arange(int(10_000 * sf), dtype=np.int64)
    n_orders = int(1_500_000 * sf)
    nat = np.arange(N_NATIONS, dtype=np.int32)
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(len(REGIONS), dtype=np.int32)),
                "r_name": REGIONS,
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(nat),
                "n_name": [f"NATION_{k}" for k in nat],
                "n_regionkey": pa.array(nat % len(REGIONS)),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(cust),
                "c_name": [f"Customer#{k:09d}" for k in cust],
                "c_nationkey": pa.array(
                    rng.integers(0, N_NATIONS, len(cust)).astype(np.int32)
                ),
                "c_acctbal": pa.array(_balances(rng, len(cust))),
                "c_mktsegment": pa.array(
                    np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), len(cust))]
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(supp),
                "s_name": [f"Supplier#{k:09d}" for k in supp],
                "s_nationkey": pa.array(
                    rng.integers(0, N_NATIONS, len(supp)).astype(np.int32)
                ),
                "s_acctbal": pa.array(_balances(rng, len(supp))),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, len(cust), n_orders).astype(np.int64)),
                "o_orderstatus": pa.array(
                    np.array(STATUSES)[rng.integers(0, len(STATUSES), n_orders)]
                ),
                "o_totalprice": pa.array(rng.integers(85_000, 50_000_000, n_orders) / 100.0),
            }
        ),
    }
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths
