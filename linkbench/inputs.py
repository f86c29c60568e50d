"""Seeded benchmark inputs: a synthetic ``orders`` table.

The engine derives person records from an ``orders`` parquet file
(``sources.records.PERSON_RECORDS_SQL`` keys names, dates and labels on
``o_orderkey`` and ``o_custkey``).  The benchmark writes that file itself:
``n`` orders spread over ``n / 10`` customers, about ten orders (person
records) per customer, as in the TPC-H-shaped test data.

The seed only shifts the keys, as ``bench.scaled_person_records`` does:
the order-key offset is a multiple of 33 so the ``% 11`` perturbation and
``% 3`` label patterns repeat, and the customer-key offset deals the names
again from the same pools.  Seed 0 is the unshifted table, so every seed
has the same shape (records, entities, cluster sizes) and different names.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Fixed draw of the customer of each order; the seed never changes it.
_SHAPE_SEED = 20_240_601
ORDERKEY_STRIDE = 33 * 100_003
CUSTKEY_STRIDE = 1_000_003


def write_orders(out_dir: str, n_orders: int, seed: int) -> str:
    """Write ``<out_dir>/orders.parquet`` for ``seed``; return ``out_dir``."""
    if seed < 0:
        raise ValueError("seed must be >= 0")
    rng = np.random.default_rng(_SHAPE_SEED)
    cust = rng.integers(0, max(1, n_orders // 10), size=n_orders,
                        dtype=np.int64)
    table = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64)
        + seed * ORDERKEY_STRIDE,
        "o_custkey": cust + seed * CUSTKEY_STRIDE,
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "orders.parquet"))
    return out_dir
