"""Seeded input generators.  The same seed gives byte-identical tables; the
engine only ever sees what these write to disk."""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def lineitem(seed: int, rows: int) -> pa.Table:
    """A lineitem-shaped table sorted by ``l_orderkey`` (about four lines
    per order), like a table loaded in key order."""
    rng = np.random.default_rng([seed, 1])
    orders = rows // 4 + 1
    return pa.table({
        "l_orderkey": np.sort(rng.integers(1, orders + 1, rows)),
        "l_partkey": rng.integers(1, 200_001, rows),
        "l_suppkey": rng.integers(1, 10_001, rows),
        "l_linenumber": rng.integers(1, 8, rows, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, rows, dtype=np.int32),
        "l_extendedprice": rng.integers(90_000, 10_500_000, rows),  # cents
        "l_discount": rng.integers(0, 11, rows, dtype=np.int32),
        "l_tax": rng.integers(0, 9, rows, dtype=np.int32),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, rows)],
        "l_shipdate": pa.array(
            rng.integers(8_036, 10_592, rows, dtype=np.int32), pa.date32()
        ),
    })


def accounts(seed: int, rows: int) -> pa.Table:
    """The dataset ``upsert_write`` merges into: one row per key."""
    rng = np.random.default_rng([seed, 2])
    return pa.table({
        "k": np.arange(rows, dtype=np.int64),
        "version": np.zeros(rows, dtype=np.int64),
        "amount": rng.integers(0, 1_000_000, rows),
        "region": np.array(["emea", "amer", "apac"])[rng.integers(0, 3, rows)],
    })


def update_batch(seed: int, i: int, rows: int, fraction: float) -> pa.Table:
    """Batch ``i``: a fixed fraction of distinct existing keys with new
    amounts, stamped ``version = i + 1``."""
    rng = np.random.default_rng([seed, 3, i])
    n = int(rows * fraction)
    return pa.table({
        "k": np.sort(rng.choice(rows, n, replace=False)).astype(np.int64),
        "version": np.full(n, i + 1, dtype=np.int64),
        "amount": rng.integers(0, 1_000_000, n),
        "region": np.array(["emea", "amer", "apac"])[rng.integers(0, 3, n)],
    })
