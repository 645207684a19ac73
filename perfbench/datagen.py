"""Seeded input generation.

Every table the workloads read is written here, from the seed alone, in the
schema of the engine's testdata (`events`, `customer`, `orders`), so the
program under test sees only generated inputs. Sizes follow the testdata
scale factors: at sf0.1 there are 100,000 events over 1,500 quote keys,
15,000 customers and 150,000 orders.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
N_KEYS = 1500  # quote keys; the 180-pair universe sits in keys < 200
START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86_400_000_000  # the feed covers 30 days


def events_frame(rng: np.random.Generator, n: int) -> pa.Table:
    """Quote events in event-time order with unique microsecond stamps, so
    "latest per key" never ties."""
    ts = START_US + np.sort(rng.choice(SPAN_US, size=n, replace=False))
    value = np.round(rng.exponential(50.0, size=n), 2)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_KEYS, size=n, dtype=np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, size=n)]),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
        }
    )


def customer_frame(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": pa.array(keys),
            "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
            "c_nationkey": pa.array(rng.integers(0, 25, size=n, dtype=np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=n), 2)),
            "c_mktsegment": pa.array(
                np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[
                    rng.integers(0, 5, size=n)
                ]
            ),
        }
    )


def orders_frame(rng: np.random.Generator, n: int) -> pa.Table:
    day_us = 86_400_000_000
    base = 788_918_400_000_000  # 1995-01-01
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, max(1, n // 10), size=n, dtype=np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, size=n)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, size=n), 2)),
            "o_orderdate": pa.array(
                base + rng.integers(0, 2400, size=n) * day_us, type=pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                    rng.integers(0, 5, size=n)
                ]
            ),
        }
    )


def rows_at(scale: float, rows_at_sf01: int, floor: int) -> int:
    return max(floor, int(round(rows_at_sf01 * scale / 0.1)))


def write_table(table: pa.Table, data_dir: str, name: str) -> str:
    os.makedirs(data_dir, exist_ok=True)
    path = os.path.join(data_dir, f"{name}.parquet")
    pq.write_table(table, path)
    return path
