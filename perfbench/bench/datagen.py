"""Seeded input tables for the read_api workload.

Writes `events` and `lineitem` parquet tables with the column names, types
and value distributions of the repository's fixture tables (FIXTURES.md):
events spread over 30 days of event time in id order, five event types,
exponentially distributed values with mean 50, and TPC-H-style lineitem
rows. The same (seed, scale) always gives byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
DAY_US = 86_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000
EPOCH_1995_01_02_US = 788_313_600_000_000


def events(rng, n, users):
    # strictly increasing event times: sorted draws plus the row index
    ts = np.sort(rng.integers(0, 30 * DAY_US - n, n)) + np.arange(n) + EPOCH_2024_US
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def lineitem(rng, n, orders, parts, suppliers):
    partkey = rng.integers(0, parts, n, dtype=np.int64)
    quantity = rng.integers(1, 51, n).astype(np.float64)
    unit = 900.0 + (partkey % 1200) + rng.integers(0, 100, n) / 100.0
    days = rng.integers(0, 2498, n)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, orders, n, dtype=np.int64)),
        "l_partkey": pa.array(partkey),
        "l_suppkey": pa.array(rng.integers(0, suppliers, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(quantity),
        "l_extendedprice": pa.array(np.round(quantity * unit, 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(EPOCH_1995_01_02_US + days * DAY_US,
                               type=pa.timestamp("us")),
    })


def generate(out_dir, seed, sf):
    """Writes the tables for scale factor `sf` (0.01 = 10k events, 60k
    lineitem rows) under `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(round(sf * 1e6))])
    pq.write_table(events(rng, int(1_000_000 * sf), max(15, int(15_000 * sf))),
                   os.path.join(out_dir, "events.parquet"))
    pq.write_table(lineitem(rng, int(6_000_000 * sf), int(1_500_000 * sf),
                            int(200_000 * sf), max(10, int(10_000 * sf))),
                   os.path.join(out_dir, "lineitem.parquet"))
    return out_dir
