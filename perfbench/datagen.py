"""Deterministic input tables for the service benchmark.

The catalog keys the benchmark serves read ``events``, ``customer`` and
``nation`` from a scale-factor directory. This module writes those three
tables with the shapes the package's test data has (``events``: sf x 1e6
rows of sensor-like readings over January 2024; ``customer``: sf x 1.5e5
rows; ``nation``: 25 rows), from numpy alone, so the benchmark needs no
data outside its own checkout.

The tables depend only on ``sf`` and ``DATA_SEED``, never on the workload
seed: every run of every workload serves the same corpus, and the seed
only picks request order, filters and stream splits.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
TABLES = ("events", "customer", "nation")
_JAN_START_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00
_SPAN_US = 30 * 86400 * 1_000_000


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    ts = np.sort(_JAN_START_US + rng.integers(0, _SPAN_US, n))
    value = np.round(rng.exponential(50.0, n), 2)
    props = np.array([f'{{"k": {k}}}' for k in range(100)], dtype=object)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pa.array(
            np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)]
        ),
        "value": pa.array(value),
        "props": pa.array(props[rng.integers(0, 100, n)]),
    })


def _customer(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": pa.array(keys),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array(
            np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, n)]
        ),
    })


def _nation() -> pa.Table:
    keys = np.arange(25, dtype=np.int32)
    return pa.table({
        "n_nationkey": pa.array(keys),
        "n_name": pa.array([f"NATION_{k}" for k in keys]),
        "n_regionkey": pa.array(keys % 5),
    })


def ensure_tables(sf_dir: str, sf: float) -> str:
    """Write the tables under ``sf_dir`` unless a previous run of the
    same ``sf`` already did; returns ``sf_dir``. A marker file written
    last makes an interrupted generation start over."""
    marker = os.path.join(sf_dir, "_generated.json")
    want = {"sf": sf, "seed": DATA_SEED, "tables": list(TABLES)}
    if os.path.exists(marker):
        with open(marker) as f:
            if json.load(f) == want:
                return sf_dir
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    n_events = int(round(sf * 1_000_000))
    n_users = int(round(sf * 15_000))
    tables = {
        "events": _events(rng, n_events, n_users),
        "customer": _customer(rng, int(round(sf * 150_000))),
        "nation": _nation(),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    with open(marker, "w") as f:
        json.dump(want, f)
    return sf_dir
