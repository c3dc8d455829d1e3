"""Seeded generator of the ``events`` table the wt queries read.

The wt family derives its recent-changes stream from one generic table
(event_id, ts, user_id, event_type, value, props); see
``wikitrender_spark/operators/derive.py``. This module writes that table
with the same shape and value ranges as the repository's shared test data
(ids dense from 0, ts sorted over January 2024 at microsecond precision,
one user per ~67 events, five event types, non-negative two-decimal
values), drawn from a numpy generator keyed by the benchmark seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
_T0_US = 1_704_067_200_000_000          # 2024-01-01T00:00:00Z
_SPAN_US = 30 * 86_400 * 1_000_000       # thirty days


def make_events(n: int, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    n_users = max(15, n * 15 // 1000)
    ts = np.sort(_T0_US + rng.integers(0, _SPAN_US, n))
    value = np.round(rng.exponential(50.0, n), 2)
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), type=pa.int64()),
        "event_type": pa.array(
            np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(value, type=pa.float64()),
        "props": pa.array([f'{{"k": {int(v)}}}' for v in k]),
    })


def write_events(sf_dir: str, n: int, seed: int) -> str:
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "events.parquet")
    pq.write_table(make_events(n, seed), path)
    return path
