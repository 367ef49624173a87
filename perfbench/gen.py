"""Seeded ``events`` tables with the schema of the engine's input table.

The engine derives every page and every media payload from
``events.event_id``, so this table is the whole input of the
benchmark's workloads. Everything comes from one numpy generator seeded
by the caller: the same seed gives byte-identical parquet files,
another seed gives other ids, another row order and other column
values.

``event_id`` is unique (pages use it as their url key) and drawn from
``[0, id_space)``; every id-derived expression of the queries stays
far inside bigint there, so no query can overflow under ANSI mode.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
SPAN_US = 30 * 86_400 * 1_000_000


def events_table(n: int, seed: int, id_space: int) -> pa.Table:
    """``n`` events with unique ids drawn from ``[0, id_space)``, in
    seeded row order."""
    if id_space < n:
        raise ValueError(f"id_space {id_space} < n {n}")
    rng = np.random.default_rng(seed)
    ids = rng.permutation(id_space)[:n].astype(np.int64)
    ts = T0_US + np.sort(rng.integers(0, SPAN_US, n))
    value = np.round(np.minimum(rng.exponential(50.0, n), 560.0), 2)
    return pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": pa.array(
            np.asarray(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)],
            pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def write_events(out_dir: str, seed: int, n: int, id_space: int) -> int:
    """Write ``events.parquet`` into ``out_dir``; return its size."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "events.parquet")
    pq.write_table(events_table(n, seed, id_space), path)
    return os.path.getsize(path)
