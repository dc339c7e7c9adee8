"""Seeded ``events`` feed: the binlog stand-in the CDC workloads stream.

The generated table has the schema and type mix of the fixture ``events``
table (``event_id, ts, user_id, event_type, value, props``): five event types
drawn uniformly, ``user_id`` uniform in ``[0, 1500)``, ``props`` =
``{"k": n}`` with ``n`` in ``[0, 100)``, ``value`` exponential with mean 50
rounded to cents, and ``ts`` strictly increasing with ``event_id`` over
January 2024. The CDC mapping in ``cdc/source.py`` derives heartbeats,
blacklisted rows and refresh rows from ``user_id`` and ``event_id``, so their
shares follow from these draws.

The feed is a directory of parquet parts named in arrival order, the layout
the partitioned stream reader treats as an append-only binlog.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
USER_IDS = 1500
PROPS_K = 100
VALUE_MEAN = 50.0
TS_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
TS_SPAN_US = 30 * 86_400 * 1_000_000
#: ``txn_order`` keeps 15 bits for the binlog file number, which is
#: ``event_id div 1000`` (cdc/envelope.py), so event ids stay below this.
MAX_EVENT_ID = 2**15 * 1000


def feed_table(seed: int, rows: int, first_event_id: int = 0) -> pa.Table:
    """``rows`` events with ids ``first_event_id ..``, drawn from ``seed``."""
    if first_event_id + rows > MAX_EVENT_ID:
        raise ValueError(
            f"event ids up to {first_event_id + rows} overflow the 15-bit "
            f"binlog file number of txn_order (limit {MAX_EVENT_ID})"
        )
    rng = np.random.default_rng(seed)
    gaps = rng.exponential(TS_SPAN_US / max(rows, 1), rows)
    ts = TS_START_US + np.floor(np.cumsum(gaps)).astype(np.int64) + np.arange(rows)
    k = rng.integers(0, PROPS_K, rows)
    return pa.table(
        {
            "event_id": pa.array(
                np.arange(first_event_id, first_event_id + rows, dtype=np.int64)
            ),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, USER_IDS, rows, dtype=np.int64)),
            "event_type": pa.array(
                np.asarray(EVENT_TYPES, dtype=object)[
                    rng.integers(0, len(EVENT_TYPES), rows)
                ],
                pa.string(),
            ),
            "value": pa.array(np.round(rng.exponential(VALUE_MEAN, rows), 2)),
            "props": pa.array([f'{{"k": {n}}}' for n in k.tolist()], pa.string()),
        }
    )


def write_parts(table: pa.Table, out: str, bounds: list[int]) -> None:
    """Write rows ``bounds[i]:bounds[i+1]`` of ``table`` as part ``i``."""
    os.makedirs(out, exist_ok=True)
    for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        pq.write_table(
            table.slice(lo, hi - lo), os.path.join(out, f"part-{i:05d}.parquet")
        )


def write_feed(root: str, seed: int, rows: int, files: int) -> str:
    """Write the feed as ``files`` equal parts under ``<root>/events.parquet``.

    ``root`` then serves as the ``sf_dir`` argument of the program's stream
    readers. Returns the ``events.parquet`` directory."""
    out = os.path.join(root, "events.parquet")
    bounds = np.linspace(0, rows, files + 1).astype(int).tolist()
    write_parts(feed_table(seed, rows), out, bounds)
    return out
