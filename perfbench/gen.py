"""Seeded events tables for the benchmark, built with numpy and pyarrow only.

The generator sits outside the system under test: it never imports
pyspark or the engine package, so a change to the engine cannot change
the inputs it is measured on. The table matches the declared schema
``schema.TESTDATA_SCHEMAS["events"]`` and the shape of the repo's seed-42
testdata: 5 event types, about 1,500 users, 30 days from 2024-01-01,
``ts`` ascending, a long-tailed ``value`` (exponential, mean 50, 2 dp)
and ``props`` of the form ``{"k": n}`` with n in 0..99.

The same seed gives byte-identical parquet files (``perfbench/test_gen.py``).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
N_USERS = 1500
EVENTS_T0 = dt.datetime(2024, 1, 1)
EVENTS_DAYS = 30
_US_PER_DAY = 86_400 * 1_000_000


def _rng(seed: int, *salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, *salt])


def to_us(t: dt.datetime) -> int:
    """Microseconds since the epoch of a naive UTC datetime."""
    return int((t - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _choice(rng: np.random.Generator, options: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(options, dtype=object)[rng.choice(len(options), n)])


def events(
    seed: int,
    n: int,
    first_id: int = 0,
    t0_us: int | None = None,
    span_us: int = EVENTS_DAYS * _US_PER_DAY,
    salt: int = 0,
) -> pa.Table:
    """``n`` events with ids ``first_id..first_id+n-1`` and ``ts`` ascending
    inside ``[t0, t0 + span)``; ``salt`` separates independent draws that
    share a seed (the ingest deliveries)."""
    rng = _rng(seed, 1, salt)
    t0 = to_us(EVENTS_T0) if t0_us is None else t0_us
    ts = t0 + np.sort(rng.integers(0, span_us, n))
    k = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, N_USERS, n, dtype=np.int64)),
            "event_type": _choice(rng, EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {v}}}' for v in k.tolist()]),
        }
    )


def write(table: pa.Table, path: str) -> str:
    """Write one parquet file atomically (a streaming source must never
    see a half-written file)."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)
    return path
