"""Session-lifetime cache registry.

A few operators persist() an intermediate that the RETURNED lazy DataFrame
still depends on (d4's minhash signatures, ivf_topk's projected corpus).
Unpersisting inside the operator would defeat the cache before the caller
materializes the result, so ownership of cleanup is the caller's. Operators
register those persisted frames here; callers that run many operators in
one session (bench.py, the test suite) call :func:`release_caches` between
queries to return the executor storage memory.

At real scale the equivalent move is writing the intermediate to a table
once and reading it back — the cache registry is the single-session stand-in.

Operators that stage intermediate tables on local disk (state stores,
stream inputs, index round-trips) own those files for one call only:
:func:`scratch_dir` scopes the tree, and :func:`collect_local` detaches the
bounded result from it before it goes.
"""

from __future__ import annotations

import shutil
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Record a persist()ed DataFrame for later release; returns it."""
    _TRACKED.append(df)
    return df


def release_caches() -> int:
    """Unpersist every tracked DataFrame (blocking=False). Returns count."""
    n = len(_TRACKED)
    for df in _TRACKED:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    _TRACKED.clear()
    return n


@contextmanager
def scratch_dir(prefix: str) -> Iterator[str]:
    """A fresh local directory, removed with its contents on every exit
    from the ``with`` block, including a raise."""
    path = tempfile.mkdtemp(prefix=prefix)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def collect_local(df: DataFrame) -> DataFrame:
    """Materialize a bounded result on the driver and return it as a local
    frame, so it stays valid after the scratch files it was read from are
    deleted."""
    return df.sparkSession.createDataFrame(df.collect(), df.schema)
