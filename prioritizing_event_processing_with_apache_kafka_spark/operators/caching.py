"""Scoped persist tracking — deterministic unpersist for operator caches.

Operators ``persist()`` a subtree when one query plan reads it from
2-3 places (the exact router's sorted midframe, sketch histograms);
without the cache the work re-runs per reference. The frames are
bounded and LRU-evictable, but a *long-lived* session (a service
routing thousands of batches) shouldn't depend on LRU roulette — it
wants each query's caches dropped the moment the query's action
finishes.

:func:`cache_scope` gives callers that guarantee without changing the
operators' laziness contract:

    with cache_scope():
        routed = route(df, cfg, n, order_col="record_id", mode="exact")
        routed.write.parquet(out)         # action runs with caches live
    # <- every frame persisted inside the scope is now unpersisted

Outside any scope, :func:`scoped_persist` degrades to a plain
``persist()``: callers run ``spark.catalog.clearCache()`` between
queries.

Scopes nest (inner scopes release only their own frames) and the stack
is thread-local, so concurrent streaming micro-batches on separate
threads don't release each other's caches.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame

__all__ = ["cache_scope", "scoped_persist"]

_LOCAL = threading.local()


def _stack() -> list[list[DataFrame]]:
    if not hasattr(_LOCAL, "stack"):
        _LOCAL.stack = []
    return _LOCAL.stack


def scoped_persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, registered with the innermost active
    :func:`cache_scope` (if any) for unpersist on scope exit."""
    df = df.persist()
    stack = _stack()
    if stack:
        stack[-1].append(df)
    return df


@contextmanager
def cache_scope() -> Iterator[None]:
    """Unpersist every frame persisted (via :func:`scoped_persist`)
    inside the ``with`` body, once the body — including its actions —
    completes. Exception-safe: caches are released on error too."""
    frames: list[DataFrame] = []
    _stack().append(frames)
    try:
        yield
    finally:
        _stack().pop()
        for f in frames:
            try:
                # blocking: the scope's contract is "no cached frames
                # remain after exit", not "eventually evicted"
                f.unpersist(blocking=True)
            except Exception:  # session already stopped — nothing to free
                pass
