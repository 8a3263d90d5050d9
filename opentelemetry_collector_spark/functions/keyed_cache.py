"""Bounded keyed persist pool for lazily-shared DataFrames.

The recurring problem it solves: an operator builds a frame that its
RESULT plan references from several places (both sides of a
self-join, the band and candidate frames of one dedup plan). The result
must stay lazy, so the operator cannot unpersist for the caller — a
bare ``.persist()`` per invocation therefore accumulates one orphaned
cached copy per call in a long-lived session. The pool bounds that:

  * same key (input plan identity + operator knobs) → the SAME
    persisted frame is reused, never re-persisted;
  * a DIFFERENT concurrent pipeline gets its own entry and can never
    evict another's mid-flight frame prematurely (FIFO capacity is
    sized above any single plan's entry count);
  * FIFO eviction unpersists the oldest entry, so storage is bounded;
  * ``clear()`` (blocking) resets the pool for measurement harnesses:
    a retried benchmark attempt must redo the same work, not read the
    previous attempt's blocks — blocking so the eviction cannot bleed
    into the next timed window.

Its one user is the dedup subsystem (``trainingdata/dedup.py``): its
MinHash-LSH and SimHash plans re-read their signature and band frames
from several branches, and reusing the persisted frames pays there.
"""

from __future__ import annotations

import threading
from collections import OrderedDict

from pyspark.sql import DataFrame


def plan_key(df: DataFrame):
    """Stable identity of a DataFrame's logical plan (Catalyst
    semanticHash). Off classic PySpark (e.g. Spark Connect) the
    fallback is the DataFrame OBJECT itself — hash/eq by identity,
    and the cache key tuple holds a strong reference, so the id can
    never be recycled onto a different frame while the entry lives
    (a plain ``id(df)`` could serve a stale frame after gc)."""
    try:
        return df._jdf.queryExecution().analyzed().semanticHash()
    except Exception:
        return df


class KeyedFrameCache:
    """Thread-safe bounded FIFO of persisted DataFrames."""

    def __init__(self, max_entries: int):
        self.max_entries = max_entries
        self._entries: "OrderedDict[tuple, DataFrame]" = OrderedDict()
        self._lock = threading.Lock()

    def get_or_persist(self, key: tuple, frame: DataFrame) -> DataFrame:
        with self._lock:
            cached = self._entries.get(key)
            if cached is not None:
                self._entries.move_to_end(key)
                return cached
            frame = frame.persist()
            self._entries[key] = frame
            while len(self._entries) > self.max_entries:
                _, evicted = self._entries.popitem(last=False)
                try:
                    evicted.unpersist(blocking=False)
                except Exception:
                    pass
            return frame

    def clear(self) -> None:
        with self._lock:
            while self._entries:
                _, evicted = self._entries.popitem(last=False)
                try:
                    evicted.unpersist(blocking=True)
                except Exception:
                    pass
