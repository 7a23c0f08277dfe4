"""The package's one cache primitive: a bounded, locked LRU.

Every in-process cache is an `LRU`: the engine's slice, serving
template and IVF handle caches, the store read plans, embeddings, the
per-session table/plan/ship memos, the persisted substring triples and
the build-once gate indexes. A TTL, like the reference's retrieval cache
(alma/retrieval/cache.py), is a `valid` predicate.

Session scope: a session-scoped cache keys entries by
`session_key(spark, ...)`, which leads with the SparkContext's
applicationId. The first time the cache sees a new applicationId it
evicts every other applicationId's entries: classic PySpark runs one
live SparkContext per process, so they belong to stopped contexts.
`newSession()` sessions share the applicationId and keep each other's.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from typing import Any, Callable, Hashable


def session_key(spark, *parts: Hashable) -> tuple:
    """Key of a session-scoped cache entry: (applicationId, *parts)."""
    return (spark.sparkContext.applicationId, *parts)


class LRU:
    """Thread-safe LRU map with an optional entry bound.

    `max_entries=None` is unbounded. `on_evict(value)` runs, outside
    the lock, for every value that leaves the cache: past the bound,
    on `clear()` or `discard()`, by the session rule, when `get`
    rejects it, or when `put` replaces it. `None` is not a storable
    value: `get` returns it for a miss."""

    def __init__(
        self,
        max_entries: int | None = None,
        on_evict: Callable[[Any], None] | None = None,
        session_scoped: bool = False,
    ):
        self.max_entries = max_entries
        self.on_evict = on_evict
        self.session_scoped = session_scoped
        self._entries: OrderedDict[Hashable, Any] = OrderedDict()
        self._lock = threading.Lock()
        #: key -> [build lock, threads holding or awaiting it]
        self._builds: dict[Hashable, list] = {}
        self._app: Hashable = None

    def __len__(self) -> int:
        return len(self._entries)

    def values(self) -> list:
        """Snapshot of the values, oldest first."""
        with self._lock:
            return list(self._entries.values())

    def _admit(self, key: Hashable) -> list:
        """The session rule; call with the lock held. Returns the
        evicted values."""
        if not self.session_scoped or key[0] == self._app:
            return []
        self._app = key[0]
        stale = [k for k in self._entries if k[0] != key[0]]
        return [self._entries.pop(k) for k in stale]

    def _evicted(self, values: list) -> None:
        if self.on_evict is not None:
            for v in values:
                self.on_evict(v)

    def get(self, key: Hashable, valid: Callable[[Any], bool] | None = None):
        """The value under `key`, refreshed as most recent, or None.
        A value that fails `valid` (called under the lock: keep it
        cheap) is dropped and reported as a miss."""
        with self._lock:
            gone = self._admit(key)
            value = self._entries.get(key)
            if value is not None:
                if valid is None or valid(value):
                    self._entries.move_to_end(key)
                else:
                    gone.append(self._entries.pop(key))
                    value = None
        self._evicted(gone)
        return value

    def put(self, key: Hashable, value: Any) -> None:
        with self._lock:
            gone = self._admit(key)
            old = self._entries.pop(key, None)
            if old is not None and old is not value:
                gone.append(old)
            self._entries[key] = value
            bound = self.max_entries
            while bound is not None and len(self._entries) > bound:
                gone.append(self._entries.popitem(last=False)[1])
        self._evicted(gone)

    def discard(self, key: Hashable) -> None:
        """Drop the entry under `key`, if any, through `on_evict`."""
        with self._lock:
            gone = [self._entries.pop(key)] if key in self._entries else []
        self._evicted(gone)

    def get_or_build(self, key: Hashable, build: Callable[[], Any]):
        """The cached value, or `build()`'s result cached under `key`.
        Concurrent callers of one key build it once; other keys build
        at the same time (the lock is per key, not the cache's)."""
        value = self.get(key)
        if value is not None:
            return value
        with self._lock:
            slot = self._builds.setdefault(key, [threading.Lock(), 0])
            slot[1] += 1
        try:
            with slot[0]:
                value = self.get(key)
                if value is None:
                    value = build()
                    self.put(key, value)
        finally:
            with self._lock:
                slot[1] -= 1
                if not slot[1]:
                    del self._builds[key]
        return value

    def clear(self) -> None:
        with self._lock:
            gone = list(self._entries.values())
            self._entries.clear()
        self._evicted(gone)
