"""The one bounded LRU behind every serving cache.

The executors' plan caches, the reader's per-file-set pruned frames
and the Searcher's request cache are all shared by whatever threads
serve queries (`Searcher(warm=True)`, `submit` timers, threaded
callers), so the policy lives here once, under one lock: a `get`
racing an eviction can never see a half-moved entry. Each cache
counts its own hits, misses and evictions (`stats()`), which is what
`Searcher.stats()["caches"]` reports.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from typing import Callable, Hashable, Optional


class LRUCache:
    """Bounded least-recently-used map. `None` is not a cacheable
    value (`get` returns None on a miss). `on_evict(value)` runs for
    every entry that leaves the cache — past `maxsize` or through
    `clear()` — after the lock is released, so it may call back into
    Spark without blocking other readers."""

    def __init__(
        self, maxsize: int, on_evict: Optional[Callable] = None
    ) -> None:
        self.maxsize = int(maxsize)
        self._on_evict = on_evict
        self._lock = threading.Lock()
        self._d: OrderedDict = OrderedDict()
        self._hits = self._misses = self._evictions = 0

    def get(self, key: Hashable):
        """-> the cached value, now the most recently used, or None."""
        with self._lock:
            value = self._d.get(key)
            if value is None:
                self._misses += 1
            else:
                self._hits += 1
                self._d.move_to_end(key)
            return value

    def put(self, key: Hashable, value):
        """Cache `value` under `key` unless a value is already there
        (two threads that missed on one key both build it; the first
        insert wins) and -> the cached value, which callers use in
        place of their own."""
        with self._lock:
            cur = self._d.get(key)
            if cur is not None:
                self._d.move_to_end(key)
                return cur
            self._d[key] = value
            evicted = []
            while len(self._d) > self.maxsize:
                evicted.append(self._d.popitem(last=False)[1])
            self._evictions += len(evicted)
        self._evicted(evicted)
        return value

    def clear(self) -> None:
        with self._lock:
            values = list(self._d.values())
            self._d.clear()
        self._evicted(values)

    def _evicted(self, values) -> None:
        if self._on_evict is not None:
            for v in values:
                self._on_evict(v)

    def __len__(self) -> int:
        return len(self._d)

    def stats(self) -> dict:
        with self._lock:
            return {
                "entries": len(self._d),
                "hits": self._hits,
                "misses": self._misses,
                "evictions": self._evictions,
            }
