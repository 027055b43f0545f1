"""Query-result cache (SURVEY §2.4, optional feature).

Parity target: QueryCache (src/hybrid/search_integration.rs:554-624):
key = hash(query vector bits, k), FIFO eviction at max_size, hit/miss
stats.  This is a driver-side memo of *collected* results — the Spark
analogue of the reference's in-process cache.  For distributed reuse of
a hot DataFrame use .cache()/persist; this class is for the session API
hot path where the same (query, k) repeats.

A value is stored as a private deep copy and every hit returns a fresh
copy, so a caller that edits the result it was handed cannot change what
the next hit returns.
"""

from __future__ import annotations

import copy
import hashlib
import struct
from collections import OrderedDict
from typing import Any


class QueryResultCache:
    def __init__(self, max_size: int = 100):
        if max_size <= 0:
            raise ValueError("max_size must be positive")
        self.max_size = max_size
        self._store: OrderedDict[str, Any] = OrderedDict()
        self.hits = 0
        self.misses = 0
        self.evictions = 0

    @staticmethod
    def key(query_vector: list[float], k: int, extra: str = "") -> str:
        """Bit-exact key over the f32 query + k (rs:582-590 hashes the
        float bits, not a lossy repr)."""
        h = hashlib.sha256()
        h.update(struct.pack(f"<{len(query_vector)}f", *query_vector))
        h.update(struct.pack("<q", k))
        h.update(extra.encode())
        return h.hexdigest()

    def get(self, key: str):
        if key in self._store:
            self.hits += 1
            return copy.deepcopy(self._store[key])
        self.misses += 1
        return None

    def put(self, key: str, value: Any) -> None:
        value = copy.deepcopy(value)
        if key in self._store:
            self._store[key] = value
            return
        if len(self._store) >= self.max_size:
            self._store.popitem(last=False)  # FIFO (rs:601-604)
            self.evictions += 1
        self._store[key] = value

    def invalidate(self) -> None:
        """Writes invalidate the cache (the reference clears on mutation)."""
        self._store.clear()

    def stats(self) -> dict:
        total = self.hits + self.misses
        return {
            "size": len(self._store),
            "hits": self.hits,
            "misses": self.misses,
            "evictions": self.evictions,
            "hit_rate": self.hits / total if total else 0.0,
        }
