"""In-process TTL+LRU cache for the serving layer.

Reference analog: ``src/neural_search/utils/cache.py:16-193`` — a Redis
get/set/delete/exists/clear_pattern cache with md5-hashed keys, a default
TTL, and ``make_search_key``-style key builders; the reference wires it into
the API but leaves it disabled in the search path
(``api/search.py:35-46``). Spark-native differences, deliberate:

  * **process-local, not Redis.** Serving replicas are stateless and share
    nothing but the parquet index files (query/serve.py), so each replica
    caches independently; at 10^12 docs the shared tier is the object-store /
    CDN page cache under the posting files, not a cross-replica result KV.
  * **snapshot-scoped keys, not TTL-only invalidation.** Every key carries
    the index snapshot token (md5 of ``_checkpoint.json``), so a maintenance
    commit followed by ``refresh()`` invalidates logically and immediately —
    the reference's TTL-only design would serve stale results for up to
    ``ttl`` seconds after an upsert.
  * **three cacheable granularities.** Besides whole search results (the
    reference's unit), the reader caches per-term posting arrays: the doc
    ids and each posting's BM25 saturation under the snapshot's stats — hot
    query *terms* are far more repetitive than whole query strings, and a
    term hit skips the parquet read, the varint decode and the saturation,
    leaving one multiply per posting. Below both, ``IndexReader`` itself
    keeps decoded posting row groups in a byte-bounded LRU
    (``serve.POSTINGS_ROW_GROUP_CACHE_BYTES``, not this class): a cold term
    whose row group an earlier query read skips the parquet read and the
    decode and pays array slices and the saturation. That cache is always
    on and is emptied by ``refresh()``, since its keys name the snapshot's
    open files.
"""

from __future__ import annotations

import hashlib
import json
import time
from collections import OrderedDict
from dataclasses import dataclass, field
from typing import Any, Callable


@dataclass
class CacheStats:
    hits: int = 0
    misses: int = 0
    evictions: int = 0
    expirations: int = 0


@dataclass
class TtlLruCache:
    """Bounded LRU with per-entry TTL; deterministic via an injectable clock.

    Mirrors the reference cache surface (get/set/delete/exists/clear_prefix,
    md5-hashed keys, default TTL) minus the Redis transport.
    """

    max_entries: int = 1024
    ttl: float = 3600.0
    clock: Callable[[], float] = time.monotonic
    stats: CacheStats = field(default_factory=CacheStats)
    # hashed_key -> (expires_at, value); insertion order = LRU order
    _entries: OrderedDict = field(default_factory=OrderedDict)

    @staticmethod
    def _hash_key(key: str) -> str:
        # same keyspace scheme as the reference (cache.py:55-57)
        return hashlib.md5(key.encode()).hexdigest()

    def get(self, key: str) -> Any | None:
        h = self._hash_key(key)
        hit = self._entries.get(h)
        if hit is None:
            self.stats.misses += 1
            return None
        expires_at, value = hit
        if self.clock() >= expires_at:
            del self._entries[h]
            self.stats.expirations += 1
            self.stats.misses += 1
            return None
        self._entries.move_to_end(h)
        self.stats.hits += 1
        return value

    def set(self, key: str, value: Any, ttl: float | None = None) -> None:
        h = self._hash_key(key)
        self._entries[h] = (self.clock() + (self.ttl if ttl is None else ttl), value)
        self._entries.move_to_end(h)
        while len(self._entries) > self.max_entries:
            self._entries.popitem(last=False)
            self.stats.evictions += 1

    def delete(self, key: str) -> bool:
        return self._entries.pop(self._hash_key(key), None) is not None

    def __len__(self) -> int:
        return len(self._entries)

    def exists(self, key: str) -> bool:
        h = self._hash_key(key)
        hit = self._entries.get(h)
        return hit is not None and self.clock() < hit[0]

    def clear(self) -> int:
        n = len(self._entries)
        self._entries.clear()
        return n

    def live_entries(self) -> int:
        # len() includes TTL-lapsed entries awaiting lazy pruning; a health
        # gauge wants only the ones a lookup would still hit
        now = self.clock()
        return sum(1 for expires_at, _ in self._entries.values() if now < expires_at)

    # -- key builders (reference cache.py:152-183) ---------------------------

    @staticmethod
    def make_search_key(
        query: str,
        top_k: int,
        positive_only: bool,
        snapshot: str,
        filters: dict | None = None,
        score_rounding: int | None = None,
    ) -> str:
        filters_str = json.dumps(filters, sort_keys=True) if filters else ""
        return (
            f"search:{snapshot}:{query}:{top_k}:{positive_only}:"
            f"{score_rounding}:{filters_str}"
        )

    @staticmethod
    def make_postings_key(term: str, snapshot: str) -> str:
        return f"postings:{snapshot}:{term}"
