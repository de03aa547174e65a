"""Bounded least-recently-used map shared by the request-plan caches.

The reference keeps compiled request plans in a time-bounded cache
(``DefaultSingleRequestMaterializationGraphService.kt:78-84``). Here the
bound is a fixed entry count: a cache keyed by request shape must not grow
with every distinct variable set a serving process sees.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from collections.abc import Hashable, Iterator
from typing import Any

# entries per request cache on one model: a serving process sees a handful
# of request shapes; the bound only stops unbounded growth
PLAN_CACHE_CAPACITY = 64


class LRUCache:
    """At most ``capacity`` entries; :meth:`get` refreshes an entry and
    :meth:`put` beyond capacity evicts the least recently used one. One
    lock guards every operation, so concurrent requests on one model are
    safe."""

    def __init__(self, capacity: int) -> None:
        if capacity < 1:
            raise ValueError(f"LRUCache capacity must be >= 1, got {capacity}")
        self.capacity = capacity
        self._data: OrderedDict[Hashable, Any] = OrderedDict()
        self._lock = threading.Lock()

    def get(self, key: Hashable, default: Any = None) -> Any:
        with self._lock:
            if key not in self._data:
                return default
            self._data.move_to_end(key)
            return self._data[key]

    def put(self, key: Hashable, value: Any) -> None:
        with self._lock:
            self._data[key] = value
            self._data.move_to_end(key)
            while len(self._data) > self.capacity:
                self._data.popitem(last=False)

    def __getitem__(self, key: Hashable) -> Any:
        with self._lock:
            return self._data[key]

    def __len__(self) -> int:
        with self._lock:
            return len(self._data)

    def __iter__(self) -> Iterator[Hashable]:
        # a snapshot: callers may read or insert while iterating
        with self._lock:
            return iter(list(self._data))
