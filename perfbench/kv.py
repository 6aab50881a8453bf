"""Counting KV store passed to the program in place of Redis.

It is the program's own ``InMemoryKVStore`` plus counters and a
monotonic timestamp per DEL, which the lag metrics join against the
generator's change times. The counters are cheap enough to stay on in
the untraced run, so both runs drive the same store.
"""

from __future__ import annotations

import time
from collections import defaultdict

from cdc_cascade_spark.streaming.sinks import InMemoryKVStore


class CountingKV(InMemoryKVStore):
    def __init__(self) -> None:
        super().__init__()
        self.gets = self.hits = self.sets = self.deletes = self.useless_deletes = 0
        self.del_times: dict[str, list[float]] = defaultdict(list)

    def get(self, key: str) -> str | None:
        with self._lock:
            self.gets += 1
            v = self._data.get(key)
            self.hits += v is not None
            return v

    def set(self, key: str, value: str) -> None:
        with self._lock:
            self.sets += 1
            self._data[key] = value

    def delete(self, key: str) -> None:
        with self._lock:
            self.deletes += 1
            if self._data.pop(key, None) is None:
                self.useless_deletes += 1
            self.del_times[key].append(time.monotonic())

    def reset_counts(self) -> None:
        """Forget the traffic so far (counters and DEL times), keep the data."""
        with self._lock:
            self.gets = self.hits = self.sets = self.deletes = self.useless_deletes = 0
            self.del_times.clear()

    def metrics(self) -> dict[str, float]:
        dels = self.deletes
        return {
            "kv.gets": self.gets,
            "kv.sets": self.sets,
            "kv.deletes": dels,
            "kv.hit_ratio": self.hits / self.gets if self.gets else 0.0,
            "kv.useless_delete_ratio": self.useless_deletes / dels if dels else 0.0,
        }
