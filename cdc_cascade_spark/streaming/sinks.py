"""Keyed sinks for the CDC stream: cache invalidation + materialized view.

The reference's sink is ``Redis.DEL <pk>`` per update/delete event
(reference: queue/cdc.go:188-197), executed before the offset commit —
at-least-once delivery with an idempotent effect. Structured Streaming's
``foreachBatch`` + checkpointing gives the identical contract: a batch
may be re-delivered after a crash, and the sink must tolerate replay.

``KeyValueStore`` is the Redis-shaped protocol; ``InMemoryKVStore``
backs tests. A real Redis client drops in behind the same protocol
(import-gated — the redis package is not in this environment).

Both sinks run on the driver, bounded by ``maxOffsetsPerTrigger`` /
``maxFilesPerTrigger`` (the analog of the reference's 100-record poll,
cdc.go:124), never by table size: ``invalidate_batch`` collects the
batch's distinct keys, and ``upsert_view_batch`` parses the raw batch
once, reads it back in one Arrow action and keeps each key's latest
image in a dict.
"""

from __future__ import annotations

import threading
from typing import Protocol

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class KeyValueStore(Protocol):
    def set(self, key: str, value: str) -> None: ...
    def get(self, key: str) -> str | None: ...
    def delete(self, key: str) -> None: ...


class InMemoryKVStore:
    """Thread-safe dict store standing in for Redis in tests.

    DEL is idempotent (deleting an absent key is a no-op), matching
    Redis semantics the reference relies on for at-least-once replay.
    """

    def __init__(self) -> None:
        self._data: dict[str, str] = {}
        self._lock = threading.Lock()
        self.deletes: list[str] = []  # audit log for tests

    def set(self, key: str, value: str) -> None:
        with self._lock:
            self._data[key] = value

    def get(self, key: str) -> str | None:
        with self._lock:
            return self._data.get(key)

    def delete(self, key: str) -> None:
        with self._lock:
            self._data.pop(key, None)
            self.deletes.append(key)

    def snapshot(self) -> dict[str, str]:
        with self._lock:
            return dict(self._data)


def invalidate_batch(store: KeyValueStore, keys_df: DataFrame, key_col: str) -> None:
    """Apply one micro-batch of invalidations: DEL each distinct key.

    ``collect()``, not ``toLocalIterator()`` (r18-opt, guide §5/§1.5):
    the iterator fetches result partitions one at a time — with N
    post-distinct partitions that is up to N sequential driver round
    trips PER MICRO-BATCH, and the invalidation pipeline pays it on
    every trigger (measured 29k → 43k events/s warm at sf0.1). The key
    list is bounded by the trigger's flow control
    (``maxOffsetsPerTrigger`` / ``maxFilesPerTrigger`` — every source
    builder in streaming/pipeline.py sets one; a caller wiring a raw
    uncapped source must keep that contract), so one bounded collect
    per batch is the right driver contract."""
    for row in keys_df.select(key_col).distinct().collect():
        store.delete(str(row[key_col]))


class RedisStore:
    """Redis-backed :class:`KeyValueStore` (reference: config/config.go:91-119).

    Import-gated: the ``redis`` package is not in this environment, so
    construction without an injected client raises ImportError with the
    wiring documented; tests inject a stub client. Connection parameters
    follow the reference's env contract (REDIS_HOST / REDIS_PORT /
    REDIS_PASS, default db 0) and the constructor pings fail-fast the
    way the reference dials eagerly.
    """

    def __init__(
        self,
        host: str | None = None,
        port: int | None = None,
        password: str | None = None,
        client=None,
    ) -> None:
        import os

        if client is None:
            try:
                import redis
            except ImportError as e:  # pragma: no cover - env-dependent
                raise ImportError(
                    "RedisStore needs the 'redis' package (pip install redis) "
                    "or an injected client"
                ) from e
            client = redis.Redis(
                host=host or os.environ.get("REDIS_HOST", "localhost"),
                port=int(port or os.environ.get("REDIS_PORT", "6379")),
                password=password or os.environ.get("REDIS_PASS") or None,
                db=0,
                decode_responses=True,
            )
        self._client = client
        self._client.ping()  # fail-fast (config.go:106 Ping)

    def set(self, key: str, value: str) -> None:
        self._client.set(key, value)

    def get(self, key: str) -> str | None:
        val = self._client.get(key)
        if val is None:
            return None
        return val.decode() if isinstance(val, bytes) else str(val)

    def delete(self, key: str) -> None:
        self._client.delete(key)


def upsert_view_batch(
    store: KeyValueStore,
    batch_df: DataFrame,
    table_schema: T.StructType,
    key_field: str,
) -> None:
    """Maintain a materialized latest-row view (the cache-rebuild side of
    the reference's sequence-flows.mmd:45-53: after invalidation, reads
    repopulate the cache from the source of truth — here we push the new
    row image directly instead of waiting for a read-through miss).

    ``batch_df`` is the raw micro-batch; its ``value`` column is parsed
    once, against a narrow schema that keeps ``after`` as the object's
    JSON text. The stored image is that text as Spark re-emits it:
    compact, in source field order, with source values, nulls and
    unknown fields kept. The plan is two projections and no filter —
    a filter on a parsed column would be pushed below the projection
    and parse again — read back by one ``toArrow()``, bounded by the
    source's per-trigger cap. Latest-wins runs on the driver: each key
    keeps its highest-``lsn`` event (a null ``lsn`` loses, as with
    ``DESC NULLS LAST``), then gets one DEL (op ``d``, or no image) or
    one SET. Rows with no key — tombstones, corrupt values, events
    without a usable ``after``/``before`` key — are dropped. Replaying
    a batch writes the same images, so the sink is replay-safe.
    """
    key = f"`{key_field}` {table_schema[key_field].dataType.simpleString()}"
    narrow = (
        f"payload struct<before: struct<{key}>, after: string, "
        "source: struct<lsn: bigint>, op: string>"
    )
    events = batch_df.select(
        F.from_json(F.col("value").cast("string"), narrow).payload.alias("p")
    ).select(
        F.coalesce(
            F.from_json("p.after", key)[key_field], F.col(f"p.before.{key_field}")
        ).alias("k"),
        "p.source.lsn",
        "p.op",
        "p.after",
    )
    table = events.toArrow()
    winners: dict = {}
    for i, (k, lsn) in enumerate(
        zip(table.column("k").to_pylist(), table.column("lsn").to_pylist())
    ):
        if k is None:
            continue
        held = winners.get(k)
        if held is None or lsn is not None and (held[0] is None or lsn > held[0]):
            winners[k] = (lsn, i)
    latest = table.select(["op", "after"]).take([i for _, i in winners.values()])
    for k, op, after in zip(
        winners, latest.column("op").to_pylist(), latest.column("after").to_pylist()
    ):
        if op == "d" or after is None:
            store.delete(str(k))
        else:
            store.set(str(k), after)
