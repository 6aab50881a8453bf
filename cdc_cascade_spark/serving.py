"""Serving layer: keyed CRUD + cache-aside reads over a CDC changelog.

The reference's HTTP API (reference: controllers/controllers.go:24-119
and routes main.go:85-92) does CRUD against Postgres and cache-aside
point reads through Redis, with cache coherence owned *exclusively* by
the CDC consumer (SURVEY.md §3.3). This module re-expresses that
surface engine-natively:

- the "database" is the LSN-ordered changelog (the Kafka topic analog)
  plus a current-state view kept per append
- B1 create  → append op='c' envelope         (controllers.go:24-36)
- B2 read_all → key-ordered scan of the view  (controllers.go:38-46)
- B3 read_one → cache-aside point lookup:
  cache hit → return; miss → view lookup → write-back, no TTL
  (controllers.go:48-73; TTL 0 at :68)
- B4 update  → read-modify-write, op='u', bumps updated_at the way the
  reference's trigger does (init.sql:13-24)  (controllers.go:75-98)
- B5 delete  → op='d' + tombstone             (controllers.go:100-119)
- B6 key validation → int parse, KeyError/ValueError analogs of the
  400/404 responses
- writes never touch the cache; ``run_invalidation_cycle`` plays the
  CDC consumer's role (queue/cdc.go:154-224) over not-yet-consumed
  envelopes.

One re-entrant lock, owned here, guards the log, LSN and view: callers
need none, and a miss's fill cannot land after a newer write's DEL.
The log holds only pending envelopes; a cycle drops those it DEL'd.

Scale note: the changelog append path is driver-side by design (it
models the *ingest boundary*, one event at a time, like an HTTP
handler). Reads (B2, B3 and B4/B5's read-modify-write) go to a
**materialized current-state view maintained per append** — the same
latest-wins upsert semantics as ``upsert_view_batch``
(streaming/sinks.py), applied incrementally at the ingest boundary —
so no read recompacts the changelog and no read starts a Spark job.
The consumer cycle still decodes its envelopes with the Spark path
(``parse_envelope`` → ``valid_events`` → ``invalidation_keys``).
``changelog()`` exposes the pending envelopes as a DataFrame; before
any cycle runs that is the whole log, and its latest-wins compaction
(cdc/compaction.py) is the consistency oracle for the view (pinned by
tests).
"""

from __future__ import annotations

import json
import threading
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from cdc_cascade_spark.cdc.envelope import (
    invalidation_keys,
    parse_envelope,
    valid_events,
)
from cdc_cascade_spark.cdc.schemas import SINNERS_SCHEMA
from cdc_cascade_spark.streaming.sinks import KeyValueStore, invalidate_batch


class NotFound(KeyError):
    """Analog of the reference's 404 responses (controllers.go:63-65)."""


class CdcTableService:
    """Keyed table service backed by a CDC changelog + cache-aside KV."""

    def __init__(self, spark: SparkSession, cache: KeyValueStore) -> None:
        self.spark = spark
        self.cache = cache
        self._lock = threading.RLock()  # re-entrant: a KV call may call back
        self._log: list[str] = []  # pending envelope JSON values, LSN-ordered
        self._lsn = 0
        # Materialized latest-row view, maintained per append (the
        # incremental form of upsert_view_batch): point reads hit this,
        # never a changelog recompaction.
        self._view: dict[int, dict] = {}

    # -- envelope plumbing -------------------------------------------------

    def _now(self) -> str:
        return datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")

    def _append(self, op: str, before: dict | None, after: dict | None) -> None:
        self._lsn += 1
        key = int((after or before)["code"])
        if op == "d":
            self._view.pop(key, None)
        else:
            self._view[key] = dict(after)
        self._log.append(
            json.dumps(
                {
                    "payload": {
                        "before": before,
                        "after": after,
                        "source": {
                            "db": "cdc_cascade_spark",
                            "schema": "public",
                            "table": "sinners",
                            "lsn": self._lsn,
                            "txId": self._lsn,
                        },
                        "op": op,
                        "ts_ms": self._lsn,
                    }
                }
            )
        )

    def changelog(self) -> DataFrame:
        """The envelopes not yet consumed, as a Kafka-shaped ``value`` column."""
        with self._lock:
            return self.spark.createDataFrame([(v,) for v in self._log], "value string")

    # -- B2/B3 reads -------------------------------------------------------

    def read_all(self) -> list[dict]:
        """Full scan (B2): current rows in key order, each projected onto
        ``SINNERS_SCHEMA``'s field order (a missing field is null) — the
        rows latest-wins compaction of ``changelog()`` yields."""
        fields = SINNERS_SCHEMA.fieldNames()
        with self._lock:
            return [{f: self._view[k].get(f) for f in fields} for k in sorted(self._view)]

    def read_one(self, key: Any) -> dict:
        """Cache-aside point lookup (B3): hit → cached JSON; miss →
        materialized-view lookup → write-back with no TTL."""
        key = int(key)  # B6 validation (strconv.Atoi analog)
        cached = self.cache.get(str(key))
        if cached is not None:
            return json.loads(cached)
        with self._lock:
            row = self._current_row(key)
            self.cache.set(str(key), json.dumps(row))  # TTL 0 → never expires
        return row

    # -- B1/B4/B5 writes (never touch the cache) ---------------------------

    def create(self, row: dict) -> dict:
        key = int(row["code"])
        now = self._now()
        full = {"created_at": now, "updated_at": now, **row}
        with self._lock:  # the table's primary key decides (init.sql:4)
            if key in self._view:
                raise ValueError(f"duplicate key {key}")
            self._append("c", None, full)
        return full

    def update(self, key: Any, changes: dict) -> dict:
        key = int(key)
        with self._lock:
            before = self._current_row(key)
            after = {**before, **changes, "updated_at": self._now()}  # C6 trigger
            self._append("u", before, after)
        return after

    def delete(self, key: Any) -> dict:
        key = int(key)
        with self._lock:
            before = self._current_row(key)
            self._append("d", before, None)
        return before

    def _current_row(self, key: int) -> dict:
        """Point read against the maintained view — O(1), no
        recompaction of the changelog (VERDICT r1 #4)."""
        row = self._view.get(key)
        if row is None:
            raise NotFound(key)
        return dict(row)

    # -- the CDC consumer's job (A4-A10) -----------------------------------

    def run_invalidation_cycle(self) -> int:
        """Consume new envelopes and DEL invalidated keys (the cascade).

        Mirrors one poll iteration of the reference consumer: only
        events with a ``before`` image invalidate; offsets advance after
        the sink effect (at-least-once; DEL is idempotent), so a cycle
        whose DELs raise leaves its envelopes in the log. The end offset
        is taken first, so an envelope appended while the DELs run is
        left for the next cycle. Returns the number of envelopes consumed.
        """
        with self._lock:
            n = len(self._log)
            if not n:
                return 0
            df = self.spark.createDataFrame([(v,) for v in self._log], "value string")
            payloads = valid_events(parse_envelope(df, SINNERS_SCHEMA))
            keys = invalidation_keys(payloads, "code")
            invalidate_batch(self.cache, keys, "code")
            del self._log[:n]
            return n
