"""Observability: streaming progress listener + connect-with-retry.

- ``LoggingQueryListener`` is the engine's analog of the reference's
  per-request access log and consumer lifecycle logging (reference:
  main.go:77 logger middleware; queue/cdc.go start/stop log lines):
  it records query start/progress/termination events.

- ``connect_with_retry`` mirrors the reference's connection policy
  (reference: config/config.go:121-152): exponential backoff starting
  at 1 s, capped at 5 s, overall deadline 15 s — used when a
  ``foreachBatch`` sink builds its client (e.g. a real Redis) so a
  briefly-unavailable sink doesn't kill the streaming query.
"""

from __future__ import annotations

import logging
import time
from collections import deque
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql.streaming import StreamingQueryListener

log = logging.getLogger("cdc_cascade_spark.streaming")

T = TypeVar("T")


class LoggingQueryListener(StreamingQueryListener):
    """Collects streaming lifecycle events (and logs them).

    ``progressed`` keeps the newest 100 progress events, as Spark keeps
    ``spark.sql.streaming.numRecentProgressUpdates`` (default 100), so a
    long-lived query's listener stays bounded.
    """

    def __init__(self) -> None:
        self.started: list[str] = []
        self.progressed: deque[dict] = deque(maxlen=100)
        self.terminated: list[str] = []

    def onQueryStarted(self, event) -> None:
        self.started.append(str(event.id))
        log.info("query started: %s (%s)", event.name, event.id)

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.progressed.append(
            {"id": str(p.id), "batchId": p.batchId, "numInputRows": p.numInputRows}
        )
        log.info("batch %s: %s rows", p.batchId, p.numInputRows)

    def onQueryIdle(self, event) -> None:  # pragma: no cover - timing dependent
        log.debug("query idle: %s", event.id)

    def onQueryTerminated(self, event) -> None:
        self.terminated.append(str(event.id))
        log.info("query terminated: %s", event.id)


def connect_with_retry(
    factory: Callable[[], T],
    overall_timeout: float = 15.0,
    base_delay: float = 1.0,
    max_delay: float = 5.0,
) -> T:
    """Call ``factory`` until it succeeds, with capped exponential
    backoff (1 s · 2^n, cap 5 s) and an overall deadline (15 s) —
    the reference's connectWithRetry policy."""
    deadline = time.monotonic() + overall_timeout
    delay = base_delay
    attempt = 0
    while True:
        try:
            return factory()
        except Exception:
            attempt += 1
            if time.monotonic() + delay > deadline:
                raise
            time.sleep(delay)
            delay = min(delay * 2, max_delay)
