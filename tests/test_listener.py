from __future__ import annotations

import time
from types import SimpleNamespace

import pytest

from cdc_cascade_spark.streaming.listener import (
    LoggingQueryListener,
    connect_with_retry,
)


def test_listener_records_lifecycle(spark, tmp_path):
    from cdc_cascade_spark.streaming.pipeline import read_cdc_files
    from cdc_cascade_spark.streaming.sinks import InMemoryKVStore
    from cdc_cascade_spark.streaming.pipeline import start_invalidation_pipeline

    listener = LoggingQueryListener()
    spark.streams.addListener(listener)
    try:
        src = tmp_path / "src"
        src.mkdir()
        (src / "b.txt").write_text('{"payload": null}\n')
        q = start_invalidation_pipeline(
            read_cdc_files(spark, str(src)), InMemoryKVStore(), str(tmp_path / "ck")
        )
        q.processAllAvailable()
        qid = str(q.id)
        q.stop()
        deadline = time.time() + 10
        while qid not in listener.terminated and time.time() < deadline:
            time.sleep(0.2)
        assert qid in listener.started
        assert qid in listener.terminated
    finally:
        spark.streams.removeListener(listener)


def test_listener_keeps_only_recent_progress():
    """A long-lived query's listener keeps the newest 100 progress
    events, like Spark's numRecentProgressUpdates, not one per batch."""
    listener = LoggingQueryListener()
    for i in range(250):
        progress = SimpleNamespace(id="q", batchId=i, numInputRows=1)
        listener.onQueryProgress(SimpleNamespace(progress=progress))
    assert [p["batchId"] for p in listener.progressed] == list(range(150, 250))


def test_connect_with_retry_succeeds_after_failures():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise ConnectionError("not yet")
        return "client"

    assert connect_with_retry(flaky, base_delay=0.01, max_delay=0.02) == "client"
    assert calls["n"] == 3


def test_connect_with_retry_gives_up():
    def always_fails():
        raise ConnectionError("down")

    with pytest.raises(ConnectionError):
        connect_with_retry(
            always_fails, overall_timeout=0.05, base_delay=0.02, max_delay=0.02
        )
