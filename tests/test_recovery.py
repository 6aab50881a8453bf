"""Failure injection: sink crash mid-stream → restart from checkpoint.

The reference's contract (SURVEY.md A10/A13-A15): a sink error aborts
the batch *without committing its offset*; the supervisor restarts;
the batch replays; the idempotent sink converges. Structured Streaming
gives the same contract via foreachBatch + checkpointing — this test
proves it end-to-end with a sink that fails on its first attempt.
"""

from __future__ import annotations

import json

import pytest

from cdc_cascade_spark.streaming.pipeline import read_cdc_files
from cdc_cascade_spark.streaming.sinks import InMemoryKVStore, invalidate_batch
from cdc_cascade_spark.cdc.envelope import invalidation_keys, parse_envelope, valid_events


def _env(op, before, after, lsn):
    return json.dumps(
        {"payload": {"before": before, "after": after,
                     "source": {"table": "sinners", "lsn": lsn},
                     "op": op, "ts_ms": lsn}}
    )


def _row(code, name):
    return {"code": code, "name": name, "class": "S",
            "created_at": "2026-01-01T00:00:00",
            "updated_at": "2026-01-01T00:00:00"}


class FlakyStore(InMemoryKVStore):
    """Fails the first delete ever issued, then behaves normally."""

    def __init__(self) -> None:
        super().__init__()
        self.failures_left = 1

    def delete(self, key: str) -> None:
        if self.failures_left > 0:
            self.failures_left -= 1
            raise ConnectionError("injected sink failure")
        super().delete(key)


def test_sink_failure_replays_batch_and_converges(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "b1.txt").write_text(
        "\n".join(
            [
                _env("c", None, _row(5, "Augustus"), 1),
                _env("u", _row(5, "Augustus"), _row(5, "Aurelius"), 2),
                _env("d", _row(14, "Deren"), None, 3),
            ]
        )
        + "\n"
    )
    store = FlakyStore()
    store.set("5", "cached")
    store.set("14", "cached")
    ckpt = str(tmp_path / "ckpt")

    def start():
        def process(batch_df, batch_id):
            payloads = valid_events(parse_envelope(batch_df))
            invalidate_batch(store, invalidation_keys(payloads), "code")

        return (
            read_cdc_files(spark, str(src))
            .writeStream.foreachBatch(process)
            .option("checkpointLocation", ckpt)
            .start()
        )

    # first run: sink blows up → query dies with the injected error
    q = start()
    with pytest.raises(Exception, match="injected sink failure|StreamingQueryException"):
        q.processAllAvailable()
        q.awaitTermination(10)
    try:
        q.stop()
    except Exception:
        pass

    # supervisor restart: checkpoint had NOT committed the failed batch,
    # so it replays; the idempotent sink now applies both deletes
    q = start()
    q.processAllAvailable()
    q.stop()

    assert store.snapshot() == {}, "both keys must be invalidated after replay"
    assert set(store.deletes) == {"5", "14"}


def test_dead_letter_collector(spark, tmp_path):
    """A6: malformed records are captured in the quarantine, not
    dropped; valid events still process."""
    from cdc_cascade_spark.streaming.pipeline import (
        read_cdc_files,
        read_quarantine,
        start_invalidation_pipeline,
    )

    src = tmp_path / "src"
    src.mkdir()
    (src / "b.txt").write_text(
        "\n".join(
            [
                _env("u", _row(5, "A"), _row(5, "B"), 1),
                "{broken json",
                _env("d", _row(14, "X"), None, 2),
            ]
        )
        + "\n"
    )
    store = InMemoryKVStore()
    qdir = str(tmp_path / "quarantine")
    q = start_invalidation_pipeline(
        read_cdc_files(spark, str(src)), store, str(tmp_path / "ck"),
        quarantine_dir=qdir,
    )
    q.processAllAvailable()
    q.stop()
    assert [r.raw_value for r in read_quarantine(spark, qdir).collect()] == [
        "{broken json"
    ]
    assert sorted(store.deletes) == ["14", "5"]


def test_supervisor_budget_resets_after_healthy_run(monkeypatch):
    """max_restarts bounds CONSECUTIVE failures: a query that ran
    healthily before dying must not eat the lifetime budget."""
    from cdc_cascade_spark.streaming import pipeline as pl

    clock = {"t": 0.0}
    monkeypatch.setattr("time.monotonic", lambda: clock["t"])

    class FakeQuery:
        def __init__(self, runtime, fail):
            self._runtime, self._fail = runtime, fail

        def awaitTermination(self):
            clock["t"] += self._runtime
            if self._fail:
                raise RuntimeError("transient")

    # 5 healthy-hour runs each ending in a crash, then a clean exit:
    # a lifetime budget of 3 would die on the 4th, the rate limit survives.
    runs = [FakeQuery(3600.0, True) for _ in range(5)] + [FakeQuery(1.0, False)]
    it = iter(runs)
    pl.run_supervised(lambda: next(it), max_restarts=3, restart_delay_secs=0.0)

    # crash-looping (instant failures) still exhausts the budget
    fast = iter([FakeQuery(0.1, True) for _ in range(10)])
    with pytest.raises(RuntimeError):
        pl.run_supervised(lambda: next(fast), max_restarts=3, restart_delay_secs=0.0)


def test_quarantine_parquet_survives_restart(spark, tmp_path):
    """A6 at scale: dead letters append to a quarantine table inside
    foreachBatch (no driver collect) and survive a pipeline restart."""
    from cdc_cascade_spark.streaming.pipeline import (
        read_cdc_files,
        start_invalidation_pipeline,
    )

    src = tmp_path / "src"
    src.mkdir()
    qdir = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ck")
    (src / "b1.txt").write_text(
        _env("u", _row(5, "A"), _row(5, "B"), 1) + "\n{broken json 1\n"
    )
    store = InMemoryKVStore()
    q = start_invalidation_pipeline(
        read_cdc_files(spark, str(src)), store, ckpt, quarantine_dir=qdir
    )
    q.processAllAvailable()
    q.stop()

    (src / "b2.txt").write_text("{broken json 2\n")
    q = start_invalidation_pipeline(
        read_cdc_files(spark, str(src)), store, ckpt, quarantine_dir=qdir
    )
    q.processAllAvailable()
    q.stop()

    rows = spark.read.parquet(qdir).collect()
    assert sorted(r.raw_value for r in rows) == ["{broken json 1", "{broken json 2"]
    assert len({r.batch_id for r in rows}) == 2
