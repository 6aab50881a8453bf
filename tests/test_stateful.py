"""Stateful streaming operator tests: state must persist across
micro-batches (maxFilesPerTrigger=1 forces multiple batches)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc_cascade_spark.catalog import load_table
from cdc_cascade_spark.streaming.stateful import first_seen_filter, running_counts

SF = "/root/testdata/sf0.001"


def _events_two_batches(spark, tmp_path):
    """Split the events table into two parquet files → two micro-batches."""
    ev = load_table(spark, SF, "events").select("event_id", "user_id", "event_type")
    src = tmp_path / "src"
    ev.filter("event_id % 2 = 0").coalesce(1).write.parquet(str(src / "b1"))
    ev.filter("event_id % 2 = 1").coalesce(1).write.parquet(str(src / "b2"))
    return (
        spark.readStream.schema("event_id long, user_id long, event_type string")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )


def test_first_seen_filter_dedups_across_batches(spark, tmp_path):
    stream = _events_two_batches(spark, tmp_path)
    q = (
        first_seen_filter(stream, "user_id", ["user_id", "event_id"])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("first_seen")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT user_id, count(*) c FROM first_seen GROUP BY user_id")
    counts = {r.user_id: r.c for r in got.collect()}
    want_users = {
        r.user_id for r in load_table(spark, SF, "events").select("user_id").distinct().collect()
    }
    assert set(counts) == want_users
    assert all(c == 1 for c in counts.values()), "a key was emitted twice"


def test_running_counts_accumulate_across_batches(spark, tmp_path):
    stream = _events_two_batches(spark, tmp_path)
    q = (
        running_counts(stream, "user_id")
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("running")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # last update per user == total batch count
    final = spark.sql(
        "SELECT user_id, max(n_events) n FROM running GROUP BY user_id"
    )
    got = {r.user_id: r.n for r in final.collect()}
    want = {
        r.user_id: r.n
        for r in load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_funnel_tracker_converges_to_batch_funnel(spark, tmp_path):
    """The streaming stage machine over in-order micro-batches must
    reach exactly the batch funnel's per-stage user sets, with one
    transition row per (user, stage) and ts-ordered monotone stages."""
    from cdc_cascade_spark.operators.behavior import funnel_conversion
    from cdc_cascade_spark.streaming.stateful import funnel_tracker

    ev = load_table(spark, SF, "events").select("user_id", "ts", "event_type")
    # per-key in-order delivery: split by event-time, earlier file first
    cut = "2024-01-15 00:00:00"
    src = tmp_path / "src"
    ev.filter(F.col("ts") <= F.lit(cut)).coalesce(1).write.parquet(str(src / "b1"))
    ev.filter(F.col("ts") > F.lit(cut)).coalesce(1).write.parquet(str(src / "b2"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    q = (
        funnel_tracker(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("funnel_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM funnel_stream").collect()
    seen = {}
    for r in rows:
        assert (r.user_id, r.stage) not in seen, "duplicate transition"
        seen[(r.user_id, r.stage)] = r.ts
    # stage timestamps strictly increase per user
    for (u, s), ts in seen.items():
        if s > 1:
            assert seen[(u, s - 1)] < ts
    got_counts = {}
    for (u, s) in seen:
        got_counts[s] = got_counts.get(s, 0) + 1
    want = {int(r.stage[0]): r.n_users
            for r in funnel_conversion(spark, SF).collect()}
    assert got_counts == want


def test_event_time_funnel_survives_out_of_order_batches(spark, tmp_path):
    """Deliver the SECOND half of the month before the first; the
    watermark-buffered funnel must still converge to the exact batch
    funnel (the O(1)-state tracker cannot — that is the trade)."""
    import datetime

    from cdc_cascade_spark.operators.behavior import funnel_conversion
    from cdc_cascade_spark.streaming.stateful import funnel_tracker_event_time

    ev = load_table(spark, SF, "events").select("user_id", "ts", "event_type")
    cut = "2024-01-15 00:00:00"
    src = tmp_path / "src"
    # reversed order: later events first
    ev.filter(F.col("ts") > F.lit(cut)).coalesce(1).write.parquet(str(src / "b1"))
    ev.filter(F.col("ts") <= F.lit(cut)).coalesce(1).write.parquet(str(src / "b2"))
    # flush sentinel: advances the watermark past every real event
    flush = spark.createDataFrame(
        [(-1, datetime.datetime(2024, 6, 1), "view")],
        "user_id long, ts timestamp, event_type string",
    )
    flush.coalesce(1).write.parquet(str(src / "b3"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    q = (
        funnel_tracker_event_time(stream, watermark="16 days")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("funnel_et")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = [r for r in spark.sql("SELECT * FROM funnel_et").collect()
            if r.user_id != -1]
    seen = {}
    for r in rows:
        assert (r.user_id, r.stage) not in seen, "duplicate transition"
        seen[(r.user_id, r.stage)] = r.ts
    got_counts = {}
    for (_, s) in seen:
        got_counts[s] = got_counts.get(s, 0) + 1
    want = {int(r.stage[0]): r.n_users
            for r in funnel_conversion(spark, SF).collect()}
    assert got_counts == want
