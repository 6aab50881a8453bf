"""Streaming CDC pipelines: source builders + the two foreachBatch sinks.

The reference's consumer loop (queue/cdc.go:61-224) maps 1:1 onto a
Structured Streaming query (SURVEY.md §3.1):

  readStream(kafka)                     A1  source scan
    .option(maxOffsetsPerTrigger, 100)  A2  bounded micro-batch (PollRecords 100)
    .option(kafka.fetch.*)              A3  fetch flow control
  → parse_envelope / valid_events       A4-A6  tombstone, JSON, dead-letter
  → invalidation_keys                   A7-A8  before-not-null, key projection
  → foreachBatch(DEL keys)              A9  keyed effect sink
  with checkpointLocation               A10 offset commit / at-least-once
  (executor task retries + restart-from-checkpoint replace A11-A16)

Tests drive the same pipelines with a file source (one JSON line per
Kafka record value, ``maxFilesPerTrigger`` standing in for
``maxOffsetsPerTrigger``) — the parse/route/sink code is byte-identical
between the two sources.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from cdc_cascade_spark.cdc.envelope import (
    dead_letter,
    invalidation_keys,
    parse_envelope,
    valid_events,
)
from cdc_cascade_spark.cdc.schemas import SINNERS_SCHEMA
from cdc_cascade_spark.streaming.sinks import (
    KeyValueStore,
    invalidate_batch,
    upsert_view_batch,
)

# Kafka/Debezium wiring constants from the reference deployment.
DEFAULT_TOPIC = "cdc-cascade-postgres.public.sinners"  # README.md:76
DEFAULT_MAX_OFFSETS_PER_TRIGGER = 100  # PollRecords(ctx, 100), cdc.go:124


def kafka_reader_options(
    bootstrap_servers: str | None = None,
    topic: str | None = None,
    consumer_group: str | None = None,
    max_offsets_per_trigger: int = DEFAULT_MAX_OFFSETS_PER_TRIGGER,
    env: dict | None = None,
) -> dict[str, str]:
    """Kafka source options honoring the reference's env-var contract.

    Explicit arguments win; otherwise the same variables the reference
    consumer reads (queue/cdc.go:63-65) configure the source:
    ``KAFKA_HOST``/``KAFKA_BROKER_PORT`` → bootstrap servers,
    ``KAFKA_CDC_TOPIC`` → topic, ``KAFKA_CONSUMER_GROUP`` → group id.
    """
    import os

    env = os.environ if env is None else env
    if bootstrap_servers is None:
        bootstrap_servers = (
            f"{env.get('KAFKA_HOST', 'localhost')}:"
            f"{env.get('KAFKA_BROKER_PORT', '9092')}"
        )
    topic = topic or env.get("KAFKA_CDC_TOPIC", DEFAULT_TOPIC)
    consumer_group = consumer_group or env.get("KAFKA_CONSUMER_GROUP")
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": "earliest",  # ConsumeStartOffset AtStart
        "maxOffsetsPerTrigger": str(max_offsets_per_trigger),
        "kafka.fetch.min.bytes": str(1024),  # cdc.go:87
        "kafka.fetch.max.bytes": str(10 * 1024 * 1024),  # cdc.go:86
        "kafka.fetch.max.wait.ms": str(5000),  # cdc.go:88
        "failOnDataLoss": "false",
    }
    if consumer_group:
        # Spark manages offsets via checkpoint, not the group protocol;
        # the group id still names the consumer for broker-side ACLs and
        # monitoring, matching the reference's deployment contract.
        opts["kafka.group.id"] = consumer_group
    return opts


def read_cdc_kafka(
    spark: SparkSession,
    bootstrap_servers: str | None = None,
    topic: str | None = None,
    consumer_group: str | None = None,
    max_offsets_per_trigger: int = DEFAULT_MAX_OFFSETS_PER_TRIGGER,
) -> DataFrame:
    """Kafka CDC source with the reference's flow-control settings,
    configurable purely from the reference's env vars.

    Requires the spark-sql-kafka connector jars on the classpath (not in
    this environment — exercised in production deployments only; tests
    use ``read_cdc_files`` and validate the options contract).
    """
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(
        bootstrap_servers, topic, consumer_group, max_offsets_per_trigger
    ).items():
        reader = reader.option(k, v)
    return reader.load()


def read_cdc_files(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-based CDC source for tests: one envelope JSON per line.

    Empty lines model Kafka tombstones (NULL value). ``wholetext=false``
    text source preserves arrival order within a file; per-key ordering
    across files is restored by LSN-ordered compaction, the same
    mechanism that handles Kafka cross-partition arrival (SURVEY.md C5).
    """
    return (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(path)
        .selectExpr("nullif(value, '') AS value")
    )


def start_invalidation_pipeline(
    stream: DataFrame,
    store: KeyValueStore,
    checkpoint_dir: str,
    table_schema: T.StructType = SINNERS_SCHEMA,
    key_field: str = "code",
    quarantine_dir: str | None = None,
) -> StreamingQuery:
    """The flagship pipeline: CDC events → cache invalidation (A1-A10).

    Malformed record values (A6 — the reference silently drops these,
    queue/cdc.go:175-179) stay replayable: ``quarantine_dir`` writes
    them to a ``batch_id=N``-partitioned parquet quarantine table — a
    distributed write, nothing flows through the driver, the rows
    survive pipeline restarts alongside the checkpoint, and a batch
    replayed after a crash *overwrites* its own partition instead of
    duplicating it. Clean batches write nothing (no empty-file
    accumulation) — so the quarantine directory may not exist at all;
    read it through :func:`read_quarantine`, which returns an empty
    frame for a never-written path instead of raising.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        parsed = parse_envelope(batch_df, table_schema)
        if quarantine_dir is not None:
            dead = dead_letter(parsed)
            if not dead.isEmpty():
                dead.write.mode("overwrite").parquet(
                    f"{quarantine_dir}/batch_id={batch_id}"
                )
        payloads = valid_events(parsed)
        invalidate_batch(store, invalidation_keys(payloads, key_field), key_field)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def read_quarantine(spark: SparkSession, quarantine_dir: str) -> DataFrame:
    """Read the dead-letter quarantine written by
    :func:`start_invalidation_pipeline`.

    Clean pipelines never create the directory (batches with no
    malformed record write nothing), so a bare
    ``spark.read.parquet(dir)`` would raise ``AnalysisException`` on a
    healthy deployment. This helper returns an EMPTY frame with the
    quarantine schema (raw_value + batch_id) in that case — monitoring
    jobs can always aggregate it unconditionally.
    """
    import os

    if not os.path.isdir(quarantine_dir):
        return spark.createDataFrame([], "raw_value string, batch_id int")
    return spark.read.option("basePath", quarantine_dir).parquet(quarantine_dir)


def start_materialized_view_pipeline(
    stream: DataFrame,
    store: KeyValueStore,
    checkpoint_dir: str,
    table_schema: T.StructType = SINNERS_SCHEMA,
    key_field: str = "code",
) -> StreamingQuery:
    """Maintained latest-row view: upsert on c/u/r, delete on d.

    The pure-Spark analog of the reference's cache-aside rebuild
    (sequence-flows.mmd:45-53) — instead of invalidate-then-miss, the
    view converges to the compacted table state. The sink parses the
    raw batch itself and runs on the driver, bounded by the source's
    per-trigger cap.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        upsert_view_batch(store, batch_df, table_schema, key_field)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def run_supervised(
    start_query,
    max_restarts: int = 3,
    healthy_reset_secs: float = 60.0,
    restart_delay_secs: float = 5.0,
) -> None:
    """Restart-from-checkpoint supervisor (reference: queue/runner.go:11-35).

    The reference recovers panics and restarts the consumer after 5 s,
    indefinitely; checkpointing makes the Spark equivalent safe without
    custom offset bookkeeping. ``max_restarts`` bounds *consecutive*
    failures, not lifetime failures: a query that runs healthily for
    ``healthy_reset_secs`` before failing resets the budget, so a
    long-running pipeline survives arbitrarily many spaced-out transient
    faults while a crash loop still aborts. ``start_query`` is a
    zero-arg callable returning a started StreamingQuery.
    """
    import time

    restarts = 0
    while True:
        query = start_query()
        started = time.monotonic()
        try:
            query.awaitTermination()
            return
        except Exception:
            if time.monotonic() - started >= healthy_reset_secs:
                restarts = 0
            restarts += 1
            if restarts > max_restarts:
                raise
            time.sleep(restart_delay_secs)  # runner.go:31-32
