"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we would set on a real cluster where it
matters (AQE, UTC session time zone, Arrow); the knobs that differ at
cluster scale (shuffle partitions, driver memory) are parameterized via
environment variables so the same code runs on ``local[32]`` here and on
a 1000-executor cluster unchanged.

Two settings take fixed costs out of every streaming micro-batch:

- ``spark.sql.streaming.checkpointFileManagerClass`` is
  ``FileSystemBasedCheckpointFileManager``. Hadoop runs here without its
  native library (``NativeIO.isAvailable()`` is false), so the default
  ``FileContextBasedCheckpointFileManager`` shells out (``chmod``,
  ``stat``, ``ls``) on each atomic metadata write: measured through py4j
  on a 4-vCPU host, one ``createAtomic`` + ``close`` started ~20
  processes and threads (``/proc/stat`` ``processes``) and took a median
  of 29 ms, against 4 and 8 ms for the ``FileSystem`` manager. A batch
  writes three such files (source log, offset log, commit log). The
  trade-off: ``FileSystem.rename`` is atomic on the local file system
  and HDFS, but FileContext's atomic rename-if-absent is lost, so a
  second driver racing on the same checkpoint is caught by an
  exists-then-rename check instead. The class path is Spark 4.1's (3.x
  had no ``checkpointing.`` package segment).
- ``spark.sql.files.openCostInBytes`` is 1 MiB, not 4 MiB. A file scan
  splits at ``max(openCost, bytes / cores)``, so a micro-batch of two
  ~3.7 MB files was two tasks on four cores; at 1 MiB it spreads over
  every core. Files of at most one row group gain only empty splits.

``extra_conf`` overrides either.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "cdc-cascade-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism. Session time zone
    is pinned to UTC so TIMESTAMP semantics match the DuckDB oracle
    (naive/UTC timestamps in the parquet testdata).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: ~cores; on a real cluster this would be sized to
        # (executors * cores * 2-3) or left to AQE coalescing.
        shuffle_partitions = int(cpus) if cpus.isdigit() else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata events.parquet stores TIMESTAMP(NANOS); read the raw
        # int64 and convert explicitly in catalog.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
