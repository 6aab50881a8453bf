"""``get_spark``'s settings that take fixed costs out of each streaming
micro-batch: checkpoint writes through the ``FileSystem`` manager, and a
small file open cost so a batch's few files split over every core."""

from __future__ import annotations


def test_checkpoint_files_use_the_filesystem_manager(spark, tmp_path):
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing \
        .CheckpointFileManager.create(
            jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
            spark._jsparkSession.sessionState().newHadoopConf(),
        )
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"


def test_two_small_files_split_over_the_cores(spark, tmp_path):
    """Two ~3.5 MB text files, the size of a ``view_catchup`` batch, read
    in at least ``min(4, cores)`` partitions; a 4 MB open cost made each
    file one split."""
    line = "x" * 99 + "\n"
    for name in ("a.txt", "b.txt"):
        (tmp_path / name).write_text(line * 35_000)
    parts = spark.read.text(str(tmp_path)).rdd.getNumPartitions()
    assert parts >= min(4, spark.sparkContext.defaultParallelism)
