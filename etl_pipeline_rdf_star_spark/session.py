"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]``; the same config block is what we'd pass to
``spark-submit`` on a real cluster (AQE on, skew-join handling on, Arrow
enabled for the few pandas-UDF paths).
"""

from __future__ import annotations

import os

import pyspark
from pyspark.sql import SparkSession

# Spark 4.1 moved the checkpoint managers into a ``checkpointing`` package
_FS_CHECKPOINT_MANAGER = "org.apache.spark.sql.execution.streaming." + (
    "checkpointing."
    if tuple(int(x) for x in pyspark.__version__.split(".")[:2]) >= (4, 1)
    else ""
) + "FileSystemBasedCheckpointFileManager"


def get_spark(
    app_name: str = "etl-pipeline-rdf-star-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or _default_shuffle_partitions(cores)),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # a LakeTable scan names each of its files; above this many paths
        # Spark stats them with a Spark job instead of on the driver.
        # Building a scan of 3,000 local files: 24 s with the job at the
        # default 32 (2 local cores), 0.7 s without it
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1)
        )
        # Structured Streaming writes its offset WAL, source log and commit
        # log (and state-store files) through this manager. Spark's
        # default goes through Hadoop's FileContext: on the local file
        # system one atomic 200-byte log write took 27 ms with it and 8 ms
        # through FileSystem (median of 40, local[2], 4-core host). A
        # one-file CDC trigger pays three such phases: over 14 triggers
        # walCommit, commitOffsets and latestOffset each summed 0.40-0.60 s
        # with the default and 0.09-0.15 s with this one. On the local file
        # system both write a temp file, check that the target does not
        # exist and rename, so the metadata log's no-overwrite guarantee is
        # the same there. It is not on a store whose rename is not atomic
        # (Spark warns so); cdc_submit.py limits the cluster --conf to
        # local and HDFS checkpoints
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            _FS_CHECKPOINT_MANAGER,
        )
        # task-side output commit (v2): job commit does not serially rename
        # every task file on the driver — standard practice for many-file
        # micro-batch sinks
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2"
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # JVM unified logging defaults WARNING-level messages to STDOUT
        # (observed: "[gc,alloc] ... Retried waiting for GCLocker" under
        # allocation pressure), which corrupts harnesses that parse this
        # process's stdout as one JSON line (bench.py contract). Merely
        # ADDING "-Xlog:gc*=warning:stderr" is not enough — the default
        # "stdout all=warning" output stays active and the message goes
        # to BOTH streams (verified via -Xlog:logging=debug). Disable
        # the default config first, then route all warnings to stderr.
        .config(
            "spark.driver.extraJavaOptions",
            "-Xlog:disable -Xlog:all=warning:stderr",
        )
    )
    return builder.getOrCreate()


def _default_shuffle_partitions(cores: int | str) -> int:
    try:
        n = int(cores)
    except (TypeError, ValueError):
        n = os.cpu_count() or 8
    return max(2 * n, 8)
