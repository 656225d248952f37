"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the same conf block is what we'd ship in
spark-submit --py-files on a real cluster (AQE, skew-join handling, Arrow),
except the worker daemon module: under --py-files the package reaches a
worker only with its first task, after the daemon has started.
Session timezone is pinned to UTC to mirror the reference's ToUtc date mode
(/root/reference/ImportPipeline/Converters/Converters.cs:377-387).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "importpipeline-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = max(32, (cores or os.cpu_count() or 8))
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode: the driver JVM IS the executor — size its heap for the
        # machine (8g starves 32 concurrent tasks into GC thrash)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.memory.fraction", "0.7")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # small-file corpora must still split wide enough to feed every core
        # through the CPU-heavy extraction/tokenization stages
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        # workers stop re-reading pyspark.zip at every task's start; the
        # engine must be importable (cwd or PYTHONPATH) when the daemon starts
        .config("spark.python.daemon.module", "importpipeline_spark.worker_daemon")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
