"""SparkSession factory.

Mirrors the reference's session builders (/root/reference/airflow/config/
read_delta.py:10-30 and /root/reference/spark/SaveDelta.scala:74-84) minus
the S3A/Delta wiring, plus the scale-oriented defaults the reference lacks
(AQE, skew-join handling, sane shuffle partitioning).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "samdis-engine", shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the engine.

    On a real cluster the same conf applies; only ``master`` changes.
    ``spark.sql.shuffle.partitions`` is a floor — AQE coalesces down and
    splits skewed partitions at runtime, which is the 100 TB-safe default.
    """
    n = shuffle_partitions or default_parallelism()
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # the driver's events.parquet has stored ts as TIMESTAMP(NANOS) in
        # some rounds (read as int64 ns) and TIMESTAMP(MICROS, ntz) in
        # others; the source adapter (sources/tables.py) normalizes both
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        # local mode = driver-only: driver memory is the ONLY memory knob
        # (default 1g would spill/GC-thrash every shuffle at bench scale)
        b = b.master(f"local[{n}]").config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # Streaming checkpoints on the local filesystem: the default
        # FileContext-based manager resolves links (getFileLinkStatus) on
        # every rename, and without the native Hadoop library each of
        # those forks a `readlink` process: ~50 forks per CDC micro-batch,
        # which made the offset-WAL and commit-log writes ~4x slower. On
        # a local filesystem both managers check that the target is
        # absent and then File.renameTo, so the FileSystem-based one is
        # no weaker here. Cluster sessions keep the default: HDFS's
        # FileContext rename is the atomic one.
        b = b.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def materialized(df: DataFrame,
                 level: StorageLevel = StorageLevel.MEMORY_AND_DISK):
    """Yield ``df`` persisted at ``level`` for the block, then release
    only what this call cached. A frame whose plan is already cached
    (by the caller, or an equal plan elsewhere) is yielded as is and
    stays cached afterwards."""
    lvl = df.storageLevel
    if lvl.useMemory or lvl.useDisk:
        yield df
        return
    df = df.persist(level)
    try:
        yield df
    finally:
        df.unpersist()


def cluster_conf(executors: int = 1000, cores_per_executor: int = 4,
                 target_partition_mb: int = 128) -> dict[str, str]:
    """Recommended conf for the real 100 TB deployment (documented contract;
    local runs don't need it). Sizing rules:

    - shuffle partitions ≈ 2-3× total cores so every wave is full and AQE
      has room to coalesce; with 100 TB inputs this also keeps the average
      post-shuffle partition near target_partition_mb.
    - AQE owns runtime re-planning (coalesce, skew split, join demotion).
    - Kryo + zstd shuffle: CPU-cheap, 2-3× smaller shuffle files.
    - maxPartitionBytes bounds scan task size so a 100 TB scan yields
      ~800k tasks, not 8M.
    """
    total_cores = executors * cores_per_executor
    return {
        "spark.sql.shuffle.partitions": str(total_cores * 2),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes":
            str(target_partition_mb * 1024 * 1024),
        "spark.sql.files.maxPartitionBytes":
            str(target_partition_mb * 1024 * 1024),
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.io.compression.codec": "zstd",
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.speculation": "true",
        "spark.task.maxFailures": "4",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }
