"""SparkSession factory tuned for the test harness (local[32]) while keeping
settings that scale to a real cluster.

Cluster-scale rationale (100 TB notes):
- AQE on: runtime coalescing + skew-join splitting replaces hand-tuned
  shuffle partition counts when stage output sizes are only known at run time.
- ``spark.sql.shuffle.partitions`` is a *local* default (32 = local cores);
  on a 1000-executor cluster you'd set ~2-3x total cores or rely on AQE's
  coalescing from a high initial value.
- Arrow enabled: every Pandas-UDF operator in this package moves data
  JVM<->Python in columnar Arrow batches, not pickled rows.
- Session timezone pinned to UTC so event-time semantics are stable across
  driver/executor locales (and match the DuckDB oracle).
- Streaming checkpoints on a local default filesystem go through Spark's
  FileSystem-based checkpoint manager (see ``_LOCAL_CHECKPOINT_MANAGER``);
  HDFS and object stores keep Spark's default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

_CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
# Spark's default FileContext manager renames with FileContext.rename, which
# calls getFileLinkStatus; without Hadoop's native libraries that forks a
# `readlink` process per rename (every offset/commit/source log entry and
# every state-store delta file). RawLocalFileSystem.rename is one
# File.renameTo, atomic on POSIX, so on `file:` the FileSystem manager keeps
# the atomic-publish contract without the forks.
_LOCAL_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)


def get_spark(app_name: str = "simple_stream_processor_spark", cpus: str | None = None) -> SparkSession:
    """Build (or reuse) the SparkSession.

    In local mode the driver is the only JVM, so ``spark.driver.memory`` is
    the one memory knob; on a cluster the same code runs unchanged with
    executor memory settings supplied by the deployment.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no nanos
        # timestamp type — read as long and convert in the scan layer.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # X5 scheduler parity (reference JobManager.scala:6-24): concurrent
        # ExecutionHandles share task slots fairly across pools instead of
        # FIFO-queueing — see conf/fairscheduler.xml and execution.py `pool`.
        .config("spark.scheduler.mode", "FAIR")
        .config(
            "spark.scheduler.allocation.file",
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "conf", "fairscheduler.xml"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    default_fs = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
    if default_fs.startswith("file:") and spark.conf.get(_CHECKPOINT_MANAGER_KEY, None) is None:
        spark.conf.set(_CHECKPOINT_MANAGER_KEY, _LOCAL_CHECKPOINT_MANAGER)
    return spark
