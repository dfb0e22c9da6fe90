"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]`` (one JVM); the config is chosen so
the same code drops onto a 1000-executor cluster unchanged:

* AQE on (runtime coalescing, skew-join splitting, broadcast demotion);
* shuffle partitions sized to cores locally — on a real cluster this is
  overridden by AQE's coalescing from a high initial count;
* Arrow enabled for the few Pandas-UDF code paths;
* UTC session timezone so event-time semantics are engine-independent
  (and comparable against the DuckDB oracle);
* cheap checkpoint commits for stateful streams: RocksDB changelog
  checkpointing uploads one changelog file per state partition per
  epoch (snapshots move to the maintenance thread), and local sessions
  commit checkpoint files through the FileSystem API, whose rename on
  ``file:`` is one fork-free ``rename(2)``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _ensure_driver_memory() -> None:
    """Apply ``$SPARK_GRAFT_DRIVER_MEM`` (default 16g) *before* the
    gateway JVM launches.

    In PySpark client mode the driver JVM is started by the first
    gateway touch with its heap fixed; a ``spark.driver.memory`` set on
    the builder afterwards is silently ignored. So the knob must go
    through ``PYSPARK_SUBMIT_ARGS``. If a JVM is already up (shared
    test session, embedding host), we leave it alone — its heap cannot
    be changed anyway.
    """
    from pyspark import SparkContext

    if (
        SparkContext._active_spark_context is not None
        or getattr(SparkContext, "_gateway", None) is not None
    ):
        return
    if "--driver-memory" in os.environ.get("PYSPARK_SUBMIT_ARGS", ""):
        return
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    args = os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {mem} {args}"


def get_spark(
    app_name: str = "spark_kafka_streaming_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32) so the
    driver's bench and the tests share one sizing knob.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    nshuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    _ensure_driver_memory()

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The driver's events table stores TIMESTAMP(NANOS) parquet, which
        # Spark's vectorized reader rejects; read as raw nanos and convert
        # in the loader (sources/batch.py) — DuckDB equivalently truncates
        # nanos to micros on read.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # At 100 TB: bound per-task input so scans parallelize evenly.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Sorter-spill reads are SYNCHRONOUS: the async read-ahead
        # path deadlocked a fourth-decade run live (task parked in
        # ReadAheadInputStream.waitForAsyncReadComplete while every
        # "read-ahead" worker idled on a different condition — a lost
        # wakeup; jstack evidence in SCALE.md round 9). A rare hang
        # that stalls an entire job beats the small pipelining win on
        # spilling queries, so the engine turns it off everywhere.
        .config("spark.unsafe.sorter.spill.read.ahead.enabled", "false")
        # Streaming state at scale: RocksDB provider (spills to disk,
        # bounded heap) instead of the default in-memory HDFS provider.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local"):
        # Spark's default FileContext manager renames through
        # AbstractFileSystem.renameInternal, which on ``file:`` resolves
        # links by forking ``readlink`` for the source, the destination
        # and their .crc twins, and replaces by delete-then-rename (not
        # atomic). The FileSystem manager's rename there is one
        # rename(2). Clusters keep the default: on HDFS the FileContext
        # rename-with-overwrite is atomic and FileSystem.rename is not.
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
