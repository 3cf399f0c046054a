"""SparkSession factory tuned for the engine.

Local mode is a test stand-in for a real cluster: the configs below are
the ones that transfer (AQE, shuffle partitioning, UTC timestamps,
Arrow). On a 1000-executor cluster the same builder is used with
``master`` unset and ``spark.sql.shuffle.partitions`` sized to
~2-3x total cores (or left to AQE coalescing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dtle_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    running = SparkSession._instantiatedSession  # what getOrCreate reuses
    if running is not None and running._sc._jsc is not None:
        # getOrCreate would apply the builder's configs (shuffle
        # partitions included) to the running session
        return running
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(8, int(cpus))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 16g on a 128 GiB local[32] host: the single-JVM bench runs ~100
        # queries in one heap and long-session GC is the dominant noise
        # source (total varies 69-94 s run to run; the best totals came
        # with the larger heap, and 8g never produced one). On a real
        # cluster executor/driver memory is sized per-node as usual.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # parquet scans: keep splits small enough that a partition of the
        # sf0.1 bench tier fits comfortably in an executor core's memory;
        # at 100 TB the same 128m default yields ~800k input splits, which
        # is the intended granularity for a 1000-executor cluster.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # fixture events.parquet stores TIMESTAMP(NANOS); read as long and
        # convert in io.load_table (Spark has no nanos timestamp type)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # fixture timestamps carry no tz annotation: read as TimestampType
        # (not TIMESTAMP_NTZ) so unix_micros & friends resolve, matching
        # DuckDB's single naive timestamp type (io.load_table re-asserts
        # this at runtime for driver-provided sessions)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
