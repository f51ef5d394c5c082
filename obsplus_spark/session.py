"""SparkSession factory with engine defaults.

Defaults chosen for oracle-exact comparisons (UTC session timezone; ANSI
mode is not set, so Spark 4's default of ANSI on applies) and for scale (AQE
on, shuffle partitions sized to cores locally; on a real cluster the
shuffle-partition default is left to AQE coalescing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "obsplus_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Parameters default from env: ``SPARK_GRAFT_CPUS`` controls local
    parallelism, mirroring the driver harness contract.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # read TIMESTAMP(NANOS) parquet as int64 ns — the engine's native
        # time convention (Spark TimestampType is µs-only; SURVEY.md §7)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # skip PySpark's per-DataFrame-call origin capture (a
        # getActiveSession + JVM origin-setter py4j round trip on EVERY
        # wrapped API call — ~25% of plan-build time across the query
        # suite); the only loss is the "call site" line in error messages
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # local[N] runs executors inside the driver JVM, so this IS the
        # executor heap: at 8g the cache-heavy suites ran near the
        # unified-memory ceiling (observed: 1 GB page-allocation retries
        # in wide aggregates at 10x scale, GC-inflated py4j latency).
        # 24g leaves the 128 GiB hosts plenty of headroom for the
        # in-process DuckDB oracle side. On a real cluster this conf is
        # per-node and set by the deployment, not here.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", "24g"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
