"""SparkSession factory.

Scale posture: AQE on (runtime partition coalescing + skew-join splitting),
shuffle partitions sized to the local core count (a real cluster
deployment would raise this to ~2-3x total cores), UTC session timezone so
results compare bit-for-bit with the DuckDB oracle, Arrow enabled for every
pandas-UDF boundary.

The reference engine hard-codes nReduce=10 partitions
(/root/reference/mr-main/mrcoordinator.go:25) and has no runtime re-planning;
AQE subsumes that knob.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def core_count() -> int:
    """Local Spark slots: SPARK_GRAFT_CPUS when set, else the cores this
    process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "mapreduce_paper_implementation_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    local[N] for tests; on a real cluster the caller passes master=None and
    lets spark-submit supply it. Every config here is cluster-safe.
    """
    cpus = core_count()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        # Long single-JVM sessions running many codegen'd queries exhaust the
        # default 240 MB JIT code cache, after which HotSpot silently stops
        # compiling and every later query runs interpreted (measured 10-15x
        # slowdowns late in a 67-query bench). Enlarged cache + flushing
        # keeps compilation alive for the session's whole lifetime.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
