"""SparkSession construction tuned for the target environment.

Local testing runs on ``local[N]`` (single JVM); production target is
a 1000-executor cluster over ~100 TB. Session defaults are chosen so
the same logical plans scale: AQE on (runtime coalesce + skew-join),
UTC session timezone (oracle comparability), Arrow enabled for the
Pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the package's parent directory: Python workers and the worker daemon
#: import the engine from it whatever the working directory
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """Half of physical RAM (``os.sysconf``), capped at 32g, as a Spark
    size string. Local mode runs every task in the driver JVM, so a
    fixed 32g heap on a smaller host lets the JVM grow until the OS
    kills it; half leaves room for Python workers and the page cache."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(phys_bytes // 2 >> 20, 32 << 10)}m"


def get_spark(
    app_name: str = "hw_kafka_streams_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all
    cores); ``SPARK_GRAFT_DRIVER_MEM`` overrides the driver heap
    (default: :func:`default_driver_memory`). On a real cluster the
    master/memory settings come from spark-submit and these builder
    calls are inert.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or "*"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 1)
        except ValueError:
            shuffle_partitions = os.cpu_count() or 8

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # ~cores for local; a real cluster would set ~2-3x total cores.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS); Spark has no ns type —
        # read as long, catalog converts to µs timestamps (floor, like
        # DuckDB's ns→µs cast, so oracle comparisons line up).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the engine ships pushdown-capable Python data sources
        # (sources/message_source.py); off by default in Spark 4.1
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # skip re-reading unchanged zip archives at every Python task
        # (pydaemon.py); a core conf, read when the SparkContext starts
        .config("spark.python.daemon.module", "hw_kafka_streams_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
