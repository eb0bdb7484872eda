"""SparkSession factory with scale-oriented defaults.

The reference delegates execution tuning to Dataflow/BigQuery
(SURVEY.md §4); here the equivalent surface is Spark conf. Defaults are
chosen for the local[N] test harness but mirror what a 1000-executor
cluster deployment would set (AQE on, skew handling on, Arrow on).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs applied to *any* session (including the driver's)
# before reading the fixtures. nanosAsLong is load-bearing: the events
# fixture carries parquet TIMESTAMP(NANOS) which Spark otherwise rejects.
RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python DataSource filter pushdown (sources/pysource.py implements
    # pushFilters; Spark requires the opt-in flag).
    "spark.sql.python.filterPushdown.enabled": "true",
    # Past this many paths (default 32) file listing runs as a Spark job:
    # ~220 ms of each 40-file drain on 4 cores, vs ~10 ms on the driver.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "1024",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent).

    Called at the top of every public entry point so the engine behaves
    identically under a caller-provided SparkSession (e.g. the verify
    driver's) and under :func:`get_spark`.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf not settable at runtime in this build — defaults differ
            # only cosmetically; the load-bearing ones above are runtime-safe.
            pass
    return spark


def get_spark(
    app_name: str = "streaming-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores). ``shuffle_partitions`` defaults to 2x the local cores — small
    enough to avoid tiny-partition overhead locally while AQE coalescing
    keeps the real number right-sized; on a cluster you would set this to
    ~2-3x total executor cores and let AQE shrink it per-stage.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        ncpu = os.cpu_count() or 8
        shuffle_partitions = min(2 * ncpu, 64)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate REUSES any live session and silently drops every
    # static conf above (master, shuffle partitions, driver memory,
    # extra_confs). Make that visible instead of letting a test or tool
    # run on a session shaped by whoever got there first.
    actual_master = spark.sparkContext.master
    if actual_master != master:
        import warnings

        warnings.warn(
            f"get_spark: reusing an existing SparkSession (master="
            f"{actual_master!r}, requested {master!r}); requested static "
            "confs were NOT applied",
            stacklevel=2,
        )
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)
