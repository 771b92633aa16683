"""SparkSession factory with the engine's standard configuration.

Scale posture: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), Arrow enabled (every Python boundary is Arrow-batched),
shuffle partitions sized to cores for local mode (a cluster deployment
would size to 2-3x total cores and rely on AQE coalescing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "gdal_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    )
    # NOTE on leaf parallelism: 4 tasks/core helps LONG scan-heavy jobs
    # (the 96M-row scaling job gains 6-15% steal-corrected throughput —
    # BENCH/runs.jsonl rev r4-lvlprune+leafNodeDefaultParallelism) but
    # REGRESSES short interactive queries 2x (sf0.1 headline 28.5s ->
    # 55.1s: 4x more Arrow/Python task dispatches on sub-second
    # stages). It is therefore a per-job knob (run_scaling_job sets it)
    # and NOT an engine default.
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
