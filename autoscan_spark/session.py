"""SparkSession factory with scale-oriented defaults.

Centralizes the configuration knobs that matter at 100 TB — AQE, shuffle
partition sizing, Arrow batching for the pandas/Arrow kernels — so tests,
bench.py and spark-submit jobs all run the same plan shapes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "autoscan-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    - ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
      cluster pass None and let spark-submit own it.
    - AQE is on: runtime coalescing of the fold shuffle and skew splitting.
    - Arrow batch size bounds per-batch memory of the extraction kernels.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    # shuffle locality: prefer the RAM-backed dir in this sandbox (the cloud
    # root disk bottlenecks shuffle at ~5x below CPU speed — measured in
    # BENCH/BASELINE.md); on a real cluster set spark.local.dir to NVMe.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-tmp")
    try:
        os.makedirs(local_dir, exist_ok=True)
    except OSError:
        local_dir = None

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # keep parquet scan partitions reasonable for the local bench; on a
        # real cluster this is the default 128m
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
