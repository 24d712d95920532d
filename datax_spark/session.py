"""SparkSession factory tuned for this engine.

The reference sizes parallelism via `job.setting.speed.channel`
(SURVEY.md §2.11, [UP core/.../JobContainer.java#adjustChannelNumber]);
here parallelism is `local[N]` threads + `spark.sql.shuffle.partitions`
pinned proportional to cores, with AQE doing runtime re-planning
(coalesce + skew-join split).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "datax_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores=None → local[*]. Shuffle partitions default to the core
    count (never the 200 default — wrong for both tiny and huge data).
    """
    if cores is None:
        cores_env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cores_env}]" if cores_env else "local[*]"
        n_cores = int(cores_env) if cores_env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n_cores = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(4, n_cores)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("DATAX_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # A table read passes one leaf dir per manifest file-set; above
        # this many paths Spark lists them with a Spark job (one task
        # per path), which on a local master costs ~0.4 s against ~ms
        # for listing them on the driver. 1024 keeps a 64-bucket MOR
        # table with 15 deltas per bucket on the driver-side listing.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        # v2 commit: task-side output renames (parallel) instead of a
        # serial driver-side job-commit walk — the v1 walk is a serial
        # bottleneck for bucketed writes (64 dirs × N task files).
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    )
    local_dirs = os.environ.get("DATAX_SPARK_LOCAL_DIR")
    if local_dirs:
        builder = builder.config("spark.local.dir", local_dirs)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
