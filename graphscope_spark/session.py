"""SparkSession factory with the configuration the engine assumes.

The knobs here are the Spark analog of GraphScope's structural performance
levers (SURVEY.md §4.1): AQE for runtime partition coalescing and skew-join
splitting, Arrow for vectorized pandas-UDF exchange, and a shuffle-partition
count sized to the local core count (on a real cluster: ~2-3x total cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def get_spark(
    app_name: str = "graphscope_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for iterative graph jobs.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    On a real cluster this function is a no-op passthrough: spark-submit
    supplies the master and the session already exists.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of small shuffle partitions and skew-join
        # splitting — the automatic half of our skew story (the manual half
        # is salted aggregation in engine/aggregate.py).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(sp))
        # Arrow-vectorized pandas UDF exchange (CSR gather-scatter kernels).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Iterative jobs re-reference the same small plans many times;
        # keep broadcast threshold modest and deterministic.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet scans: split into ~128MB tasks at scale.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # 100 entries recompile ~540 classes per greedy_loops pass; 2048: 264 once, then 0.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
