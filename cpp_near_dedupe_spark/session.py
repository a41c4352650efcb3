"""SparkSession construction with the engine's recommended configuration.

Single-process ``local[k]`` here stands in for a multi-executor cluster; all
settings are cluster-safe (AQE, skew-join, Arrow transport) and sized by the
caller for the target scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "cpp-near-dedupe-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # ~1x cores locally; on a real cluster size to ~2-3x total cores
        k = master.split("[")[-1].rstrip("]")
        shuffle_partitions = 32 if k == "*" else max(8, int(k))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # dedupe pair explosion benefits from compact shuffles
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # signature arrays are expensive to sort: prefer hash joins, and let
        # AQE upgrade to broadcast when the signature side is small enough
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.maxResultSize", "2g")
        # local mode: driver == executor; size the heap for shuffle buffers
        # and iterative-plan analysis (ignored if a JVM already exists)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
