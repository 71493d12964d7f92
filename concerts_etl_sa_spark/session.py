"""SparkSession factory (reference analog: client memoization, gsheet.py:26,39-53).

One session per process (K5).  Config favors the local[32] test harness but
every setting is cluster-safe: AQE handles skew/coalesce at any scale, and
shuffle partitions are overridable via env for real clusters.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "concerts_etl_sa_spark") -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    Cluster-scale notes: on a real 1000-executor cluster the same code runs
    unchanged — `spark.sql.shuffle.partitions` is only the AQE *initial*
    number (AQE coalesces/splits at runtime), and Arrow is enabled for the
    few pandas-UDF operators (multimodal decode).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE sizes post-shuffle partitions from MAP-side bytes; a join
        # that fans out (token-postings self-joins, exploded LSH bands)
        # has tiny map output but 10-100x join output, and the default
        # 1 MB floor coalesces those stages to 1-2 tasks — serializing
        # the most expensive joins in the engine. A 16 KB floor keeps
        # fan-out stages at full parallelism; for normally-sized
        # shuffles the parallelismFirst target (defaultParallelism)
        # still governs, so large-scale behavior is unchanged.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # driver testdata stores TIMESTAMP(NANOS) which the Spark parquet
        # reader rejects; read as long + convert in sources.readers
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # pyspark-shell turns the console progress bar on; its
        # carriage-return frames share stderr with the log_json lines
        # and would land on the same text line as a JSON record
        .config("spark.ui.showConsoleProgress", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
