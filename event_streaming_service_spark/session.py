"""SparkSession factory tuned for both local testing and cluster scale.

Local runs are single-JVM (``local[N]``); the config below is chosen so
the same logical plans survive a 1000-executor cluster unchanged:
AQE handles runtime coalescing and skew joins, shuffle partitions are
sized for the local core count (on a cluster this would be ~2-3x total
cores), and Arrow is enabled for the few Pandas-UDF operators.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "event-streaming-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(8, cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Real Python tracebacks when an Arrow/Pandas UDF worker dies:
        # without these a worker crash logs only "Python worker exited
        # unexpectedly".
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
