"""SparkSession factory tuned for the engine.

Local mode here; on a real cluster the same builder is used by spark-submit
with master/executor settings from the cluster manager. AQE runs with Spark's
defaults (adaptive execution, post-shuffle coalescing toward the cluster
parallelism with a 64 MiB advisory size, and skew-join splitting for dense
Tokyo cells, on top of the engine's explicit salting), so the builder sets
none of them.

Two deployment settings are read from the environment: ``SPARK_GRAFT_CPUS``
(local cores, default 32) and ``SPARK_DRIVER_MEM`` (default 24g).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "plateau_gis_converter_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus.isdigit() else "32"
        shuffle_partitions = max(int(n), 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
