"""SparkSession factory tuned for the engine.

Local mode here; on a real cluster the same builder is used by spark-submit
with master/executor settings from the cluster manager. AQE runs with Spark's
defaults (adaptive execution, post-shuffle coalescing toward the cluster
parallelism with a 64 MiB advisory size, and skew-join splitting for dense
Tokyo cells, on top of the engine's explicit salting), so the builder sets
none of them.

Two codegen settings are fixed, so a warm run compiles nothing:
``spark.sql.codegen.cache.maxEntries`` sizes the JVM-wide cache of generated
classes to the working set measured by ``scripts/codegen_census.py``, and
``spark.sql.codegen.useIdInClassName=false`` names whole-stage classes
without their stage id, so the same pipeline hits the cache whatever stage
number AQE gives it. ``maxEntries`` is a static conf: the cache is sized once
per JVM, by the first session that generates code, so a JVM whose first
session was built elsewhere keeps that session's size (``getOrCreate`` only
warns).

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
        # the generated-class cache holds one bench.py pass. Census
        # (scripts/codegen_census.py, sf0.01, 2 passes): a pass needs ~2,490
        # classes (22 warm-up, the rest its 249 leaves), and 36-37 classes
        # whose code differs per run miss at any size; at 3000 the second
        # pass compiles 37, at 2600 it compiles 534, because Guava splits
        # the cache into 4 LRU segments and one that overflows misses on
        # every access. The perfbench workloads need ~190 (curation) and 15
        # (geo_tiles), so the size is invisible to them; at Spark's 100
        # every warm curation rep compiled 155-171 classes.
        .config("spark.sql.codegen.cache.maxEntries", "3000")
        # key whole-stage classes by their code alone: with the stage id in
        # the class name, a pipeline AQE renumbers misses the cache
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
