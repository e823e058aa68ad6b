"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship geocode → tile-assign → broadcast spatial-join
pipeline at sf0.001. ``queries()`` / ``oracle_sql()`` — one entry per
implemented operator from SURVEY.md §2, backed by
``plateau_gis_converter_spark.plans.entry_queries``: each gate is declared
once with ``@gate(oracle_sql)``, so every query has its DuckDB oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from plateau_gis_converter_spark.plans import entry_queries as eq  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: geocode the synthetic pages
    layer, assign z12 index cells, broadcast-join the 23 ward polygons with
    exact integer PIP refinement, aggregate pages per ward."""
    from pyspark.sql import functions as F

    sf_dir = "/root/testdata/sf0.001"
    pts = eq._points_df(spark, sf_dir)
    from plateau_gis_converter_spark.operators import spatial_join as sj
    from plateau_gis_converter_spark.sources import fixtures as fx

    joined = sj.spatial_join_points(spark, pts, fx.tessellation_records())
    return (joined.groupBy("ward_code")
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 F.min("doc_id").alias("min_doc"),
                 F.max("doc_id").alias("max_doc"))
            .orderBy("ward_code"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(eq.QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(eq.ORACLES)
