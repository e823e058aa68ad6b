"""Geocoding: extract (lng, lat) micro-degree coordinates from page text.

This is the engine's counterpart to the reference's CityGML geometry parse
(``nusamai/src/source/citygml.rs:107-129``) re-targeted at Common-Crawl-style
web pages (SURVEY §7.1): a deterministic rule-based extractor so goldens are
stable.

One implementation: ``geocode_expr``, pure Catalyst ``regexp_extract`` (JVM
codegen, no Python per row); batch and streaming plans share it. The
Arrow-batched pandas extractor in the tests is its parity reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LAT_PATTERN = r"lat_udeg=(-?\d+)"
LNG_PATTERN = r"lng_udeg=(-?\d+)"


def geocode_expr(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add lng_udeg/lat_udeg extracted from `text`; rows without coordinates
    get NULL (filter downstream, predicate pushes into the scan)."""
    lat_s = F.regexp_extract(F.col(text_col), LAT_PATTERN, 1)
    lng_s = F.regexp_extract(F.col(text_col), LNG_PATTERN, 1)
    return (df
            .withColumn("lat_udeg", F.when(lat_s != "", lat_s.cast("bigint")))
            .withColumn("lng_udeg", F.when(lng_s != "", lng_s.cast("bigint"))))
