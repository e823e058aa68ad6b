"""Seeded inputs. The same seed gives the same inputs; the program only ever
sees the pages and documents made here.

* Pages are generated inside the plan (``spark.range``) by the package's
  ``functions.geo.point_udeg_cols``; the seed moves the id window, so every
  seed geocodes a different point set of the same size and density mix.
* Documents are the 5,000 documents of the repository's sf0.1 test tier
  (``data/documents.parquet``, a byte-for-byte copy of its
  ``documents.parquet``). The seed offsets ``doc_id``, which moves the
  lineage shards and the sample the pipeline draws; the texts, and so the
  near-duplicate pairs, stay those of sf0.1.
"""

from __future__ import annotations

import os

import numpy as np

# the seed window stays small enough that id * 69069 (the point derivation's
# largest multiplier) can never leave int64, so ANSI mode never trips
SEED_WINDOW = 100_000
PAGE_ID_STRIDE = 10_000_000
DOC_ID_STRIDE = 1_000_000
DOCS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                         "documents.parquet")


def page_id_offset(seed: int) -> int:
    return (seed % SEED_WINDOW) * PAGE_ID_STRIDE


def pages(spark, seed: int, n: int):
    """(doc_id, url, text) pages whose text carries one coordinate pair."""
    from pyspark.sql import functions as F

    from plateau_gis_converter_spark.functions import geo

    off = page_id_offset(seed)
    base = spark.range(off, off + n).select(F.col("id").alias("doc_id"))
    lng, lat = geo.point_udeg_cols(F.col("doc_id"))
    return base.select(
        "doc_id",
        F.concat(F.lit("https://example.jp/p/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.format_string("地点 lat_udeg=%d lng_udeg=%d 東京", lat, lng)
        .alias("text"))


def page_ids(seed: int, n: int) -> np.ndarray:
    off = page_id_offset(seed)
    return np.arange(off, off + n, dtype=np.int64)


def documents(spark, seed: int):
    """sf0.1's documents with ``doc_id`` offset by the seed."""
    from pyspark.sql import functions as F

    off = (seed % SEED_WINDOW) * DOC_ID_STRIDE
    return spark.read.parquet(DOCS_PATH).withColumn(
        "doc_id", F.col("doc_id") + F.lit(off))
