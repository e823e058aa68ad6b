"""Geodesic distance operators: haversine great-circle distance and the
distance-band self-join (all pairs of points within R meters).

The reference converter works in projected space (web-mercator tiles,
nusamai-mvt/src/webmercator.rs) where distance is not metric-true; a
geocoded web corpus needs the geodesic complement — "pages located
within 500 m of each other" for local-duplicate detection, venue
clustering, or proximity joins against POI sets.

Scale design (the same never-all-pairs discipline as the LSH/near-dup
family): bucket points onto a fixed micro-degree grid whose cell edge
covers the radius on BOTH axes for the corpus latitude band, explode
the LEFT side only to its 3x3 neighbor cells, one equi-join on the cell
key, then the exact haversine refinement. Candidate cost is
O(n * 9 * density), never O(n^2); the join is a plain hash join on an
integer key. Dense-city skew is the adaptive-cell-split operator's job
(operators/skew.py) — compose when a single cell overflows.

Cross-engine determinism: the haversine chain keeps ONE op order
(sin/cos/asin/sqrt on doubles — same bytes in both engines per the
header rule of plans/entry_queries/_common.py) and quantizes to integer
millimeters before the threshold compare, so the gate hash-matches.

Latitude-band note: the µdeg cell edge is sized with cos(band_lat) for
the longitude axis; a global corpus would size cells per latitude band
(or switch to an equal-area index) — documented, not needed for the
Tokyo-extent fixture.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6371008.8  # mean radius (IUGG)
M_PER_UDEG_LAT = 111194.92664455873 / 1e6  # pi*R/180 per µdeg


def haversine_mm(lng_a: Column, lat_a: Column, lng_b: Column,
                 lat_b: Column) -> Column:
    """Great-circle distance in integer millimeters between two µdeg
    points; one fixed op order (see module header)."""
    phi_a = F.radians(lat_a.cast("double") / F.lit(1e6))
    phi_b = F.radians(lat_b.cast("double") / F.lit(1e6))
    dphi = F.radians((lat_b - lat_a).cast("double") / F.lit(1e6))
    dlmb = F.radians((lng_b - lng_a).cast("double") / F.lit(1e6))
    sp = F.sin(dphi / F.lit(2.0))
    sl = F.sin(dlmb / F.lit(2.0))
    h = sp * sp + F.cos(phi_a) * F.cos(phi_b) * sl * sl
    d = F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(h))
    return F.floor(d * F.lit(1000.0) + F.lit(0.5)).cast("bigint")


def haversine_mm_sql(lng_a: str, lat_a: str, lng_b: str, lat_b: str) -> str:
    """The same chain as SQL text (valid in Spark SQL and DuckDB)."""
    phi_a = f"radians(({lat_a}) / 1000000.0)"
    phi_b = f"radians(({lat_b}) / 1000000.0)"
    sp = f"sin(radians((({lat_b}) - ({lat_a})) / 1000000.0) / 2.0)"
    sl = f"sin(radians((({lng_b}) - ({lng_a})) / 1000000.0) / 2.0)"
    h = f"({sp} * {sp} + cos({phi_a}) * cos({phi_b}) * {sl} * {sl})"
    return (f"CAST(floor(2.0 * {EARTH_RADIUS_M} * asin(sqrt({h})) "
            f"* 1000.0 + 0.5) AS BIGINT)")


def band_cell_udeg(radius_m: float, band_lat_deg: float = 36.0) -> int:
    """Cell edge in µdeg covering ``radius_m`` on both axes anywhere in
    the latitude band (longitude shrinks by cos φ, so it dominates)."""
    return int(math.ceil(radius_m / (M_PER_UDEG_LAT
                                     * math.cos(math.radians(band_lat_deg)))))


def distance_band_pairs(pts: DataFrame, radius_m: float,
                        id_col: str = "doc_id",
                        band_lat_deg: float = 36.0) -> DataFrame:
    """All unordered pairs within ``radius_m`` meters (haversine):
    (id_a < id_b, dist_mm). Left side explodes to its 3x3 neighbor
    cells; right side keyed by its own cell — one equi-join, exact
    refine, ``id_a < id_b`` dedupes the symmetric candidates."""
    cell = band_cell_udeg(radius_m, band_lat_deg)
    cx = F.floor(F.col("lng_udeg") / F.lit(cell)).cast("bigint")
    cy = F.floor(F.col("lat_udeg") / F.lit(cell)).cast("bigint")
    keyed = pts.select(F.col(id_col).alias("id"), "lng_udeg", "lat_udeg",
                       cx.alias("cx"), cy.alias("cy"))
    off = "explode(sequence(-1, 1))"
    left = (keyed.select("*", F.expr(off).alias("dx"))
            .select("*", F.expr(off).alias("dy"))
            .select(F.col("id").alias("id_a"),
                    F.col("lng_udeg").alias("lng_a"),
                    F.col("lat_udeg").alias("lat_a"),
                    ((F.col("cx") + F.col("dx")) * F.lit(1 << 32)
                     + (F.col("cy") + F.col("dy"))).alias("cell")))
    right = keyed.select(F.col("id").alias("id_b"),
                         F.col("lng_udeg").alias("lng_b"),
                         F.col("lat_udeg").alias("lat_b"),
                         (F.col("cx") * F.lit(1 << 32)
                          + F.col("cy")).alias("cell"))
    dist = haversine_mm(F.col("lng_a"), F.col("lat_a"),
                        F.col("lng_b"), F.col("lat_b"))
    return (left.join(right, "cell")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", dist.alias("dist_mm"))
            .where(F.col("dist_mm") <= int(radius_m * 1000)))
