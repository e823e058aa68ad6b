"""Query registry backing ``__spark_entry__.py``: one entry per implemented
operator (SURVEY.md §2), each with a PySpark implementation and (where
SQL-expressible) a DuckDB oracle over the same parquet tables.

Cross-engine determinism rules used throughout (the driver compares
row-count + schema + order-insensitive value hash):

* integers only in modular/index arithmetic — exact in both engines;
* raw parquet doubles may be output as-is (same bytes in both readers);
* COMPUTED doubles keep the exact same op order in both engines;
* AGGREGATED doubles are quantized first (floor(x*scale + 0.5) as BIGINT)
  so the sum is an integer — associative, partial-agg/merge-order free;
* string hashes only via md5 (no engine-specific hash functions);
* every computed column is aliased identically on both sides.

The synthetic geo layer derives deterministic points from documents.doc_id
(fixtures.point_udeg_np == fixtures.point_udeg_sql) — no external data.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import geo
from ..operators import dedup as dd
from ..operators import geocode as gc
from ..operators import spatial_join as sj
from ..operators import text as tx
from ..operators import tile_assign as ta
from ..sources import fixtures as fx

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a table, spreading single-split small files across the cores.

    The sf0.001..0.1 parquet fixtures are one file -> ONE input split, so
    every expensive map-side pipeline (tokenize/shingle/explode, embedding
    dots) would otherwise run single-threaded — a local-only artifact: the
    production table has thousands of splits and never needs this. Results
    are partitioning-independent (all gate aggregations are integer-exact
    and the compare is order-insensitive)."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(par // 2, 2):
        if os.environ.get("SPARK_GRAFT_T_RR") == "1":
            df = df.repartition(par)
        else:
            # r6 OPTIMIZATION: hash-repartition on the table's leading
            # (key) column instead of round-robin — a keyless
            # repartition(n) first pays a local SORT of its input so
            # retried tasks reproduce the same row placement
            # (SPARK-23207, guide §2.5); hashing a deterministic key
            # needs no sort and is retry-stable. Results are
            # partitioning-independent (house rule; gates are
            # order-insensitive).
            df = df.repartition(par, F.col(df.columns[0]))
    return df


def _t_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of a fixture table for plan-time sizing scalars.

    r6 OPTIMIZATION: reads the RAW parquet relation — count() resolves
    from footer metadata, no column payload, no shuffle — instead of the
    ``_t()``-repartitioned one, which paid the core-spreading exchange
    just to count rows (repartition is count-invariant, so the value is
    identical; measured 0.35 -> 0.20 s per site at sf0.1, ~21 query
    sites). Computed fresh per invocation from the parquet input —
    nothing is memoized across runs."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet").count()


def _points_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> deterministic geo points (the synthetic 'pages' layer)."""
    docs = _t(spark, sf_dir, "documents")
    lng, lat = geo.point_udeg_cols(F.col("doc_id"))
    return docs.select("doc_id", lng, lat)


_POINTS_SQL_LNG, _POINTS_SQL_LAT = fx.point_udeg_sql("doc_id")
POINTS_CTE = (
    "pts AS (SELECT doc_id, "
    f"{_POINTS_SQL_LNG} AS lng_udeg, {_POINTS_SQL_LAT} AS lat_udeg "
    "FROM documents)"
)

# mercator + square-tile floor, shared SQL text (valid in Spark SQL & DuckDB)
MX_SQL = "((lng_udeg / 1000000.0 + 180.0) / 360.0)"
MY_SQL = ("((-degrees(ln(tan(radians(90.0 + lat_udeg / 1000000.0) / 2.0))) "
          "+ 180.0) / 360.0)")


def _tile_xy_sql(z_expr: str) -> tuple[str, str]:
    n = f"CAST(pow(2.0, {z_expr}) AS BIGINT)"
    x = f"CAST(floor({MX_SQL} * pow(2.0, {z_expr})) AS BIGINT)"
    y = f"CAST(floor({MY_SQL} * pow(2.0, {z_expr})) AS BIGINT)"
    xw = f"((({x}) % {n} + {n}) % {n})"
    yc = f"GREATEST(CAST(0 AS BIGINT), LEAST({y}, {n} - 1))"
    return xw, yc


def _cents(col: str, scale: int = 100) -> F.Column:
    """Quantize a double to integer units — associative exact aggregation."""
    return F.floor(F.col(col) * F.lit(float(scale)) + F.lit(0.5)).cast("bigint")


def _cents_sql(expr: str, scale: int = 100) -> str:
    return f"CAST(floor(({expr}) * {float(scale)} + 0.5) AS BIGINT)"


# 60-bit stable string hash (engine-portable)
def _hex60_sql(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


# DuckDB shingle CTE (3-gram, lowercased word tokens) == operators.dedup.shingles
SHINGLES_CTE = """
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS shingle
  FROM toks, UNNEST(range(greatest(len(t) - 2, 0))) AS u(i)
)"""


# ---------------------------------------------------------------------------
# spatial queries (geocode → tile assignment → hilbert → spatial join → rollup)
# ---------------------------------------------------------------------------

def q_geocode(spark, sf_dir):
    """S1+geocode: build page text embedding coordinates, extract them back
    via regexp (operators/geocode.py), return integers."""
    docs = _t(spark, sf_dir, "documents")
    lng, lat = geo.point_udeg_cols(F.col("doc_id"))
    pages = docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit("/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.format_string("地点 lat_udeg=%d lng_udeg=%d 東京", lat, lng)
        .alias("text"))
    out = gc.geocode_expr(pages)
    return out.select("url", "lng_udeg", "lat_udeg")


SQL_GEOCODE = f"""
WITH {POINTS_CTE},
pages AS (
  SELECT concat('https://', d.source, '/doc/', CAST(d.doc_id AS VARCHAR)) AS url,
         printf('地点 lat_udeg=%d lng_udeg=%d 東京', p.lat_udeg, p.lng_udeg) AS text
  FROM documents d JOIN pts p ON d.doc_id = p.doc_id
)
SELECT url,
       CAST(regexp_extract(text, 'lng_udeg=(-?\\d+)', 1) AS BIGINT) AS lng_udeg,
       CAST(regexp_extract(text, 'lat_udeg=(-?\\d+)', 1) AS BIGINT) AS lat_udeg
FROM pages
"""


def q_tile_assign(spark, sf_dir):
    """G1/G2 point path: explode into z 7..15 square tiles (Catalyst only)."""
    pts = _points_df(spark, sf_dir)
    return (ta.assign_point_tiles(pts, 7, 15, with_tile_id=False)
            .select("doc_id", "z", "x", "y"))


_TX, _TY = _tile_xy_sql("z")
SQL_TILE_ASSIGN = f"""
WITH {POINTS_CTE},
zs AS (SELECT CAST(u.z AS INT) AS z FROM UNNEST(range(7, 16)) AS u(z))
SELECT doc_id, z, {_TX} AS x, {_TY} AS y
FROM pts, zs
"""


def q_rasterize_heatmap(spark, sf_dir):
    """Raster<->vector bridge (operators/raster.py): rasterize the
    synthetic points onto the z=11 mercator pixel grid (16 px/tile),
    count points per non-empty pixel (the sparse heatmap-tile
    representation), then map each pixel BACK to vector space as a
    micro-degree lng/lat bbox via exact inverse mercator. The oracle
    re-derives pixel indices and the inverse projection with the same
    op order (float determinism per the module-header rules)."""
    from ..operators import raster as ra

    pts = _points_df(spark, sf_dir)
    r = ra.rasterize_points(pts, zoom=11, tile_px=16)
    return ra.raster_cell_bounds(r, zoom=11, tile_px=16)


SQL_RASTERIZE = f"""
WITH {POINTS_CTE},
g AS (
  SELECT
    ((CAST(floor({MX_SQL} * 32768.0) AS BIGINT) % 32768 + 32768) % 32768)
        AS gx,
    GREATEST(CAST(0 AS BIGINT),
             LEAST(CAST(floor({MY_SQL} * 32768.0) AS BIGINT), 32767)) AS gy
  FROM pts
),
r AS (
  SELECT gx // 16 AS x, gy // 16 AS y, gx % 16 AS px, gy % 16 AS py,
         CAST(count(*) AS BIGINT) AS n_points
  FROM g GROUP BY 1, 2, 3, 4
)
SELECT CAST(11 AS INT) AS z, x, y, px, py, n_points,
  CAST(floor(((x * 16 + px) / 32768.0 * 360.0 - 180.0) * 1000000.0 + 0.5)
       AS BIGINT) AS lng_min_udeg,
  CAST(floor(((x * 16 + px + 1) / 32768.0 * 360.0 - 180.0) * 1000000.0 + 0.5)
       AS BIGINT) AS lng_max_udeg,
  CAST(floor((degrees(2.0 * atan(exp(radians(180.0 - 360.0 *
       ((y * 16 + py + 1) / 32768.0))))) - 90.0) * 1000000.0 + 0.5)
       AS BIGINT) AS lat_min_udeg,
  CAST(floor((degrees(2.0 * atan(exp(radians(180.0 - 360.0 *
       ((y * 16 + py) / 32768.0))))) - 90.0) * 1000000.0 + 0.5)
       AS BIGINT) AS lat_max_udeg
FROM r
"""


def q_raster_delta(spark, sf_dir):
    """Incremental raster maintenance (raster.apply_raster_delta): stored
    z=11 heatmap raster + snapshot delta (removed docs at old location,
    changed docs moved +25000 µdeg east, added docs at fresh ids) —
    proven LOSSLESS against the oracle's full re-rasterization of the
    new snapshot (linearity of the count aggregate)."""
    from ..operators import raster as ra

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    lng, lat = geo.point_udeg_cols(did)
    prev = ra.rasterize_points(docs.select(lng, lat), zoom=11, tile_px=16)
    removed = (docs.where((did % 17 == 0) | (did % 13 == 0))
               .select(lng, lat))
    lng_a, lat_a = geo.point_udeg_cols(did + 1000000)
    moved = (docs.where((did % 17 != 0) & (did % 13 == 0))
             .select((lng + 25000).alias("lng_udeg"), lat))
    added = (docs.where(did % 19 == 0).select(lng_a, lat_a))
    return ra.apply_raster_delta(prev, moved.unionAll(added), removed,
                                 zoom=11, tile_px=16)


def _raster_delta_sql() -> str:
    lng_o, lat_o = fx.point_udeg_sql("doc_id")
    lng_a, lat_a = fx.point_udeg_sql("(doc_id + 1000000)")
    return f"""
WITH np AS (
  SELECT CASE WHEN doc_id % 13 = 0 THEN {lng_o} + 25000 ELSE {lng_o} END
             AS lng_udeg,
         {lat_o} AS lat_udeg
  FROM documents WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT {lng_a}, {lat_a} FROM documents WHERE doc_id % 19 = 0),
g AS (
  SELECT
    ((CAST(floor({MX_SQL} * 32768.0) AS BIGINT) % 32768 + 32768) % 32768)
        AS gx,
    GREATEST(CAST(0 AS BIGINT),
             LEAST(CAST(floor({MY_SQL} * 32768.0) AS BIGINT), 32767)) AS gy
  FROM np)
SELECT CAST(11 AS INT) AS z, gx // 16 AS x, gy // 16 AS y,
       gx % 16 AS px, gy % 16 AS py, CAST(count(*) AS BIGINT) AS n_points
FROM g GROUP BY 1, 2, 3, 4, 5
"""


SQL_RASTER_DELTA = _raster_delta_sql()


def q_raster_pyramid(spark, sf_dir):
    """Raster pyramid rollup (raster.raster_downsample): rasterize ONCE
    at z=11 then derive z=9 by integer pixel floor-division + count sum.
    The oracle rasterizes the points DIRECTLY at z=9 — proving the
    downsample is exactly equivalent to re-rasterizing at the lower
    zoom (the floor/wrap/clamp commutation the docstring claims)."""
    from ..operators import raster as ra

    pts = _points_df(spark, sf_dir)
    r11 = ra.rasterize_points(pts, zoom=11, tile_px=16)
    return ra.raster_downsample(r11, levels=2, tile_px=16)


SQL_RASTER_PYRAMID = f"""
WITH {POINTS_CTE},
g AS (
  SELECT
    ((CAST(floor({MX_SQL} * 8192.0) AS BIGINT) % 8192 + 8192) % 8192) AS gx,
    GREATEST(CAST(0 AS BIGINT),
             LEAST(CAST(floor({MY_SQL} * 8192.0) AS BIGINT), 8191)) AS gy
  FROM pts)
SELECT CAST(9 AS INT) AS z, gx // 16 AS x, gy // 16 AS y,
       gx % 16 AS px, gy % 16 AS py, CAST(count(*) AS BIGINT) AS n_points
FROM g GROUP BY 1, 2, 3, 4, 5
"""


def q_hilbert_tile_id(spark, sf_dir):
    """G8: PMTiles Hilbert ids for the z12..15 tiles (Catalyst table fold)."""
    pts = _points_df(spark, sf_dir)
    return (ta.assign_point_tiles(pts, 12, 15, with_tile_id=True)
            .select("doc_id", "z", "x", "y", "tile_id"))


_TX12, _TY12 = _tile_xy_sql("z")
SQL_HILBERT = f"""
WITH RECURSIVE {POINTS_CTE},
zs AS (SELECT CAST(u.z AS INT) AS z FROM UNNEST(range(12, 16)) AS u(z)),
tiles AS (SELECT doc_id, z, {_TX12} AS x, {_TY12} AS y FROM pts, zs),
h AS (
  SELECT doc_id, z, x, y, z AS a,
         CAST(x AS BIGINT) AS tx, CAST(y AS BIGINT) AS ty,
         ((CAST(1 AS BIGINT) << (2*z)) - 1) // 3 AS acc
  FROM tiles
  UNION ALL
  SELECT doc_id, z, x, y, a - 1,
    CASE WHEN ((ty >> (a-1)) & 1) = 0 THEN
      CASE WHEN ((tx >> (a-1)) & 1) = 1
           THEN ((CAST(1 AS BIGINT) << (a-1)) - 1) - ty ELSE ty END
    ELSE tx END,
    CASE WHEN ((ty >> (a-1)) & 1) = 0 THEN
      CASE WHEN ((tx >> (a-1)) & 1) = 1
           THEN ((CAST(1 AS BIGINT) << (a-1)) - 1) - tx ELSE tx END
    ELSE ty END,
    acc + (CAST(1 AS BIGINT) << (a-1)) * (CAST(1 AS BIGINT) << (a-1))
        * xor(3 * ((tx >> (a-1)) & 1), (ty >> (a-1)) & 1)
  FROM h WHERE a > 0
)
SELECT doc_id, z, x, y, acc AS tile_id FROM h WHERE a = 0
"""


def q_spatial_join(spark, sf_dir):
    """Broadcast cell join + exact integer PIP refine (operators/spatial_join)."""
    pts = _points_df(spark, sf_dir)
    recs = fx.tessellation_records()
    out = sj.spatial_join_points(spark, pts, recs)
    return out.select("doc_id", "ward_code").orderBy("doc_id", "ward_code")


SQL_SPATIAL_JOIN = f"""
WITH {POINTS_CTE},
b(ward_code, x1, y1, x2, y2, x3, y3, x4, y4) AS (VALUES
    {fx.boundaries_sql_values()})
SELECT p.doc_id, b.ward_code
FROM pts p JOIN b ON {fx.PIP_CONVEX_SQL}
ORDER BY p.doc_id, b.ward_code
"""


def q_tile_agg(spark, sf_dir):
    """A2/A6: per-tile page counts at the index zoom (z12) + bbox µdeg agg."""
    pts = _points_df(spark, sf_dir)
    z = F.lit(12)
    mx = geo.mercator_mx(geo.udeg_to_deg(F.col("lng_udeg")))
    my = geo.mercator_my(geo.udeg_to_deg(F.col("lat_udeg")))
    return (pts.withColumn("x", geo.tile_x(z, mx))
            .withColumn("y", geo.tile_y(z, my))
            .groupBy("x", "y")
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 F.min("lng_udeg").alias("min_lng"),
                 F.max("lng_udeg").alias("max_lng"),
                 F.min("lat_udeg").alias("min_lat"),
                 F.max("lat_udeg").alias("max_lat")))


_TXC, _TYC = _tile_xy_sql("12")
SQL_TILE_AGG = f"""
WITH {POINTS_CTE}
SELECT {_TXC} AS x, {_TYC} AS y,
       CAST(count(*) AS BIGINT) AS n_pages,
       min(lng_udeg) AS min_lng, max(lng_udeg) AS max_lng,
       min(lat_udeg) AS min_lat, max(lat_udeg) AS max_lat
FROM pts GROUP BY 1, 2
"""


def q_tile_rollup(spark, sf_dir):
    """A4/G9: bottom-up tile-tree rollup z12 -> z7 (iterative parent agg —
    the implicit-quadtree aggregation of the 3D Tiles sink)."""
    pts = _points_df(spark, sf_dir)
    z = F.lit(12)
    mx = geo.mercator_mx(geo.udeg_to_deg(F.col("lng_udeg")))
    my = geo.mercator_my(geo.udeg_to_deg(F.col("lat_udeg")))
    level = (pts.withColumn("x", geo.tile_x(z, mx))
             .withColumn("y", geo.tile_y(z, my))
             .groupBy("x", "y")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_pages"))
             .withColumn("z", F.lit(12)))
    levels = [level.select("z", "x", "y", "n_pages")]
    for zz in range(11, 6, -1):
        prev = levels[-1]
        nxt = (prev.groupBy((F.floor(F.col("x") / 2)).cast("bigint").alias("x"),
                            (F.floor(F.col("y") / 2)).cast("bigint").alias("y"))
               .agg(F.sum("n_pages").alias("n_pages"))
               .withColumn("z", F.lit(zz))
               .select("z", "x", "y", "n_pages"))
        levels.append(nxt)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


SQL_TILE_ROLLUP = f"""
WITH RECURSIVE {POINTS_CTE},
l12 AS (
  SELECT 12 AS z, {_TXC} AS x, {_TYC} AS y, CAST(count(*) AS BIGINT) AS n_pages
  FROM pts GROUP BY 2, 3
),
up AS (
  SELECT * FROM l12
  UNION ALL
  SELECT z - 1 AS z, CAST(floor(x / 2.0) AS BIGINT) AS x,
         CAST(floor(y / 2.0) AS BIGINT) AS y, CAST(SUM(n_pages) AS BIGINT)
  FROM up WHERE z > 7 GROUP BY 1, 2, 3
)
SELECT z, x, y, n_pages FROM up
"""


def _msb_case_sql(v: str, maxbits: int = 11) -> str:
    """msb(v) per scheme.rs:6-8 as a CASE chain (v < 2^maxbits)."""
    cases = " ".join(
        f"WHEN {v} >= {1 << (b - 1)} THEN {b}"
        for b in range(maxbits, 0, -1))
    return f"(CASE {cases} ELSE 0 END)"


def q_tiles_3d_scheme(spark, sf_dir):
    """G5: the reference's non-square 3D-Tiles scheme at z=12 — pole-widened
    x_step, linear-latitude rows (scheme.rs:10-38); NumPy kernel in an Arrow
    UDF on the Spark side, integer CASE arithmetic in the oracle."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from ..kernels import tiling

    @pandas_udf(T.StructType([
        T.StructField("x3", T.LongType()), T.StructField("y3", T.LongType())]))
    def scheme_udf(lng_udeg, lat_udeg):
        import numpy as np
        _, x, y = tiling.zxy_from_lng_lat(
            12, lng_udeg.to_numpy(np.int64) / 1e6,
            lat_udeg.to_numpy(np.int64) / 1e6)
        return pd.DataFrame({"x3": x, "y3": y})

    pts = _points_df(spark, sf_dir)
    s = scheme_udf(F.col("lng_udeg"), F.col("lat_udeg"))
    return (pts.withColumn("_s", s)
            .select("doc_id", F.col("_s.x3").alias("x3"),
                    F.col("_s.y3").alias("y3")))


# z=12: x_size=4096, y_size=2048; x_step north: y < 512 uses msb(y), south
# uses msb(1024 - y - 1) (scheme.rs:10-22 with zz=4096)
_Y3 = "CAST(floor((90.0 - lat_udeg / 1000000.0) / 180.0 * 2048.0) AS BIGINT)"
_D_NORTH = _msb_case_sql("y3", 12)
_D_SOUTH = _msb_case_sql("(1024 - y3 - 1)", 12)
SQL_TILES_3D = f"""
WITH {POINTS_CTE},
yy AS (SELECT doc_id, lng_udeg, {_Y3} AS y3 FROM pts),
st AS (
  SELECT doc_id, lng_udeg, y3,
    GREATEST(CAST(1 AS BIGINT),
             4096 // (CAST(1 AS BIGINT) <<
               (CASE WHEN y3 < 1024 THEN {_D_NORTH} ELSE {_D_SOUTH} END))) // 4
      AS raw_step
  FROM yy
),
xs AS (
  SELECT doc_id, y3, GREATEST(raw_step, 1) AS xstep,
    CAST(floor((180.0 + lng_udeg / 1000000.0) / 360.0 * 4096.0) AS BIGINT) AS x0
  FROM st
)
SELECT doc_id, (x0 - x0 % xstep) AS x3, y3 FROM xs
"""


def q_geometric_error(spark, sf_dir):
    """G7: geometric_error over all valid (z, y) for z in 2..8 — quantized
    to 1e-3 (cos is the only transcendental; both engines read identical
    doubles)."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from ..kernels import tiling

    @pandas_udf(T.LongType())
    def err_udf(z, y):
        import numpy as np
        e = tiling.geometric_error(z.to_numpy(np.int64), y.to_numpy(np.int64))
        return pd.Series(np.floor(e * 1000.0 + 0.5).astype(np.int64))

    rows = (spark.range(2, 9).select(F.col("id").cast("int").alias("z"))
            .withColumn("y", F.explode(F.sequence(
                F.lit(0), F.pow(F.lit(2.0), F.col("z") - 1).cast("int") - 1)))
            .withColumn("y", F.col("y").cast("bigint")))
    return rows.select("z", "y", err_udf("z", "y").alias("err_milli"))


_GE_D_NORTH = _msb_case_sql("y", 12)
_GE_D_SOUTH = _msb_case_sql("(zz // 4 * 2 - y - 1)", 12)
SQL_GEOMETRIC_ERROR = """
WITH zs AS (SELECT CAST(u.z AS INT) AS z FROM UNNEST(range(2, 9)) AS u(z)),
rows_ AS (
  SELECT z, CAST(u.y AS BIGINT) AS y, CAST(1 AS BIGINT) << z AS zz
  FROM zs, UNNEST(range(0, 1 << 20)) AS u(y)
  WHERE u.y < (1 << (z - 1))
),
st AS (
  SELECT z, y, zz,
    GREATEST(GREATEST(CAST(1 AS BIGINT),
      zz // (CAST(1 AS BIGINT) <<
        (CASE WHEN y < zz // 4 THEN {DN} ELSE {DS} END))) // 4,
      1) AS xstep
  FROM rows_
),
er AS (
  SELECT z, y,
    525957.5361033019 / CAST(CAST(1 AS BIGINT) << (z - 2) AS DOUBLE) AS e1,
    cos((1.0 - (CAST(y AS DOUBLE) + 0.5) * 4.0 / CAST(zz AS DOUBLE))
        * pi() / 2.0) * CAST(xstep AS DOUBLE) AS c
  FROM st
)
SELECT z, y, CAST(floor(GREATEST(e1, c * e1) * 1000.0 + 0.5) AS BIGINT)
       AS err_milli
FROM er
""".format(DN=_GE_D_NORTH, DS=_GE_D_SOUTH)


# ---------------------------------------------------------------------------
# relational / analytic queries (core operator coverage)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """TPC-H-Q1-style agg: filters, partial/final hash agg, quantized sums."""
    li = _t(spark, sf_dir, "lineitem")
    disc_e4 = F.floor(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
                      * F.lit(10000.0) + F.lit(0.5)).cast("bigint")
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
                 F.sum(_cents("l_extendedprice")).alias("sum_base_cents"),
                 F.sum(disc_e4).alias("sum_disc_e4"),
                 F.count(F.lit(1)).alias("count_order")))


SQL_PRICING = f"""
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
  CAST(SUM({_cents_sql('l_extendedprice')}) AS BIGINT) AS sum_base_cents,
  CAST(SUM({_cents_sql('l_extendedprice * (1.0 - l_discount)', 10000)}) AS BIGINT)
    AS sum_disc_e4,
  CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark, sf_dir):
    """3-way broadcast-able join + agg (J1-3 analog at relational level)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev_e4 = F.floor(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
                     * F.lit(10000.0) + F.lit(0.5)).cast("bigint")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(F.sum(rev_e4).alias("revenue_e4"),
                 F.count(F.lit(1)).alias("n_items")))


SQL_REVENUE_NATION = f"""
SELECT n_name,
  CAST(SUM({_cents_sql('l_extendedprice * (1.0 - l_discount)', 10000)}) AS BIGINT)
    AS revenue_e4,
  CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_window_top_orders(spark, sf_dir):
    """Window top-k: top-3 orders per customer by totalprice (O2-analog)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (o.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 3)
            .select("o_custkey", "o_orderkey", "rank", "o_totalprice"))


SQL_WINDOW_TOP = """
SELECT o_custkey, o_orderkey, rank, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(row_number() OVER (PARTITION BY o_custkey
              ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rank
  FROM orders
) WHERE rank <= 3
"""


def q_topk_parts(spark, sf_dir):
    """Global top-100 by price (sort + limit; O1-analog external sort)."""
    p = _t(spark, sf_dir, "part")
    return (p.orderBy(F.col("p_retailprice").desc(), F.col("p_partkey").asc())
            .limit(100)
            .select("p_partkey", "p_name", "p_retailprice"))


SQL_TOPK_PARTS = """
SELECT p_partkey, p_name, p_retailprice FROM part
ORDER BY p_retailprice DESC, p_partkey ASC LIMIT 100
"""


def q_semi_anti(spark, sf_dir):
    """Left-semi + left-anti joins: customers with orders but no 'R' returns."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    returned_orders = li.where(F.col("l_returnflag") == "R").select("l_orderkey")
    cust_with_ret = (o.join(returned_orders, o.o_orderkey == returned_orders.l_orderkey,
                            "left_semi").select("o_custkey"))
    return (c.join(o.select("o_custkey").distinct(),
                   c.c_custkey == F.col("o_custkey"), "left_semi")
            .join(cust_with_ret.distinct(), c.c_custkey == cust_with_ret.o_custkey,
                  "left_anti")
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_customers")))


SQL_SEMI_ANTI = """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
  AND NOT EXISTS (
    SELECT 1 FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_custkey = c_custkey AND l.l_returnflag = 'R')
GROUP BY c_mktsegment
"""


def q_rollup_flags(spark, sf_dir):
    """ROLLUP grouping sets (A4 is the spatial analog; this is the columnar
    one)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty")))


SQL_ROLLUP = """
SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


def q_events_sessionize(spark, sf_dir):
    """Sessionization via lag + cumulative sum (streaming-analog in batch;
    SURVEY §2.8 — the reference is batch-only, our streaming variant lives in
    streaming/)."""
    e = _t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp"))  # NTZ -> LTZ (UTC session)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    newsess = F.when(gap.isNull() | (gap > 1800 * 1000000), 1).otherwise(0)
    return (e.withColumn("new_session", newsess)
            .groupBy("user_id")
            .agg(F.sum("new_session").cast("bigint").alias("n_sessions"),
                 F.count(F.lit(1)).alias("n_events")))


SQL_SESSIONIZE = """
SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
       CAST(count(*) AS BIGINT) AS n_events
FROM (
  SELECT user_id,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
GROUP BY user_id
"""


def q_events_windowed(spark, sf_dir):
    """Tumbling 1-hour windowed aggregation per event_type (the batch
    equivalent of the Structured Streaming window agg)."""
    e = _t(spark, sf_dir, "events")
    return (e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"),
                      F.col("event_type"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(_cents("value")).alias("sum_value_cents")))


SQL_EVENTS_WINDOWED = f"""
SELECT date_trunc('hour', ts) AS hour, event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM({_cents_sql('value')}) AS BIGINT) AS sum_value_cents
FROM events GROUP BY 1, 2
"""


def q_lod_filter_chain(spark, sf_dir):
    """The pure-Catalyst transformer chain T2+T5 (operators/
    transforms_catalyst.mvt_requirements_chain: geometry stats +
    highest-LOD filter, reference transform/geomstats.rs + lods.rs) over
    flat features synthesized from doc_id: each doc gets one geometry
    per set bit of (doc_id % 31) and three vertices with integer z.
    Features with an empty LOD mask are DROPPED (lods.rs:30-74); the
    survivors keep exactly the highest available LOD. The oracle
    recomputes the bit math and min/max heights directly — it never
    models the arrays, so it is an independent formulation."""
    from ..operators import transforms_catalyst as tc

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    mask = (did % 31).cast("int")
    geoms = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.lit(4)),
            lambda b: F.struct(
                F.lit("Surface").alias("type"),
                b.cast("int").alias("lod"),
                b.cast("bigint").alias("pos"),
                F.lit(1).cast("bigint").alias("len"))),
        lambda g: (F.pow(F.lit(2.0), g["lod"].cast("double")).cast("int")
                   .bitwiseAND(mask)) != 0)
    verts = F.array(
        F.array(F.lit(0.0), F.lit(0.0), (did % 7).cast("double")),
        F.array(F.lit(1.0), F.lit(1.0), (did % 13).cast("double")),
        F.array(F.lit(2.0), F.lit(2.0), (did % 17).cast("double")))
    feats = docs.select("doc_id", geoms.alias("geometries"),
                        verts.alias("vertices"))
    out = tc.mvt_requirements_chain(feats, lod_mode="highest")
    return out.select(
        "doc_id",
        F.col("maxHeight").cast("bigint").alias("max_h"),
        F.col("minHeight").cast("bigint").alias("min_h"),
        F.element_at(F.col("geometries"), 1)["lod"].cast("bigint")
        .alias("target_lod"),
        F.size("geometries").cast("bigint").alias("n_kept"))


SQL_LOD_FILTER_CHAIN = """
SELECT doc_id,
  CAST(greatest(doc_id % 7, doc_id % 13, doc_id % 17) AS BIGINT) AS max_h,
  CAST(least(doc_id % 7, doc_id % 13, doc_id % 17) AS BIGINT) AS min_h,
  CAST(CASE WHEN m >= 16 THEN 4 WHEN m >= 8 THEN 3 WHEN m >= 4 THEN 2
            WHEN m >= 2 THEN 1 ELSE 0 END AS BIGINT) AS target_lod,
  CAST(1 AS BIGINT) AS n_kept
FROM (SELECT doc_id, doc_id % 31 AS m FROM documents)
WHERE m <> 0
"""


def q_skew_salted_agg(spark, sf_dir):
    """Salted two-phase aggregation (operators/skew.salted_aggregate):
    partial agg on (lang, hash(doc_id)%16), final merge on lang. The
    oracle is the PLAIN group-by — salting must be result-invariant for
    mergeable aggregates, and this gate proves it on every run."""
    from ..operators import skew

    docs = _t(spark, sf_dir, "documents")
    out = skew.salted_aggregate(
        docs, ["lang"],
        {"n_docs": ("count", "doc_id"),
         "sum_chars": ("sum", "n_chars"),
         "min_doc": ("min", "doc_id"),
         "max_doc": ("max", "doc_id")},
        salt_col="doc_id", buckets=16)
    return out.select(
        "lang", F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("sum_chars").cast("bigint").alias("sum_chars"),
        F.col("min_doc").cast("bigint").alias("min_doc"),
        F.col("max_doc").cast("bigint").alias("max_doc"))


SQL_SKEW_SALTED_AGG = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(min(doc_id) AS BIGINT) AS min_doc,
       CAST(max(doc_id) AS BIGINT) AS max_doc
FROM documents GROUP BY lang
"""


def q_adaptive_cell_split(spark, sf_dir):
    """Adaptive cell split (operators/skew.adaptive_cell_split): cells
    holding more than 30 points at z12 re-assign their points to z13
    children; still-hot z13 cells re-split to z14 (max_extra_levels=2).
    The oracle unrolls the two levels with the same mercator/tile SQL
    the tile gates use."""
    from ..operators import skew

    pts = _points_df(spark, sf_dir)
    out = skew.adaptive_cell_split(pts, base_zoom=12,
                                   max_rows_per_cell=30,
                                   max_extra_levels=2)
    return out.select(
        "doc_id", F.col("cell_z").cast("bigint").alias("cell_z"),
        F.col("cell_x").cast("bigint").alias("cell_x"),
        F.col("cell_y").cast("bigint").alias("cell_y"))


_X12, _Y12 = _tile_xy_sql("12.0")
_X13, _Y13 = _tile_xy_sql("13.0")
_X14, _Y14 = _tile_xy_sql("14.0")

SQL_ADAPTIVE_CELL_SPLIT = f"""
WITH {POINTS_CTE},
l0 AS (
  SELECT doc_id, lng_udeg, lat_udeg,
         CAST(12 AS BIGINT) AS z, {_X12} AS x, {_Y12} AS y
  FROM pts
),
c0 AS (SELECT x, y, count(*) AS n FROM l0 GROUP BY x, y),
l1 AS (
  SELECT l0.doc_id, l0.lng_udeg, l0.lat_udeg,
    CASE WHEN c0.n > 30 THEN CAST(13 AS BIGINT) ELSE l0.z END AS z,
    CASE WHEN c0.n > 30 THEN {_X13} ELSE l0.x END AS x,
    CASE WHEN c0.n > 30 THEN {_Y13} ELSE l0.y END AS y
  FROM l0 JOIN c0 ON l0.x = c0.x AND l0.y = c0.y
),
c1 AS (SELECT x, y, count(*) AS n FROM l1 WHERE z = 13 GROUP BY x, y),
l2 AS (
  SELECT l1.doc_id,
    CASE WHEN l1.z = 13 AND c1.n > 30 THEN CAST(14 AS BIGINT)
         ELSE l1.z END AS cell_z,
    CASE WHEN l1.z = 13 AND c1.n > 30 THEN {_X14} ELSE l1.x END AS cell_x,
    CASE WHEN l1.z = 13 AND c1.n > 30 THEN {_Y14} ELSE l1.y END AS cell_y
  FROM l1 LEFT JOIN c1 ON l1.z = 13 AND l1.x = c1.x AND l1.y = c1.y
)
SELECT doc_id, cell_z, cell_x, cell_y FROM l2
"""


_STREAM_GATE_SEQ = [0]


def q_stream_first_seen(spark, sf_dir):
    """The REAL Structured Streaming stateful dedup
    (streaming/pipeline.py streaming_dedup_first_seen,
    applyInPandasWithState) driven as a gate query (VERDICT r3 #6): a
    file-source stream over the documents parquet, availableNow trigger
    (single micro-batch -> deterministic), memory sink, then the sink
    table is returned as a batch DataFrame. The operator emits each
    fingerprint's first occurrence with a deterministic min-url
    representative, so single-batch output is first-seen-by-min-url —
    exactly expressible in SQL."""
    import tempfile

    from ..streaming import pipeline as sp

    static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # the file stream source wants a directory; glob-filter to the one table
    stream = (spark.readStream.schema(static.schema)
              .option("pathGlobFilter", "documents.parquet")
              .parquet(sf_dir))
    pages = stream.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit("/p/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.concat(F.lit("D"), (F.col("doc_id") % 97).cast("string"))
        .alias("text"))
    out = sp.streaming_dedup_first_seen(pages)
    _STREAM_GATE_SEQ[0] += 1
    qname = f"stream_first_seen_gate_{_STREAM_GATE_SEQ[0]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_first_seen_")
    q = (out.writeStream.format("memory").queryName(qname)
         .outputMode("append").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.sql(
        f"SELECT fingerprint, url, n_dups_so_far FROM {qname}")


SQL_STREAM_FIRST_SEEN = """
WITH pages AS (
  SELECT 'https://' || source || '/p/' || CAST(doc_id AS VARCHAR) AS url,
         md5('D' || CAST(doc_id % 97 AS VARCHAR)) AS fingerprint
  FROM documents
)
SELECT fingerprint, min(url) AS url,
       CAST(count(*) AS BIGINT) AS n_dups_so_far
FROM pages GROUP BY fingerprint
"""


def q_stream_dirty_tiles(spark, sf_dir):
    """Streaming dirty tiles (streaming_dirty_tiles,
    applyInPandasWithState keyed on the tile): a file-source stream of
    page updates (every third doc) explodes to z12 tiles and each tile
    is emitted the FIRST time it goes dirty with that batch's update
    count — state bounded by the pyramid, not the stream.  availableNow
    single batch -> deterministic -> the oracle is the distinct-tile
    GROUP BY with the same wrap/clamp tile math."""
    import tempfile

    from ..streaming import pipeline as sp

    static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stream = (spark.readStream.schema(static.schema)
              .option("pathGlobFilter", "documents.parquet")
              .parquet(sf_dir))
    lng, lat = geo.point_udeg_cols(F.col("doc_id"))
    updates = (stream.where(F.col("doc_id") % 3 == 0)
               .select("doc_id", lng, lat))
    out = sp.streaming_dirty_tiles(updates, zoom=12)
    _STREAM_GATE_SEQ[0] += 1
    qname = f"stream_dirty_tiles_gate_{_STREAM_GATE_SEQ[0]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_dirty_tiles_")
    q = (out.writeStream.format("memory").queryName(qname)
         .outputMode("append").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.sql(f"SELECT z, x, y, n_updates FROM {qname}")


_SDT_TX, _SDT_TY = _tile_xy_sql("12")
SQL_STREAM_DIRTY_TILES = f"""
WITH pts AS (
  SELECT doc_id, {_POINTS_SQL_LNG} AS lng_udeg, {_POINTS_SQL_LAT} AS lat_udeg
  FROM documents WHERE doc_id % 3 = 0
)
SELECT CAST(12 AS INT) AS z, {_SDT_TX} AS x, {_SDT_TY} AS y,
       CAST(count(*) AS BIGINT) AS n_updates
FROM pts GROUP BY 2, 3
"""


def q_events_json(spark, sf_dir):
    """Semi-structured: JSON field extraction + agg (map/json functions)."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (e.withColumn("k", k)
            .groupBy("event_type")
            .agg(F.sum("k").alias("sum_k"),
                 F.count(F.lit(1)).alias("n")))


SQL_EVENTS_JSON = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# text-analysis / dedup / similarity queries (documents, embeddings)
# ---------------------------------------------------------------------------

def q_codelist_resolve(spark, sf_dir):
    """S2/J2: codelist code→value resolution as a broadcast hash join (the
    reference resolves PLATEAU XML codelists at parse time,
    nusamai-plateau/src/codelist/xml.rs; here: nationkey → name dimension)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy(F.col("n_name").alias("nation"),
                     F.col("r_name").alias("region"))
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum(_cents("c_acctbal")).alias("acctbal_cents")))


SQL_CODELIST = f"""
SELECT n_name AS nation, r_name AS region,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(SUM({_cents_sql('c_acctbal')}) AS BIGINT) AS acctbal_cents
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1, 2
"""


def q_text_features(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = tx.quality_score(docs)
    return out.select(
        "doc_id", "n_tokens", "n_alpha", "n_digit", "n_punct",
        F.floor(F.col("punct_ratio") * 1000000 + F.lit(0.5)).cast("bigint")
        .alias("punct_ratio_e6"),
        F.floor(F.col("quality") * 100 + F.lit(0.5)).cast("bigint")
        .alias("quality_e2"))


SQL_TEXT_FEATURES = """
WITH f AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS ln,
    CAST(len(list_filter(string_split_regex(trim(text), '[^A-Za-z0-9_]+'),
        x -> x <> '')) AS BIGINT) AS n_tokens,
    CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS n_punct
  FROM documents
),
r AS (
  SELECT *,
    CASE WHEN ln > 0 THEN CAST(n_punct AS DOUBLE) / CAST(ln AS DOUBLE) ELSE 0.0 END AS punct_ratio,
    CASE WHEN n_tokens > 0 THEN CAST(n_alpha AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS mean_tok
  FROM f
)
SELECT doc_id, n_tokens, n_alpha, n_digit, n_punct,
  CAST(floor(punct_ratio * 1000000 + 0.5) AS BIGINT) AS punct_ratio_e6,
  CAST(floor(((CASE WHEN ln >= 200 AND ln <= 20000 THEN 0.4 ELSE 0.0 END)
   + (CASE WHEN punct_ratio <= 0.1 THEN 0.3 ELSE 0.0 END)
   + (CASE WHEN mean_tok >= 3.0 AND mean_tok <= 12.0 THEN 0.3 ELSE 0.0 END))
   * 100 + 0.5) AS BIGINT) AS quality_e2
FROM r
"""


def q_dedup_exact(spark, sf_dir):
    """Exact-dup fingerprint histogram (works even when all docs unique)."""
    docs = _t(spark, sf_dir, "documents")
    return (docs.select(F.md5(F.col("text")).alias("fingerprint"), "doc_id")
            .groupBy("fingerprint")
            .agg(F.count(F.lit(1)).alias("group_size"),
                 F.min("doc_id").alias("canonical_id")))


SQL_DEDUP_EXACT = """
SELECT md5(text) AS fingerprint, CAST(count(*) AS BIGINT) AS group_size,
       min(doc_id) AS canonical_id
FROM documents GROUP BY 1
"""


NGRAM_MAX_DF = 20


def q_dedup_ngram_jaccard(spark, sf_dir):
    """3-gram Jaccard near-dup pairs at τ=0.5 with the web-scale shingle
    frequency cap (df <= NGRAM_MAX_DF; exact Jaccard over the capped
    shingle sets — the oracle applies the identical cap)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(docs, n=3, threshold=0.5,
                                   max_df=NGRAM_MAX_DF)
    return (pairs.withColumn("n_union_x_j",
                             F.floor(F.col("jaccard") * 1000000 + F.lit(0.5))
                             .cast("bigint"))
            .select("doc_a", "doc_b", F.col("n_union_x_j").alias("jaccard_e6")))


SQL_NGRAM_JACCARD = f"""
WITH {SHINGLES_CTE},
shc AS (
  SELECT sh.doc_id, sh.shingle FROM sh
  JOIN (SELECT shingle FROM sh GROUP BY shingle
        HAVING count(*) <= {NGRAM_MAX_DF}) keep USING (shingle)
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shc GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS ni
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
  CAST(floor(CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) * 1000000
       + 0.5) AS BIGINT) AS jaccard_e6
FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) >= 0.5
"""


def q_jaccard_prefix_filter(spark, sf_dir):
    """EXACT similarity join via prefix filtering (PPJoin/AllPairs family)
    at τ=0.5 — NO df cap, true shingle sets. The oracle is the naive
    brute-force any-shared-shingle join, so the gate proves the prefix
    candidate generation (rarest-first canonical order, |x|-ceil(τ|x|)+1
    prefix, length filter) is lossless end-to-end."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dd.prefix_filter_jaccard_pairs(docs, n=3, threshold=0.5)
    return pairs.select(
        "doc_a", "doc_b",
        F.floor(F.col("jaccard") * 1000000 + F.lit(0.5)).cast("bigint")
        .alias("jaccard_e6"))


SQL_JACCARD_PREFIX = f"""
WITH {SHINGLES_CTE},
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS ni
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
  CAST(floor(CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) * 1000000
       + 0.5) AS BIGINT) AS jaccard_e6
FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) >= 0.5
"""


def q_minhash_signatures(spark, sf_dir):
    """MinHash signatures (16 hashes over 3-gram shingles) — flat columns."""
    docs = _t(spark, sf_dir, "documents")
    sig = dd.minhash_signatures(docs, num_hashes=16, n=3)
    return sig.select("doc_id", *[F.col("sig")[i].alias(f"mh{i}")
                                  for i in range(16)])


def _minhash_sql() -> str:
    p = (1 << 31) - 1
    cols = []
    for i in range(16):
        a = 2 * i + 1
        b = 104729 * (i + 1)
        cols.append(
            f"min((h % {p} * {a} + {b}) % {p}) AS mh{i}")
    return f"""
WITH {SHINGLES_CTE},
hs AS (SELECT doc_id, {_hex60_sql('shingle')} AS h FROM sh)
SELECT doc_id, {', '.join(cols)} FROM hs GROUP BY doc_id
"""


SQL_MINHASH = _minhash_sql()


def q_simhash(spark, sf_dir):
    """60-bit simhash per document (Charikar sketch, stable md5-based bits)."""
    docs = _t(spark, sf_dir, "documents")
    return dd.simhash(docs, bits=60)


def _simhash_sql(bits: int = 60) -> str:
    sums = ", ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits))
    comb = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST(1 AS BIGINT) << {i} ELSE CAST(0 AS BIGINT) END)"
        for i in range(bits))
    return f"""
WITH toks AS (
  SELECT doc_id, lower(u.tok) AS tok
  FROM (SELECT doc_id,
          list_filter(string_split_regex(text, '[^A-Za-z0-9_]+'),
                      x -> x <> '') AS t
        FROM documents), UNNEST(t) AS u(tok)
),
hs AS (SELECT doc_id, {_hex60_sql('tok')} AS h FROM toks),
agg AS (SELECT doc_id, {sums} FROM hs GROUP BY doc_id)
SELECT doc_id, {comb} AS simhash FROM agg
"""


SQL_SIMHASH = _simhash_sql()


def q_embedding_topk(spark, sf_dir):
    """Brute-force cosine top-5 for every 50th vector (integer-quantized dot
    products so cross-engine float-sum order is irrelevant)."""
    emb = _t(spark, sf_dir, "embeddings")
    qe = F.transform(F.col("embedding"),
                     lambda e: F.floor(e.cast("double") * 10000 + F.lit(0.5))
                     .cast("bigint"))
    base = emb.select("vec_id", qe.alias("qe"))
    queries = (base.where(F.col("vec_id") % 50 == 0)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("qe").alias("q")))
    dot = F.aggregate(F.zip_with(F.col("q"), F.col("qe"), lambda x, y: x * y),
                      F.lit(0).cast("bigint"), lambda acc, v: acc + v)
    na = F.aggregate(F.col("q"), F.lit(0).cast("bigint"),
                     lambda acc, v: acc + v * v)
    nb = F.aggregate(F.col("qe"), F.lit(0).cast("bigint"),
                     lambda acc, v: acc + v * v)
    cand = (base.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
            .withColumn("dot", dot).withColumn("na", na).withColumn("nb", nb)
            .withColumn("cos", F.col("dot") /
                        (F.sqrt(F.col("na")) * F.sqrt(F.col("nb")))))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 5)
            .select("query_id", "vec_id", "rank",
                    F.floor(F.col("cos") * 1000000 + F.lit(0.5)).cast("bigint")
                    .alias("cos_e6")))


SQL_EMB_TOPK = """
WITH q AS (
  SELECT vec_id,
    list_transform(embedding,
      e -> CAST(floor(CAST(e AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qe
  FROM embeddings
),
cand AS (
  SELECT b.vec_id AS query_id, a.vec_id AS vec_id,
    CAST(list_sum(list_transform(range(1, 65), i -> a.qe[i] * b.qe[i])) AS BIGINT) AS dot,
    CAST(list_sum(list_transform(range(1, 65), i -> a.qe[i] * a.qe[i])) AS BIGINT) AS nb,
    CAST(list_sum(list_transform(range(1, 65), i -> b.qe[i] * b.qe[i])) AS BIGINT) AS na
  FROM q a, q b
  WHERE b.vec_id % 50 = 0 AND a.vec_id <> b.vec_id
),
r AS (
  SELECT query_id, vec_id,
    CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cos,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY
      CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) DESC,
      vec_id ASC) AS INT) AS rank
  FROM cand
)
SELECT query_id, vec_id, rank,
       CAST(floor(cos * 1000000 + 0.5) AS BIGINT) AS cos_e6
FROM r WHERE rank <= 5
"""


def q_embedding_near_dup(spark, sf_dir):
    """Embedding near-dup pairs: quantized cosine >= 0.35 over all pairs
    (exact; the LSH-blocked variant is operators/similarity.near_dup_pairs)."""
    emb = _t(spark, sf_dir, "embeddings")
    qe = F.transform(F.col("embedding"),
                     lambda e: F.floor(e.cast("double") * 10000 + F.lit(0.5))
                     .cast("bigint"))
    base = emb.select("vec_id", qe.alias("qe"))
    a = base.select(F.col("vec_id").alias("vec_a"), F.col("qe").alias("ea"))
    b = base.select(F.col("vec_id").alias("vec_b"), F.col("qe").alias("eb"))
    dot = F.aggregate(F.zip_with(F.col("ea"), F.col("eb"), lambda x, y: x * y),
                      F.lit(0).cast("bigint"), lambda acc, v: acc + v)
    na = F.aggregate(F.col("ea"), F.lit(0).cast("bigint"),
                     lambda acc, v: acc + v * v)
    nb = F.aggregate(F.col("eb"), F.lit(0).cast("bigint"),
                     lambda acc, v: acc + v * v)
    pairs = (a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
             .withColumn("cos", dot / (F.sqrt(na) * F.sqrt(nb)))
             .where(F.col("cos") >= 0.35))
    return pairs.select(
        "vec_a", "vec_b",
        F.floor(F.col("cos") * 1000000 + F.lit(0.5)).cast("bigint")
        .alias("cos_e6"))


SQL_EMB_NEAR_DUP = """
WITH q AS (
  SELECT vec_id,
    list_transform(embedding,
      e -> CAST(floor(CAST(e AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qe
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
    CAST(list_sum(list_transform(range(1, 65), i -> a.qe[i] * b.qe[i])) AS BIGINT) AS dot,
    CAST(list_sum(list_transform(range(1, 65), i -> a.qe[i] * a.qe[i])) AS BIGINT) AS na,
    CAST(list_sum(list_transform(range(1, 65), i -> b.qe[i] * b.qe[i])) AS BIGINT) AS nb
  FROM q a, q b WHERE a.vec_id < b.vec_id
)
SELECT vec_a, vec_b,
  CAST(floor(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
       * 1000000 + 0.5) AS BIGINT) AS cos_e6
FROM pairs
WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) >= 0.35
"""


def q_lang_quality_filter(spark, sf_dir):
    """Pipeline-style filter: per (source, lang) counts of docs passing the
    quality gate (the 'keep' set of a training-data curation run)."""
    docs = _t(spark, sf_dir, "documents")
    out = tx.quality_score(docs)
    return (out.where((F.col("quality") >= 0.69) & (F.col("n_tokens") >= 20))
            .groupBy("source", "lang")
            .agg(F.count(F.lit(1)).alias("n_kept")))


SQL_LANG_QUALITY = """
WITH f AS (
  SELECT source, lang, CAST(length(text) AS BIGINT) AS ln,
    CAST(len(list_filter(string_split_regex(trim(text), '[^A-Za-z0-9_]+'),
        x -> x <> '')) AS BIGINT) AS n_tokens,
    CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS n_punct
  FROM documents
),
r AS (
  SELECT source, lang, n_tokens,
    (CASE WHEN ln >= 200 AND ln <= 20000 THEN 0.4 ELSE 0.0 END)
    + (CASE WHEN (CASE WHEN ln > 0 THEN CAST(n_punct AS DOUBLE)/CAST(ln AS DOUBLE) ELSE 0.0 END) <= 0.1 THEN 0.3 ELSE 0.0 END)
    + (CASE WHEN (CASE WHEN n_tokens > 0 THEN CAST(n_alpha AS DOUBLE)/CAST(n_tokens AS DOUBLE) ELSE 0.0 END) BETWEEN 3.0 AND 12.0 THEN 0.3 ELSE 0.0 END)
    AS quality
  FROM f
)
SELECT source, lang, CAST(count(*) AS BIGINT) AS n_kept
FROM r WHERE quality >= 0.69 AND n_tokens >= 20
GROUP BY source, lang
"""


def q_knn(spark, sf_dir):
    """kNN via tile ring expansion (operators/knn.py): every 25th doc-point
    queries its 3 nearest neighbor points (haversine, deterministic
    vec-id tie-break). Distances reported in integer millimeters."""
    from ..operators import knn as knn_op

    pts = _points_df(spark, sf_dir).select(
        F.col("doc_id").alias("point_id"), "lng_udeg", "lat_udeg")
    queries = (pts.where(F.col("point_id") % 25 == 0)
               .select(F.col("point_id").alias("query_id"),
                       "lng_udeg", "lat_udeg"))
    out = knn_op.knn_ring_expansion(spark, pts,
                                    queries.where(F.col("query_id") >= 0),
                                    k=3)
    # a query point is itself in the point set at distance 0 (rank 1)
    return out.select(
        "query_id", "point_id", "rank",
        F.floor(F.col("dist_m") * 1000 + F.lit(0.5)).cast("bigint")
        .alias("dist_mm"))


# haversine in shared SQL form — same op order as operators/knn._haversine_m
_HAV = ("2.0 * 6371000.0 * asin(sqrt("
        "sin(radians(p.lat_udeg/1000000.0 - q.lat_udeg/1000000.0) / 2)"
        " * sin(radians(p.lat_udeg/1000000.0 - q.lat_udeg/1000000.0) / 2)"
        " + cos(radians(q.lat_udeg/1000000.0)) * cos(radians(p.lat_udeg/1000000.0))"
        " * sin(radians(p.lng_udeg/1000000.0 - q.lng_udeg/1000000.0) / 2)"
        " * sin(radians(p.lng_udeg/1000000.0 - q.lng_udeg/1000000.0) / 2)))")

SQL_KNN = f"""
WITH {POINTS_CTE},
p AS (SELECT doc_id AS point_id, lng_udeg, lat_udeg FROM pts),
q AS (SELECT doc_id AS query_id, lng_udeg, lat_udeg FROM pts
      WHERE doc_id % 25 = 0),
d AS (
  SELECT q.query_id, p.point_id, {_HAV} AS dist_m
  FROM q, p
),
r AS (
  SELECT query_id, point_id, dist_m,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY dist_m ASC, point_id ASC) AS INT) AS rank
  FROM d
)
SELECT query_id, point_id, rank,
       CAST(floor(dist_m * 1000 + 0.5) AS BIGINT) AS dist_mm
FROM r WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# probabilistic-blocking queries — deterministic (md5 / integer-sign LSH), so
# each carries a full SQL oracle replicating the exact blocking + verify
# ---------------------------------------------------------------------------

def q_multimodal_meta(spark, sf_dir):
    """Multimodal binary plumbing (operators/multimodal.py): build an html
    binary column from the derived pages and extract typed metadata via the
    Arrow-batched sniffing UDF. Oracle-checkable: the metadata (magic-prefix
    type, byte length, 8-byte header hex) is pure byte math."""
    from ..operators import multimodal as mm

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit("/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.encode(F.concat(F.lit("<html><body>"), F.col("text"),
                          F.lit("</body></html>")), "utf-8").alias("html"))
    return mm.media_metadata(pages)


SQL_MULTIMODAL_META = """
WITH pages AS (
  SELECT concat('https://', source, '/doc/', CAST(doc_id AS VARCHAR)) AS url,
         encode('<html><body>' || text || '</body></html>') AS blob
  FROM documents
)
SELECT url, 'text/html' AS media_type,
       CAST(octet_length(blob) AS BIGINT) AS n_bytes,
       lower(substring(hex(blob), 1, 16)) AS header_hex
FROM pages
"""


def q_minhash_lsh_verified(spark, sf_dir):
    """MinHash-LSH candidates → exact-Jaccard verification (the production
    dedup path). Blocking is md5-derived and deterministic, so the oracle
    replicates the banded buckets + verify exactly."""
    docs = _t(spark, sf_dir, "documents")
    out = dd.minhash_dedup_pairs(docs, threshold=0.5)
    return out.select("doc_a", "doc_b",
                      F.floor(F.col("jaccard") * 1000000 + F.lit(0.5))
                      .cast("bigint").alias("jaccard_e6"))


def _minhash_lsh_sql(num_hashes: int = 16, bands: int = 4) -> str:
    """DuckDB replica of dedup.minhash_dedup_pairs: signatures -> banded md5
    bucket keys -> distinct candidate pairs -> exact Jaccard verify."""
    p = (1 << 31) - 1
    rows_per_band = num_hashes // bands
    cols = []
    for i in range(num_hashes):
        a = 2 * i + 1
        b = 104729 * (i + 1)
        cols.append(f"min((h % {p} * {a} + {b}) % {p}) AS mh{i}")
    band_selects = []
    for bi in range(bands):
        parts = ", ".join(f"mh{i}" for i in range(bi * rows_per_band,
                                                  (bi + 1) * rows_per_band))
        band_selects.append(
            f"SELECT doc_id, {bi} AS band, md5(concat_ws('_', {parts})) AS key"
            " FROM sig")
    return f"""
WITH {SHINGLES_CTE},
hs AS (SELECT doc_id, {_hex60_sql('shingle')} AS h FROM sh),
sig AS (SELECT doc_id, {', '.join(cols)} FROM hs GROUP BY doc_id),
bk AS ({' UNION ALL '.join(band_selects)}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
                     AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS ni
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
  CAST(floor(CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) * 1000000
       + 0.5) AS BIGINT) AS jaccard_e6
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) >= 0.5
"""


SQL_MINHASH_LSH = _minhash_lsh_sql()


def q_simhash_near(spark, sf_dir):
    """Simhash near-dup pairs at hamming <= 3 via (d+1)-band blocking —
    recall is exactly 1 by the Manku pigeonhole, so the all-pairs SQL oracle
    must agree exactly."""
    docs = _t(spark, sf_dir, "documents")
    return dd.simhash_near_pairs(docs, max_hamming=3)


def _simhash_near_sql(max_hamming: int = 3, bits: int = 60) -> str:
    sums = ", ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits))
    comb = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST(1 AS BIGINT) << {i} ELSE CAST(0 AS BIGINT) END)"
        for i in range(bits))
    return f"""
WITH toks AS (
  SELECT doc_id, lower(u.tok) AS tok
  FROM (SELECT doc_id,
          list_filter(string_split_regex(text, '[^A-Za-z0-9_]+'),
                      x -> x <> '') AS t
        FROM documents), UNNEST(t) AS u(tok)
),
hs AS (SELECT doc_id, {_hex60_sql('tok')} AS h FROM toks),
agg AS (SELECT doc_id, {sums} FROM hs GROUP BY doc_id),
s AS (SELECT doc_id, {comb} AS simhash FROM agg)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


SQL_SIMHASH_NEAR = _simhash_near_sql()


def q_ann_lsh_topk(spark, sf_dir):
    """ANN top-k via banded multi-table sign-LSH over integer-quantized
    embeddings (operators/similarity.py) — every sign bit is exact int64
    math, so the oracle replicates the blocking bit-for-bit."""
    from ..operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    queries = (emb.where(F.col("vec_id") % 50 == 0)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = sim.cosine_topk_lsh(emb, queries, k=5, bands=4, planes_per_band=4,
                              dim=64)
    return out.select("query_id", "vec_id", "rank",
                      F.floor(F.col("cosine") * 1000000 + F.lit(0.5))
                      .cast("bigint").alias("cos_e6"))


def _ann_lsh_sql(dim: int = 64, bands: int = 4, planes_per_band: int = 4,
                 k: int = 5) -> str:
    """DuckDB replica of similarity.cosine_topk_lsh with the same integer
    plane numerators (similarity.plane_numerators) inlined as literals."""
    from ..operators import similarity as sim

    planes = sim.plane_numerators(dim, bands * planes_per_band)
    band_selects = []
    for b in range(bands):
        bits = []
        for j in range(planes_per_band):
            nums = planes[b * planes_per_band + j]
            dot = " + ".join(f"qe[{i + 1}]*({n})" for i, n in enumerate(nums))
            bits.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << j} ELSE 0 END)")
        band_selects.append(
            f"SELECT vec_id, {b} AS band, CAST({' + '.join(bits)} AS BIGINT)"
            " AS key FROM q")
    rng = f"range(1, {dim + 1})"
    return f"""
WITH q AS (
  SELECT vec_id,
    list_transform(embedding,
      e -> CAST(floor(CAST(e AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qe
  FROM embeddings
),
b AS ({' UNION ALL '.join(band_selects)}),
cand AS (
  SELECT DISTINCT qq.vec_id AS query_id, e.vec_id AS vec_id
  FROM b e JOIN b qq ON e.band = qq.band AND e.key = qq.key
  WHERE qq.vec_id % 50 = 0 AND e.vec_id <> qq.vec_id
),
sc AS (
  SELECT c.query_id, c.vec_id,
    CAST(list_sum(list_transform({rng}, i -> qq.qe[i] * a.qe[i])) AS BIGINT) AS dot,
    CAST(list_sum(list_transform({rng}, i -> qq.qe[i] * qq.qe[i])) AS BIGINT) AS nq,
    CAST(list_sum(list_transform({rng}, i -> a.qe[i] * a.qe[i])) AS BIGINT) AS ne
  FROM cand c JOIN q a ON a.vec_id = c.vec_id
              JOIN q qq ON qq.vec_id = c.query_id
),
r AS (
  SELECT query_id, vec_id,
    CAST(dot AS DOUBLE) / (sqrt(CAST(nq AS DOUBLE)) * sqrt(CAST(ne AS DOUBLE))) AS cos,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY
      CAST(dot AS DOUBLE) / (sqrt(CAST(nq AS DOUBLE)) * sqrt(CAST(ne AS DOUBLE))) DESC,
      vec_id ASC) AS INT) AS rank
  FROM sc
)
SELECT query_id, vec_id, rank,
       CAST(floor(cos * 1000000 + 0.5) AS BIGINT) AS cos_e6
FROM r WHERE rank <= {k}
"""


SQL_ANN_LSH = _ann_lsh_sql()


def q_boundary_tiles(spark, sf_dir):
    """Polygon→tile slicing of the 25 boundary polygons at z 12..14
    (geojson-vt kernel through mapInPandas). The oracle is a golden table
    generated by an INDEPENDENT exact-rational reimplementation of the
    slicing rule (scripts/gen_boundary_tiles_golden.py), so kernel and
    oracle are derived separately from the same reference semantics."""
    bdf = fx.boundaries_df(spark)
    sliced = ta.slice_boundary_polygons(bdf, 12, 14)
    return (sliced.groupBy("feature_id", "typename", "z")
            .agg(F.count(F.lit(1)).alias("n_tiles"))
            .orderBy("feature_id", "z"))


def _boundary_tiles_sql() -> str:
    from .boundary_tiles_golden import ROWS

    vals = ",\n  ".join(f"('{f}', '{t}', {z}, {n})" for f, t, z, n in ROWS)
    return ("SELECT feature_id, typename, CAST(z AS INT) AS z, "
            "CAST(n_tiles AS BIGINT) AS n_tiles FROM (VALUES\n  "
            f"{vals}) AS g(feature_id, typename, z, n_tiles)")


SQL_BOUNDARY_TILES = _boundary_tiles_sql()


def q_ann_ivf_topk(spark, sf_dir):
    """ANN top-k via IVF cells (operators/similarity.cosine_topk_ivf):
    fixed-size deterministic centroid set (the 16 vec_ids sorting lowest by
    md5 — size independent of n, so the assignment broadcast is O(k·dim)),
    nprobe=4; exact integer-quantized rerank. The oracle replicates
    centroid selection, assignment, probing, and rerank bit-for-bit."""
    from ..operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    queries = (emb.where(F.col("vec_id") % 50 == 0)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = sim.cosine_topk_ivf(emb, queries, k=5, k_centroids=16, nprobe=4)
    return out.select("query_id", "vec_id", "rank",
                      F.floor(F.col("cosine") * 1000000 + F.lit(0.5))
                      .cast("bigint").alias("cos_e6"))


def _cos_sql(a: str, b: str, dim: int = 64) -> str:
    """Integer-quantized cosine with the same op order as similarity._int_dot
    / _int_norm2 composition: dot / (sqrt(norm_a) * sqrt(norm_b))."""
    rng = f"range(1, {dim + 1})"
    return (f"(CAST(list_sum(list_transform({rng}, i -> {a}[i] * {b}[i])) AS DOUBLE)"
            f" / (sqrt(CAST(list_sum(list_transform({rng}, i -> {a}[i] * {a}[i])) AS DOUBLE))"
            f" * sqrt(CAST(list_sum(list_transform({rng}, i -> {b}[i] * {b}[i])) AS DOUBLE))))")


def _ann_ivf_sql(k_centroids: int = 16, nprobe: int = 4, k: int = 5) -> str:
    return f"""
WITH q AS (
  SELECT vec_id,
    list_transform(embedding,
      e -> CAST(floor(CAST(e AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qe
  FROM embeddings
),
cents AS (SELECT vec_id AS cent_id, qe AS c_qe FROM q
          ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
          LIMIT {k_centroids}),
assign AS (
  SELECT vec_id, qe, cent_id FROM (
    SELECT v.vec_id, v.qe, c.cent_id,
      row_number() OVER (PARTITION BY v.vec_id
        ORDER BY {_cos_sql('v.qe', 'c.c_qe')} DESC, c.cent_id ASC) AS rn
    FROM q v, cents c
  ) WHERE rn = 1
),
probes AS (
  SELECT query_id, q_qe, cent_id FROM (
    SELECT qq.vec_id AS query_id, qq.qe AS q_qe, c.cent_id,
      row_number() OVER (PARTITION BY qq.vec_id
        ORDER BY {_cos_sql('qq.qe', 'c.c_qe')} DESC, c.cent_id ASC) AS rn
    FROM q qq, cents c WHERE qq.vec_id % 50 = 0
  ) WHERE rn <= {nprobe}
),
cand AS (
  SELECT p.query_id, a.vec_id, {_cos_sql('p.q_qe', 'a.qe')} AS cos
  FROM probes p JOIN assign a USING (cent_id)
  WHERE a.vec_id <> p.query_id
),
r AS (
  SELECT query_id, vec_id, cos,
    CAST(row_number() OVER (PARTITION BY query_id
         ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
  FROM cand
)
SELECT query_id, vec_id, rank,
       CAST(floor(cos * 1000000 + 0.5) AS BIGINT) AS cos_e6
FROM r WHERE rank <= {k}
"""


SQL_ANN_IVF = _ann_ivf_sql()


# ---------------------------------------------------------------------------
# T1 vshift + T3/J1 appearance gate queries (round 2)
# ---------------------------------------------------------------------------

def q_vshift_geoid(spark, sf_dir):
    """T1 vertical shift over the synthetic geoid grid: derived doc points
    get ellipsoidal height = bilinear undulation + (doc_id % 17). Exact
    cross-engine arithmetic: the grid values are integer-formula-derived,
    and the bilinear expression uses the identical op order in the SQL
    oracle (kernels/geoid.py; vshift.rs:16-21 contract)."""
    from ..kernels.geoid import synthetic_tokyo_grid
    from ..operators import projection as prj

    docs = _t(spark, sf_dir, "documents")
    lng, lat = geo.point_udeg_cols(F.col("doc_id"))
    pts = docs.select("doc_id", lng, lat)
    verts = F.array(F.array(F.col("lng_udeg") / 1e6, F.col("lat_udeg") / 1e6,
                            (F.col("doc_id") % 17).cast("double")))
    df = pts.select("doc_id", verts.alias("vertices"))
    out = prj.jgd2011_to_wgs84(df, synthetic_tokyo_grid())
    return out.select(
        "doc_id",
        F.floor(F.col("vertices")[0][2] * 1000000 + F.lit(0.5)).cast("bigint")
        .alias("ellips_h_e6"))


def _vshift_sql() -> str:
    # the synthetic grid's constants, with exact double literals (repr
    # round-trips bit-exactly through DuckDB's decimal parser)
    n_lng, n_lat = 25, 21
    dlng = (139.92 - 139.56) / (n_lng - 1)
    dlat = (35.82 - 35.52) / (n_lat - 1)

    def v(i, j):
        # grid value at (lat idx i, lng idx j) — same op order as
        # geoid.synthetic_tokyo_grid: (36 + .08j + .05i) + ripple
        i, j = f"({i})", f"({j})"
        return (f"((36.0 + 0.08*{j}) + 0.05*{i}) + "
                f"CAST((({i}*7919 + {j}*104729) % 101 - 50) AS DOUBLE)/1000.0")

    return f"""
WITH {POINTS_CTE},
g AS (
  SELECT doc_id,
    LEAST(GREATEST((lng_udeg/1000000.0 - 139.56)/{dlng!r}, 0.0), {n_lng - 1}.0) AS fx,
    LEAST(GREATEST((lat_udeg/1000000.0 - 35.52)/{dlat!r}, 0.0), {n_lat - 1}.0) AS fy,
    CAST(doc_id % 17 AS DOUBLE) AS h0
  FROM pts
),
c AS (
  SELECT doc_id, h0, fx, fy,
    LEAST(CAST(floor(fx) AS BIGINT), {n_lng - 2}) AS jx,
    LEAST(CAST(floor(fy) AS BIGINT), {n_lat - 2}) AS iy
  FROM g
),
b AS (
  SELECT doc_id, h0, fx - jx AS tx, fy - iy AS ty,
    ({v('iy', 'jx')}) AS v00,
    ({v('iy', 'jx + 1')}) AS v01,
    ({v('iy + 1', 'jx')}) AS v10,
    ({v('iy + 1', 'jx + 1')}) AS v11
  FROM c
)
SELECT doc_id,
  CAST(floor((v00*(1-tx)*(1-ty) + v01*tx*(1-ty) + v10*(1-tx)*ty + v11*tx*ty
              + h0) * 1000000 + 0.5) AS BIGINT) AS ellips_h_e6
FROM b
"""


SQL_VSHIFT = _vshift_sql()


def q_appearance_resolve(spark, sf_dir):
    """T3/J1: theme resolution + span->material painting over deterministic
    dimension tables derived from documents. Entities: one per doc with
    1 + doc_id%3 polygons; themes: rgbTexture iff doc_id%3==0, FMETheme iff
    doc_id%2==0 (some both, some neither); spans: one covering span
    (surface 10*doc_id -> material doc_id%7 under rgbTexture, 99 under
    FMETheme) plus, when doc_id%4==0, a later span over poly 0 only
    (surface 10*doc_id+1 -> material (doc_id+1)%7, rgbTexture only) that
    must win the overlap."""
    from ..operators import appearance as ap

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(F.col("doc_id").alias("entity_id"),
                       (F.lit(1) + F.col("doc_id") % 3).alias("n_polys"))
    polys = base.select("entity_id",
                        F.explode(F.sequence(F.lit(0), F.col("n_polys") - 1))
                        .alias("poly_idx"))
    themes = (base.where(F.col("entity_id") % 3 == 0)
              .select("entity_id", F.lit("rgbTexture").alias("theme_name"))
              .unionByName(
                  base.where(F.col("entity_id") % 2 == 0)
                  .select("entity_id", F.lit("FMETheme").alias("theme_name"))))
    span0 = base.select("entity_id", F.lit(0).alias("span_idx"),
                        (F.col("entity_id") * 10).alias("surface_id"),
                        F.lit(0).alias("start"), F.col("n_polys").alias("end"))
    span1 = (base.where(F.col("entity_id") % 4 == 0)
             .select("entity_id", F.lit(1).alias("span_idx"),
                     (F.col("entity_id") * 10 + 1).alias("surface_id"),
                     F.lit(0).alias("start"), F.lit(1).alias("end")))
    spans = span0.unionByName(span1)
    s2m = (base.select("entity_id", F.lit("rgbTexture").alias("theme_name"),
                       (F.col("entity_id") * 10).alias("surface_id"),
                       (F.col("entity_id") % 7).alias("material_idx"))
           .unionByName(base.select(
               "entity_id", F.lit("rgbTexture").alias("theme_name"),
               (F.col("entity_id") * 10 + 1).alias("surface_id"),
               ((F.col("entity_id") + 1) % 7).alias("material_idx")))
           .unionByName(base.select(
               "entity_id", F.lit("FMETheme").alias("theme_name"),
               (F.col("entity_id") * 10).alias("surface_id"),
               F.lit(99).alias("material_idx"))))
    resolved = ap.resolve_theme(themes)
    out = ap.polygon_materials(polys, spans, s2m, resolved)
    return out.select("entity_id", "poly_idx",
                      F.coalesce(F.col("material_idx"), F.lit(-1))
                      .cast("bigint").alias("material_idx"))


SQL_APPEARANCE = """
WITH base AS (SELECT doc_id AS entity_id, 1 + doc_id % 3 AS n_polys
              FROM documents),
polys AS (
  SELECT entity_id, CAST(u.p AS INT) AS poly_idx
  FROM base, UNNEST(range(0, n_polys)) AS u(p)
),
theme AS (
  -- rgbTexture preferred over FMETheme; NULL when neither
  SELECT entity_id,
    CASE WHEN entity_id % 3 = 0 THEN 'rgbTexture'
         WHEN entity_id % 2 = 0 THEN 'FMETheme' END AS theme
  FROM base
),
mat AS (
  -- span 0 paints [0, n_polys); span 1 (doc%4==0, rgbTexture only) paints
  -- poly 0 and wins the overlap (later span). FMETheme maps surface0 -> 99
  -- and has no entry for surface1.
  SELECT p.entity_id, p.poly_idx,
    CASE
      WHEN t.theme = 'rgbTexture' AND p.entity_id % 4 = 0 AND p.poly_idx = 0
        THEN (p.entity_id + 1) % 7
      WHEN t.theme = 'rgbTexture' THEN p.entity_id % 7
      WHEN t.theme = 'FMETheme' THEN 99
    END AS material_idx
  FROM polys p JOIN theme t USING (entity_id)
)
SELECT entity_id, poly_idx,
       CAST(coalesce(material_idx, -1) AS BIGINT) AS material_idx
FROM mat
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# round-3 webtext operators: URL canonicalization, repetition quality,
# corpus chunk dedup (operators/urls.py, text.repetition_signals,
# dedup.chunk_dedup_ratio)
# ---------------------------------------------------------------------------

def q_url_host_stats(spark, sf_dir):
    """URL canonicalization + per-host stats (operators/urls.py): derive
    deliberately messy raw URLs (uppercase scheme/host, www, fragments,
    tracking params, trailing slashes, path collisions via doc_id mod 50),
    canonicalize, aggregate per host. The oracle reimplements the
    normalization independently with DuckDB string/list functions."""
    from ..operators import urls

    docs = _t(spark, sf_dir, "documents")
    m4 = F.col("doc_id") % 4
    suffix = (F.when(m4 == 0, F.concat(F.lit("?utm_source=feed&page="),
                                       (F.col("doc_id") % 7).cast("string")))
              .when(m4 == 1, F.lit("#sec"))
              .when(m4 == 2, F.lit("/"))
              .otherwise(F.concat(F.lit("?gclid=x&q="),
                                  (F.col("doc_id") % 5).cast("string"))))
    pages = docs.select(
        F.concat(F.lit("HTTPS://WWW."), F.col("source"), F.lit("/Doc/"),
                 (F.col("doc_id") % 50).cast("string"), suffix).alias("url"),
        "text")
    return urls.host_stats(pages)


def q_crawl_schedule(spark, sf_dir):
    """Crawl-frontier politeness planner (operators/frontier.py): derive a
    frontier from documents (host = source, priority = n_chars), plan one
    cycle with 8 fetchers / 5 s per-host delay / per-host budget 40. The
    oracle re-derives the window + md5 routing + budget independently."""
    from ..operators import frontier

    docs = _t(spark, sf_dir, "documents")
    fr = docs.select(
        F.concat(F.lit("https://"), "source", F.lit("/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.col("source").alias("host"),
        F.col("n_chars").alias("pr"))
    return frontier.politeness_schedule(
        fr, n_fetchers=8, delay_s=5, max_per_host=40, priority_col="pr")


def q_robots_decisions(spark, sf_dir):
    """robots.txt evaluation (operators/robots.py, RFC 9309 subset):
    longest-prefix winner, allow beats disallow on equal length (the
    '/doc/7' rule pair tests the tie), unmatched paths allowed. The
    winner is one partial-agg max over an all-integer (length, allow)
    struct — no window; oracle uses an independent window-rank
    formulation."""
    from ..operators import robots as rb

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    path = (F.when(did % 5 == 0,
                   F.concat(F.lit("/doc/"), (did % 50).cast("string")))
            .when(did % 5 == 1,
                  F.concat(F.lit("/private/"), (did % 7).cast("string")))
            .when(did % 5 == 2,
                  F.concat(F.lit("/private/pub/"), (did % 7).cast("string")))
            .when(did % 5 == 3, F.lit("/tmp"))
            .otherwise(F.lit("/")))
    pages = docs.select(F.col("source").alias("host"), path.alias("path")) \
        .distinct()
    hosts = docs.select(F.col("source").alias("host")).distinct()
    rule_set = F.array(
        F.struct(F.lit(False).alias("allow"), F.lit("/private").alias("prefix")),
        F.struct(F.lit(True).alias("allow"), F.lit("/private/pub").alias("prefix")),
        F.struct(F.lit(False).alias("allow"), F.lit("/tmp").alias("prefix")),
        F.struct(F.lit(True).alias("allow"), F.lit("/doc/7").alias("prefix")),
        F.struct(F.lit(False).alias("allow"), F.lit("/doc/7").alias("prefix")))
    rules = (hosts.select("host", F.explode(rule_set).alias("r"))
             .select("host", F.col("r.allow").alias("allow"),
                     F.col("r.prefix").alias("prefix")))
    return rb.robots_decisions(pages, rules)


SQL_ROBOTS_DECISIONS = """
WITH hosts AS (SELECT DISTINCT source AS host FROM documents),
rules AS (
  SELECT host, false AS allow, '/private' AS prefix FROM hosts
  UNION ALL SELECT host, true, '/private/pub' FROM hosts
  UNION ALL SELECT host, false, '/tmp' FROM hosts
  UNION ALL SELECT host, true, '/doc/7' FROM hosts
  UNION ALL SELECT host, false, '/doc/7' FROM hosts),
pages AS (
  SELECT DISTINCT source AS host,
    CASE doc_id % 5
      WHEN 0 THEN '/doc/' || CAST(doc_id % 50 AS VARCHAR)
      WHEN 1 THEN '/private/' || CAST(doc_id % 7 AS VARCHAR)
      WHEN 2 THEN '/private/pub/' || CAST(doc_id % 7 AS VARCHAR)
      WHEN 3 THEN '/tmp'
      ELSE '/' END AS path
  FROM documents),
m AS (
  SELECT p.host, p.path, r.allow, CAST(length(r.prefix) AS BIGINT) AS l
  FROM pages p JOIN rules r
    ON p.host = r.host AND starts_with(p.path, r.prefix)),
w AS (
  SELECT host, path, allow, l,
         row_number() OVER (PARTITION BY host, path
                            ORDER BY l DESC, allow DESC) AS rn
  FROM m)
SELECT p.host, p.path,
       coalesce(w.allow, true) AS allowed,
       CAST(coalesce(w.l, -1) AS BIGINT) AS rule_len
FROM pages p LEFT JOIN (SELECT * FROM w WHERE rn = 1) w
  ON p.host = w.host AND p.path = w.path
"""


def q_boilerplate_strip(spark, sf_dir):
    """CCNet-style per-host boilerplate paragraph removal
    (operators/boilerplate.py): pages are built with four injected
    paragraph tiers per host — nav + copyright in 100% of the host's
    docs, 'subscribe' in 75%, 'promo' in ~33% — around the unique doc
    body. At ratio 50% / min_df 2 the 100%/75% tiers strip, the 33%
    tier and the body survive, in original order. Compared by md5 of
    the rebuilt text; the oracle re-derives df-counting, the integer
    threshold, and ordered reassembly independently in DuckDB."""
    from ..operators import boilerplate as bp

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    src = F.col("source")
    page = F.concat_ws(
        "\n",
        F.concat(F.lit("nav "), src, F.lit(" home about contact")),
        F.col("text"),
        F.when(did % 3 == 0, F.concat(F.lit("promo "), src)),
        F.when(did % 4 != 0, F.concat(F.lit("subscribe "), src)),
        F.concat(F.lit("copyright "), src,
                 F.lit(" all rights reserved")))
    pages = docs.select("doc_id", "source", page.alias("text"))
    out = bp.host_boilerplate_strip(pages, ratio_ppm=500_000, min_df=2)
    return out.select(
        "doc_id", "source", F.md5("clean_text").alias("clean_md5"),
        "n_kept", "n_removed")


SQL_BOILERPLATE_STRIP = """
WITH pages AS (
  SELECT doc_id, source,
    concat_ws(chr(10),
      'nav ' || source || ' home about contact',
      text,
      CASE WHEN doc_id % 3 = 0 THEN 'promo ' || source END,
      CASE WHEN doc_id % 4 <> 0 THEN 'subscribe ' || source END,
      'copyright ' || source || ' all rights reserved') AS text
  FROM documents),
lines AS (
  SELECT doc_id, source,
         unnest(string_split(text, chr(10))) AS para,
         unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
  FROM pages),
keyed AS (
  SELECT doc_id, source, pos, para, md5(lower(trim(para))) AS pkey
  FROM lines),
nd AS (SELECT source, count(*) AS n_docs FROM pages GROUP BY source),
pdf AS (
  SELECT source, pkey, count(DISTINCT doc_id) AS df
  FROM keyed GROUP BY source, pkey),
boiler AS (
  SELECT pdf.source, pdf.pkey
  FROM pdf JOIN nd ON pdf.source = nd.source
  WHERE pdf.df >= 2 AND pdf.df * 1000000 >= 500000 * nd.n_docs),
kept AS (
  SELECT k.* FROM keyed k
  LEFT JOIN boiler b ON k.source = b.source AND k.pkey = b.pkey
  WHERE b.pkey IS NULL),
re AS (
  SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id)
SELECT p.doc_id, p.source,
       md5(coalesce(re.clean_text, '')) AS clean_md5,
       CAST(coalesce(re.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(len(string_split(p.text, chr(10)))
            - coalesce(re.n_kept, 0) AS BIGINT) AS n_removed
FROM pages p LEFT JOIN re ON p.doc_id = re.doc_id
"""


SQL_CRAWL_SCHEDULE = """
WITH fr AS (
  SELECT concat('https://', source, '/doc/', CAST(doc_id AS VARCHAR)) AS url,
         source AS host, n_chars AS pr
  FROM documents
),
s AS (
  SELECT url, host,
         CAST(row_number() OVER (PARTITION BY host ORDER BY pr DESC, url ASC)
              - 1 AS BIGINT) AS seq
  FROM fr
)
SELECT url, host,
  CAST(concat('0x', substr(md5(host), 1, 15)) AS BIGINT) % 8 AS fetcher,
  seq, CAST(seq * 5 AS BIGINT) AS not_before_s
FROM s WHERE seq < 40
"""


SQL_URL_HOST_STATS = """
WITH pages AS (
  SELECT concat('HTTPS://WWW.', source, '/Doc/',
                CAST(doc_id % 50 AS VARCHAR),
                CASE doc_id % 4
                  WHEN 0 THEN '?utm_source=feed&page=' || CAST(doc_id % 7 AS VARCHAR)
                  WHEN 1 THEN '#sec'
                  WHEN 2 THEN '/'
                  ELSE '?gclid=x&q=' || CAST(doc_id % 5 AS VARCHAR)
                END) AS url,
         text
  FROM documents
),
parts AS (
  SELECT url, text,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    regexp_replace(lower(regexp_extract(url,
        '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), '^www\\.', '') AS host,
    regexp_replace(regexp_extract(url,
        '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$', '') AS path,
    array_to_string(list_filter(
        string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
        p -> p <> '' AND NOT regexp_matches(p,
            '^(utm_[A-Za-z0-9_]*|fbclid|gclid)=')), '&') AS q
  FROM pages
),
canon AS (
  SELECT host, text,
         scheme || '://' || host || path ||
         CASE WHEN q <> '' THEN '?' || q ELSE '' END AS canonical_url
  FROM parts
)
SELECT host,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_canonical,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM canon GROUP BY host
"""


def q_domain_cap(spark, sf_dir):
    """Per-registered-domain document cap (operators/sampling.py
    cap_per_group): synthesize hosts over multi-part suffixes (reusing
    the PSL semantics), cap at 3 docs per domain keeping the longest
    (n_chars desc, doc_id tiebreak), via the SKEW-SALTED two-phase
    top-N path (skew_salts=4). The oracle is the plain single-window
    row_number formulation — passing proves the salted plan is
    result-invariant, the same proof shape as skew_salted_agg."""
    from ..operators import sampling as smp
    from ..operators import urls

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    m4 = did % 4
    tld = (F.when(m4 == 0, ".co.jp").when(m4 == 1, ".com")
           .when(m4 == 2, ".co.uk").otherwise(".org"))
    host = F.concat(F.lit("site"), (did % 5).cast("string"), tld)
    pages = docs.select("doc_id", "n_chars",
                        urls.registered_domain(host).alias("domain"))
    capped = smp.cap_per_group(pages, "domain", 3,
                               order_by=[-F.col("n_chars")],
                               skew_salts=4)
    return capped.select("doc_id", "domain",
                         F.col("n_chars").cast("bigint").alias("n_chars"))


SQL_DOMAIN_CAP = """
WITH pages AS (
  SELECT doc_id, n_chars,
    'site' || CAST(doc_id % 5 AS VARCHAR) ||
    CASE doc_id % 4 WHEN 0 THEN '.co.jp' WHEN 1 THEN '.com'
                    WHEN 2 THEN '.co.uk' ELSE '.org' END AS domain
  FROM documents
),
r AS (
  SELECT doc_id, domain, n_chars,
         row_number() OVER (PARTITION BY domain
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM pages
)
SELECT doc_id, domain, CAST(n_chars AS BIGINT) AS n_chars
FROM r WHERE rk <= 3
"""


def q_extract_text(spark, sf_dir):
    """HTML -> text extraction round-trip (operators/html.py): wrap each
    document's text in a full html page — script with embedded tags and
    ``<`` in code, style, comments, entity-encoded title/heading and an
    ``&nbsp;``/``&lt;``-carrying tail — extract with the pure-Catalyst
    rule chain, and assert byte-identity against the independently
    reconstructed expected text (the BASELINE.json per-row invariant:
    extracted text byte-identical per url/doc). The oracle re-derives
    the entire chain in DuckDB (RE2 (?s)/non-greedy semantics match
    Java's for these patterns)."""
    from ..operators import html as ht

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    page = F.concat(
        F.lit('<html><head><title>T&amp;C</title>'
              '<script>if(a<b){s="</p>"}</script>'
              '<style>p{color:red}</style></head>'
              '<body><!-- no --><h1>&quot;Doc&quot; '),
        did.cast("string"),
        F.lit('</h1><p>'), F.col("text"),
        F.lit(' &nbsp;&lt;end&gt;</p></body></html>'))
    ex = ht.html_extract_text(page)
    expected = F.concat(
        F.lit('T&C "Doc" '), did.cast("string"), F.lit(" "),
        F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")),
        F.lit(" <end>"))
    return docs.select(
        "doc_id", ex.alias("text_extracted"),
        (ex == expected).alias("matches"))


SQL_EXTRACT_TEXT = """
WITH pages AS (
  SELECT doc_id, text,
    '<html><head><title>T&amp;C</title><script>if(a<b){s="</p>"}</script>'
    || '<style>p{color:red}</style></head><body><!-- no --><h1>&quot;Doc&quot; '
    || CAST(doc_id AS VARCHAR) || '</h1><p>' || text
    || ' &nbsp;&lt;end&gt;</p></body></html>' AS html
  FROM documents
),
ex AS (
  SELECT doc_id, text,
    trim(regexp_replace(
      replace(replace(replace(replace(replace(replace(
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
          '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
          '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
          '(?s)<!--.*?-->', ' ', 'g'),
          '<[^>]*>', ' ', 'g'),
        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        '&nbsp;', ' '), '&amp;', '&'),
      '\\s+', ' ', 'g')) AS text_extracted
  FROM pages
)
SELECT doc_id, text_extracted,
  text_extracted = 'T&C "Doc" ' || CAST(doc_id AS VARCHAR) || ' '
    || trim(regexp_replace(text, '\\s+', ' ', 'g')) || ' <end>' AS matches
FROM ex
"""


def q_url_registered_domain(spark, sf_dir):
    """Registered domain with FULL PSL rule semantics (operators/urls.py,
    functions/psl.py — VERDICT r4 #2): fixture hosts exercise two-label
    exact rules (.co.jp, .co.uk), three-label exact rules
    (chiyoda.tokyo.jp — a Tokyo 23-ward geographic suffix; act.edu.au),
    a wildcard TLD (*.ck), the matching exception rule (!www.ck — all
    17 synthetic hosts collapse into ONE domain www.ck), the ICANN-view
    default for a private-section host (github.io), scheme-less URLs,
    userinfo+port authorities (user:pw@host:8443 — ADVICE r4 strip) and
    a dotless localhost:port. The oracle re-derives longest-match +
    exception precedence from the RULE LIST itself via a join-based SQL
    formulation (shared config = the rule list only; the matching logic
    is independent of the Catalyst when-chain)."""
    from ..operators import urls

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    m8 = did % 8
    tld = (F.when(m8 == 0, ".co.jp").when(m8 == 1, ".co.uk")
           .when(m8 == 2, ".com").when(m8 == 3, ".chiyoda.tokyo.jp")
           .when(m8 == 4, ".act.edu.au").when(m8 == 5, ".foo.ck")
           .when(m8 == 6, ".www.ck").otherwise(".github.io"))
    host = F.concat(F.lit("site"), (did % 17).cast("string"), tld)
    m5 = did % 5
    url = (F.when(m5 == 0, F.concat(F.lit("https://www."), host,
                                    F.lit("/a/"), (did % 3).cast("string")))
           .when(m5 == 1, F.concat(F.lit("HTTP://"), host,
                                   F.lit("/b?utm_campaign=x&id="),
                                   (did % 4).cast("string")))
           .when(m5 == 2, F.concat(host, F.lit("/c")))      # scheme-less
           .when(m5 == 3, F.concat(F.lit("https://user:pw@"), host,
                                   F.lit(":8443/d")))       # userinfo+port
           .when(did % 2 == 0, F.lit("localhost:8080/x"))   # dotless host
           .otherwise(F.concat(F.lit("https://"), host, F.lit("/"))))
    parts = urls.with_url_parts(docs.select(url.alias("url")))
    return (parts.groupBy("domain")
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 F.countDistinct("host").alias("n_hosts"),
                 F.countDistinct("canonical_url").alias("n_canonical")))


def _psl_rule_values() -> str:
    from ..functions.psl import rules_sql_values
    return rules_sql_values()


SQL_URL_REGISTERED_DOMAIN = f"""
WITH pages AS (
  SELECT CASE doc_id % 5
           WHEN 0 THEN 'https://www.' || h || '/a/' || CAST(doc_id % 3 AS VARCHAR)
           WHEN 1 THEN 'HTTP://' || h || '/b?utm_campaign=x&id=' || CAST(doc_id % 4 AS VARCHAR)
           WHEN 2 THEN h || '/c'
           WHEN 3 THEN 'https://user:pw@' || h || ':8443/d'
           WHEN 4 THEN CASE WHEN doc_id % 2 = 0 THEN 'localhost:8080/x'
                            ELSE 'https://' || h || '/' END
         END AS url
  FROM (SELECT doc_id,
               'site' || CAST(doc_id % 17 AS VARCHAR) ||
               CASE doc_id % 8
                 WHEN 0 THEN '.co.jp' WHEN 1 THEN '.co.uk'
                 WHEN 2 THEN '.com'   WHEN 3 THEN '.chiyoda.tokyo.jp'
                 WHEN 4 THEN '.act.edu.au' WHEN 5 THEN '.foo.ck'
                 WHEN 6 THEN '.www.ck'    ELSE '.github.io'
               END AS h
        FROM documents)
),
parts AS (
  SELECT url,
    regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.-]*://') AS has_scheme,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    regexp_replace(lower(CASE
        WHEN regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.-]*://')
        THEN regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)
        ELSE regexp_extract(url, '^([^/?#]+)', 1) END),
        '^www\\.', '') AS auth,
    regexp_replace(regexp_extract(url,
        '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$', '') AS path,
    array_to_string(list_filter(
        string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
        p -> p <> '' AND NOT regexp_matches(p,
            '^(utm_[A-Za-z0-9_]*|fbclid|gclid)=')), '&') AS q
  FROM pages
),
hosted AS (
  SELECT *,
    regexp_replace(regexp_replace(regexp_replace(auth,
        '^[^@/]*@', ''), ':[0-9]+$', ''), '^www\\.', '') AS host
  FROM parts
),
rules(kind, suffix) AS (VALUES {_psl_rule_values()}),
rsplit AS (
  SELECT kind, string_split(suffix, '.') AS sl,
         len(string_split(suffix, '.')) AS slen
  FROM rules
),
hsplit AS (
  SELECT host, string_split(host, '.') AS hl, len(string_split(host, '.')) AS hlen
  FROM (SELECT DISTINCT host FROM hosted)
),
-- PSL matching from the rule list: a rule matches when the host ends
-- with its labels (wildcard * consumes exactly one extra label).
-- plen = resulting public-suffix label count; rank makes exceptions
-- prevail over everything, then longest matched suffix wins.
m AS (
  SELECT h.host,
    CASE r.kind WHEN 'exc'  THEN r.slen - 1
                WHEN 'wild' THEN r.slen + 1
                ELSE r.slen END AS plen,
    CASE r.kind WHEN 'exc'  THEN 1000 + r.slen
                WHEN 'wild' THEN r.slen + 1
                ELSE r.slen END AS rank
  FROM hsplit h JOIN rsplit r
    ON h.hlen >= (CASE WHEN r.kind = 'wild' THEN r.slen + 1 ELSE r.slen END)
   AND h.hl[-r.slen:] = r.sl
),
best AS (SELECT host, arg_max(plen, rank) AS plen FROM m GROUP BY host),
dom AS (
  SELECT h.host,
    CASE WHEN h.hlen > coalesce(b.plen, 1)
         THEN array_to_string(h.hl[-(coalesce(b.plen, 1) + 1):], '.')
         ELSE h.host END AS domain
  FROM hsplit h LEFT JOIN best b ON h.host = b.host
),
canon AS (
  SELECT p.host, d.domain,
    CASE WHEN p.has_scheme
         THEN p.scheme || '://' || p.auth || p.path ||
              CASE WHEN p.q <> '' THEN '?' || p.q ELSE '' END
         ELSE p.url END AS canonical_url
  FROM hosted p JOIN dom d ON p.host = d.host
)
SELECT domain,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
       CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_canonical
FROM canon GROUP BY domain
"""


def q_repetition_quality(spark, sf_dir):
    """Gopher-style repetition signals (text.repetition_signals): top
    uni/bi/tri-gram fraction + distinct-word ratio per doc, exact integer
    ppm. One explode + two partial-combine hash aggs, zero Python."""
    docs = _t(spark, sf_dir, "documents")
    return tx.repetition_signals(docs)


SQL_REPETITION = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents
),
g AS (
  SELECT doc_id, 1 AS n, t[i+1] AS gg
  FROM toks, UNNEST(range(len(t))) AS u(i)
  UNION ALL
  SELECT doc_id, 2, t[i+1] || ' ' || t[i+2]
  FROM toks, UNNEST(range(greatest(len(t) - 1, 0))) AS u(i)
  UNION ALL
  SELECT doc_id, 3, t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
  FROM toks, UNNEST(range(greatest(len(t) - 2, 0))) AS u(i)
),
c AS (SELECT doc_id, n, gg, count(*) AS cnt FROM g GROUP BY 1, 2, 3),
a AS (
  SELECT doc_id,
    sum(CASE WHEN n = 1 THEN cnt END) AS total1,
    max(CASE WHEN n = 1 THEN cnt END) AS top1,
    count(CASE WHEN n = 1 THEN 1 END) AS d1,
    sum(CASE WHEN n = 2 THEN cnt END) AS total2,
    max(CASE WHEN n = 2 THEN cnt END) AS top2,
    sum(CASE WHEN n = 3 THEN cnt END) AS total3,
    max(CASE WHEN n = 3 THEN cnt END) AS top3
  FROM c GROUP BY doc_id
)
SELECT doc_id,
  CAST(coalesce(total1, 0) AS BIGINT) AS n_words,
  CAST(coalesce(d1, 0) AS BIGINT) AS n_distinct_words,
  CAST(CASE WHEN total1 > 0 THEN (top1 * 2000000 + total1) // (2 * total1)
       ELSE 0 END AS BIGINT) AS top1_frac_e6,
  CAST(CASE WHEN total2 > 0 THEN (top2 * 2000000 + total2) // (2 * total2)
       ELSE 0 END AS BIGINT) AS top2_frac_e6,
  CAST(CASE WHEN total3 > 0 THEN (top3 * 2000000 + total3) // (2 * total3)
       ELSE 0 END AS BIGINT) AS top3_frac_e6
FROM a
"""


def q_chunk_dedup(spark, sf_dir):
    """Corpus-level exact chunk dedup (dedup.chunk_dedup_ratio, Lee et al.
    2022 fixed-stride approximation): per-doc duplicated-chunk ratio."""
    docs = _t(spark, sf_dir, "documents")
    return dd.chunk_dedup_ratio(docs, chunk_words=8)


SQL_CHUNK_DEDUP = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents
),
slots AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(t, i * 8 + 1, i * 8 + 8), ' ')) AS chunk
  FROM toks, UNNEST(range(len(t) // 8)) AS u(i)
),
freq AS (SELECT chunk, count(*) AS freq FROM slots GROUP BY 1)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN f.freq > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_chunks,
       CAST((sum(CASE WHEN f.freq > 1 THEN 1 ELSE 0 END) * 2000000
             + count(*)) // (2 * count(*)) AS BIGINT) AS dup_ratio_e6
FROM slots s JOIN freq f ON s.chunk = f.chunk
GROUP BY s.doc_id
"""


def q_pagerank(spark, sf_dir):
    """Integer-exact PageRank over the deterministic doc link graph
    (operators/graph.py): 3 synchronous iterations, ppm units, pure
    integer arithmetic — bit-identical across engines and across Spark's
    partial-agg merge orders (why it is integer, not float)."""
    from ..operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    nodes = docs.select(F.col("doc_id").alias("id"))
    edges = gr.synthetic_link_edges(docs, n)
    pr = gr.pagerank_int(nodes, edges, iters=3, damping_pct=85)
    return pr.select(F.col("id").alias("doc_id"), "score_e6")


_PR_ITER = """
c{i} AS (
  SELECT e.dst, sum(s{p}.score // d.out_degree) AS s
  FROM e JOIN deg d ON e.src = d.src JOIN s{p} ON e.src = s{p}.id
  GROUP BY 1),
s{i} AS (
  SELECT s{p}.id, 150000 + (85 * coalesce(c{i}.s, 0)) // 100 AS score
  FROM s{p} LEFT JOIN c{i} ON s{p}.id = c{i}.dst)"""

SQL_PAGERANK = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
deg AS (SELECT src, count(*) AS out_degree FROM e GROUP BY 1),
s0 AS (SELECT doc_id AS id, CAST(1000000 AS BIGINT) AS score FROM documents),
""" + ",".join(_PR_ITER.format(i=i, p=i - 1) for i in (1, 2, 3)) + """
SELECT id AS doc_id, CAST(score AS BIGINT) AS score_e6 FROM s3
"""


def q_bfs_depth(spark, sf_dir):
    """Crawl-depth / seed-distance labeling (operators/graph.py): BFS
    over the deterministic doc link graph from seeds doc_id % 97 == 0,
    capped at 4 hops. Spark runs level-synchronous frontier expansion
    (join + anti-join per level); the oracle is an independent DuckDB
    recursive CTE taking min(dist) over all depth-bounded walks —
    different algorithm, same shortest-distance answer."""
    from ..operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    seeds = docs.where(F.col("doc_id") % 97 == 0) \
        .select(F.col("doc_id").alias("id"))
    edges = gr.synthetic_link_edges(docs, n)
    return gr.bfs_distances(seeds, edges, max_depth=4) \
        .select(F.col("id").alias("doc_id"), "dist")


SQL_BFS_DEPTH = """
WITH RECURSIVE nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
walk(id, dist) AS (
  SELECT doc_id, 0 FROM documents WHERE doc_id % 97 = 0
  UNION
  SELECT e.dst, w.dist + 1 FROM walk w JOIN e ON w.id = e.src
  WHERE w.dist < 4)
SELECT id AS doc_id, CAST(min(dist) AS BIGINT) AS dist
FROM walk GROUP BY id
"""


def q_pagerank_dangling(spark, sf_dir):
    """Integer-exact PageRank with dangling-mass REDISTRIBUTION
    (operators/graph.py, VERDICT r4 #5): every node whose doc_id ends in
    7 has its out-edges removed, creating ~10% dangling sinks; each
    iteration folds sum(dangling scores) div n uniformly into every
    node's incoming mass before damping — total mass stays ~BASE instead
    of deflating, still pure integer arithmetic. The oracle unrolls the
    same three iterations with the dangling scalar as a subquery."""
    from ..operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    nodes = docs.select(F.col("doc_id").alias("id"))
    edges = (gr.synthetic_link_edges(docs, n)
             .where(F.col("src") % 10 != 7))
    pr = gr.pagerank_int(nodes, edges, iters=3, damping_pct=85,
                         dangling="redistribute", n_nodes=n)
    return pr.select(F.col("id").alias("doc_id"), "score_e6")


_PR_DANG_ITER = """
d{i} AS (
  SELECT coalesce(sum(s{p}.score), 0) AS dm
  FROM s{p} LEFT JOIN deg ON s{p}.id = deg.src
  WHERE deg.src IS NULL),
c{i} AS (
  SELECT e.dst, sum(s{p}.score // d.out_degree) AS s
  FROM e JOIN deg d ON e.src = d.src JOIN s{p} ON e.src = s{p}.id
  GROUP BY 1),
s{i} AS (
  SELECT s{p}.id,
         150000 + (85 * (coalesce(c{i}.s, 0) +
                         (SELECT dm FROM d{i}) // (SELECT n FROM nn)))
             // 100 AS score
  FROM s{p} LEFT JOIN c{i} ON s{p}.id = c{i}.dst)"""

SQL_PAGERANK_DANGLING = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0
      WHERE src <> dst AND src % 10 <> 7),
deg AS (SELECT src, count(*) AS out_degree FROM e GROUP BY 1),
s0 AS (SELECT doc_id AS id, CAST(1000000 AS BIGINT) AS score FROM documents),
""" + ",".join(_PR_DANG_ITER.format(i=i, p=i - 1) for i in (1, 2, 3)) + """
SELECT id AS doc_id, CAST(score AS BIGINT) AS score_e6 FROM s3
"""


def q_dedup_clusters(spark, sf_dir):
    """Near-dup PAIRS → dedup CLUSTERS (operators/graph.py
    connected_components): min-label propagation over the verified
    MinHash-LSH pairs; component_id = smallest doc in the cluster (the
    canonical doc a dedup pipeline keeps). The stage that turns pair
    generation into an actually deduplicated corpus."""
    from ..operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    pairs = dd.minhash_dedup_pairs(docs, threshold=0.5).select(
        "doc_a", "doc_b")
    comp = gr.connected_components(pairs)
    return comp.select(F.col("id").alias("doc_id"), "component_id")


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS ({SQL_MINHASH_LSH}),
und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
reach(src, dst) AS (
  SELECT DISTINCT a, a FROM und
  UNION
  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a
)
SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS component_id
FROM reach GROUP BY src
"""


def q_dedup_keep_list(spark, sf_dir):
    """The dedup pipeline end-to-end (VERDICT r3 #4): MinHash-LSH pairs
    -> connected components (large-star/small-star) -> keep-list. One row
    per document; ``kept`` marks the cluster canonical (smallest id) and
    singletons; ``where(kept)`` is the deduplicated corpus."""
    from ..operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    pairs = dd.minhash_dedup_pairs(docs, threshold=0.5).select(
        "doc_a", "doc_b")
    comp = gr.connected_components(pairs)
    return dd.dedup_keep_list(docs, comp)


SQL_DEDUP_KEEP_LIST = f"""
WITH RECURSIVE pairs AS ({SQL_MINHASH_LSH}),
und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
reach(src, dst) AS (
  SELECT DISTINCT a, a FROM und
  UNION
  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a
),
clusters AS (
  SELECT src AS doc_id, min(dst) AS component_id
  FROM reach GROUP BY src
)
SELECT d.doc_id,
       CAST(coalesce(c.component_id, d.doc_id) AS BIGINT) AS component_id,
       coalesce(c.component_id, d.doc_id) = d.doc_id AS kept
FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
"""


def q_dedup_keep_best(spark, sf_dir):
    """Keep-list with a QUALITY representative policy (operators/dedup.py
    dedup_keep_list(prefer=...), VERDICT r4 #7): synthetic clusters of
    up to 7 consecutive docs (every third cluster left unclustered to
    exercise the singleton path); the kept doc per cluster is the
    LONGEST (n_chars desc, doc_id tiebreak) instead of the min-id. The
    oracle is an independent window-rank formulation (row_number over
    partition) vs the engine's min_by aggregation."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    comp = (docs.where((F.expr("doc_id div 7") % 3) != 2)
            .select(did.alias("id"),
                    (F.expr("doc_id div 7") * 7).alias("component_id")))
    return dd.dedup_keep_list(docs, comp,
                              prefer=[-F.col("n_chars")])


SQL_DEDUP_KEEP_BEST = """
WITH comp AS (
  SELECT doc_id AS id, (doc_id // 7) * 7 AS component_id
  FROM documents WHERE (doc_id // 7) % 3 <> 2
),
lab AS (
  SELECT d.doc_id, d.n_chars,
         coalesce(c.component_id, d.doc_id) AS component_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
),
r AS (
  SELECT doc_id, component_id,
         row_number() OVER (PARTITION BY component_id
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM lab
)
SELECT doc_id, CAST(component_id AS BIGINT) AS component_id,
       rn = 1 AS kept
FROM r
"""


def q_image_features(spark, sf_dir):
    """Image-feature extraction plumbing (operators/multimodal.py) with the
    deterministic stub decoder forced: width/height/channels/luma/phash
    are pure md5 byte math over the html blob, so the oracle replicates
    them bit-exactly in SQL (the blob is utf-8 text here, so DuckDB's
    VARCHAR md5 hashes the same bytes). luma is emitted as exact integer
    thousandths."""
    from ..operators import multimodal as mm

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit("/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.encode(F.concat(F.lit("<html><body>"), F.col("text"),
                          F.lit("</body></html>")), "utf-8").alias("html"))
    out = mm.image_features(pages, decoder="stub")
    return out.select(
        "url", F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.col("n_channels").cast("bigint").alias("n_channels"),
        F.floor(F.col("mean_luma") * 1000 + F.lit(0.5)).cast("bigint")
        .alias("luma_e3"),
        F.col("phash"))


_B = ("CAST(concat('0x', substr(hx, {o}, 2)) AS INTEGER)")
SQL_IMAGE_FEATURES = f"""
WITH pages AS (
  SELECT concat('https://', source, '/doc/', CAST(doc_id AS VARCHAR)) AS url,
         md5('<html><body>' || text || '</body></html>') AS hx
  FROM documents
),
b AS (
  SELECT url, hx,
    {_B.format(o=1)} AS b0, {_B.format(o=3)} AS b1,
    {_B.format(o=5)} AS b2, {_B.format(o=7)} AS b3,
    {_B.format(o=9)} AS b4, {_B.format(o=11)} AS b5,
    {_B.format(o=13)} AS b6, {_B.format(o=15)} AS b7,
    {_B.format(o=17)} AS b8
  FROM pages
)
SELECT url,
  CAST(64 + (b0 + 256 * b1) % 1985 AS BIGINT) AS width,
  CAST(64 + (b2 + 256 * b3) % 1985 AS BIGINT) AS height,
  CAST(1 + b4 % 4 AS BIGINT) AS n_channels,
  (CAST(b5 AS BIGINT) + 256 * CAST(b6 AS BIGINT)
   + 65536 * CAST(b7 AS BIGINT) + 16777216 * CAST(b8 AS BIGINT)) % 256000
      AS luma_e3,
  CAST(CAST(concat('0x', substr(hx, 1, 16)) AS UBIGINT) >> 1 AS BIGINT)
      AS phash
FROM b
"""


_SAMPLE_RATES = {"en": 800_000, "de": 500_000, "fr": 250_000,
                 "es": 250_000, "zh": 100_000}


def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling for training-data mixes
    (operators/sampling.py): per-lang ppm rates via an md5 Bernoulli
    draw — the sample is a pure function of (doc_id, salt, rates), so
    the oracle reproduces it exactly. Also emits the split assignment
    (train/val/test from disjoint bucket ranges)."""
    from ..operators import sampling as sp

    docs = _t(spark, sf_dir, "documents")
    kept = sp.stratified_sample(docs, _SAMPLE_RATES, stratum_col="lang",
                                key_col="doc_id", salt="s0")
    return (sp.deterministic_split(kept, "doc_id", val_ppm=100_000,
                                   test_ppm=100_000, salt="split0")
            .select("doc_id", "lang", "split"))


_RATE_CASE = " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in sorted(_SAMPLE_RATES.items()))
SQL_STRATIFIED_SAMPLE = f"""
WITH b AS (
  SELECT doc_id, lang,
    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || 's0'), 1, 15))
         AS BIGINT) % 1000000 AS bucket,
    CAST(concat('0x',
         substr(md5(CAST(doc_id AS VARCHAR) || 'split0'), 1, 15))
         AS BIGINT) % 1000000 AS sbucket
  FROM documents
)
SELECT doc_id, lang,
  CASE WHEN sbucket < 100000 THEN 'val'
       WHEN sbucket < 200000 THEN 'test'
       ELSE 'train' END AS split
FROM b
WHERE bucket < (CASE lang {_RATE_CASE} ELSE 0 END)
"""


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (dedup.decontaminate): flag training docs
    sharing >= 2 distinct 3-gram shingles with the benchmark subset
    (doc_id % 97 == 0) — the eval-contamination filter (Brown et al. 2020
    appendix C uses 13-grams; the synthetic texts are short, hence 3)."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    out = dd.decontaminate(docs, bench, n=3, min_shared=2)
    return out.select("doc_id", "n_shared",
                      F.col("contaminated").cast("int").cast("bigint")
                      .alias("contaminated"))


SQL_DECONTAMINATE = f"""
WITH {SHINGLES_CTE},
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
shared AS (
  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shared
  FROM sh s JOIN bench b ON s.shingle = b.shingle GROUP BY 1
),
base AS (SELECT DISTINCT doc_id FROM sh)
SELECT base.doc_id,
       coalesce(shared.n_shared, 0) AS n_shared,
       CAST(coalesce(shared.n_shared, 0) >= 2 AS BIGINT) AS contaminated
FROM base LEFT JOIN shared ON base.doc_id = shared.doc_id
"""


def q_pack_chunks(spark, sf_dir):
    """Concat-and-chunk sequence packing (operators/packing.py): global
    token prefix sum via the two-phase distributed scan (range partitions
    + O(partitions) driver offsets), 1024-token chunks. Boundary-
    independent, so the oracle is a plain window cumsum."""
    from ..operators import packing as pk

    docs = _t(spark, sf_dir, "documents")
    return pk.pack_concat_chunks(docs, budget=1024)


SQL_PACK_CHUNKS = """
WITH n AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split_regex(trim(text), '[^A-Za-z0-9_]+'),
        x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        AS token_start
  FROM n
)
SELECT doc_id, n_tokens, token_start,
  token_start // 1024 AS chunk_start,
  CASE WHEN n_tokens > 0 THEN (token_start + n_tokens - 1) // 1024
       ELSE token_start // 1024 - 1 END AS chunk_end
FROM c
"""


def q_pack_composition(spark, sf_dir):
    """Chunk composition — the inverse packing map a training loader
    consumes (operators/packing.py pack_chunk_composition, VERDICT r4
    #8): per (chunk, doc-span) row with intra-doc and intra-chunk
    offsets, from one map-side explode of each doc's straddle range. The
    oracle unrolls the same ranges with generate_series over the window
    cumsum."""
    from ..operators import packing as pk

    docs = _t(spark, sf_dir, "documents")
    return pk.pack_chunk_composition(docs, budget=1024)


SQL_PACK_COMPOSITION = """
WITH n AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split_regex(trim(text), '[^A-Za-z0-9_]+'),
        x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        AS token_start
  FROM n
),
x AS (
  SELECT doc_id, n_tokens, token_start,
    unnest(generate_series(token_start // 1024,
                           (token_start + n_tokens - 1) // 1024))
        AS chunk_id
  FROM c WHERE n_tokens > 0
)
SELECT CAST(chunk_id AS BIGINT) AS chunk_id, doc_id,
  CAST(greatest(token_start, chunk_id * 1024) - token_start AS BIGINT)
      AS span_start,
  CAST(least(token_start + n_tokens, (chunk_id + 1) * 1024)
       - greatest(token_start, chunk_id * 1024) AS BIGINT) AS span_len,
  CAST(greatest(token_start, chunk_id * 1024) - chunk_id * 1024 AS BIGINT)
      AS chunk_offset
FROM x
"""


def q_geohash_cells(spark, sf_dir):
    """Base-32 geohash prefix-cell index (functions/geo.geohash_udeg):
    7-char cell per synthetic point (pure-Catalyst integer bit-interleave
    fold), plus the per-5-char-prefix occupancy count — exercising the
    property that makes geohash useful at scale: prefix equality IS
    containment, so coarse-cell statistics need only a substring, never a
    re-encode. Oracle: an independent per-char div/mod arithmetic
    formulation of the interleave over the SAME exact integer indices
    (all-integer math, so cell boundaries cannot disagree by float
    rounding)."""
    pts = _points_df(spark, sf_dir)
    gh = geo.geohash_udeg(F.col("lng_udeg"), F.col("lat_udeg"), 7)
    d = pts.select("doc_id", gh.alias("gh7"))
    w = Window.partitionBy(F.substring("gh7", 1, 5))
    return d.select(
        "doc_id", "gh7",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_in_cell5"))


def _geohash_sql_char(c: int) -> str:
    """One base-32 output char as div/mod arithmetic over the bit indices
    (independent of the Spark shift/or-fold formulation)."""
    terms = []
    for k in range(5):
        j = 5 * c + k
        if j % 2 == 0:
            src, s = "lng_idx", 17 - j // 2
        else:
            src, s = "lat_idx", 16 - (j - 1) // 2
        terms.append(f"(({src} // {1 << s}) % 2) * {1 << (4 - k)}")
    from ..functions.geo import GEOHASH_ALPHABET
    return (f"substr('{GEOHASH_ALPHABET}', "
            f"CAST({' + '.join(terms)} AS INT) + 1, 1)")


SQL_GEOHASH_CELLS = f"""
WITH {POINTS_CTE},
idx AS (
  SELECT doc_id,
    least(((lng_udeg + 180000000) * {1 << 18}) // 360000000,
          {(1 << 18) - 1}) AS lng_idx,
    least(((lat_udeg + 90000000) * {1 << 17}) // 180000000,
          {(1 << 17) - 1}) AS lat_idx
  FROM pts),
gh AS (
  SELECT doc_id,
    {' || '.join(_geohash_sql_char(c) for c in range(7))} AS gh7
  FROM idx)
SELECT doc_id, gh7,
       CAST(count(*) OVER (PARTITION BY substr(gh7, 1, 5)) AS BIGINT)
           AS n_in_cell5
FROM gh
"""


def q_warc_roundtrip(spark, sf_dir):
    """WARC ingestion round-trip (sources/warc.py): documents are packed
    into concatenated WARC/1.0 response records per archive file (pure
    Catalyst binary fold), then split back by the real Content-Length-
    driven mapInPandas parser. The oracle re-derives every parsed field
    (url->doc_id, WARC-Date->epoch micros, Content-Length, payload md5)
    directly from the documents table — so the gate proves the binary
    framing + header parse are exact, the same extraction-parity pattern
    as ``extract_text``."""
    from ..sources import warc as wc

    docs = _t(spark, sf_dir, "documents")
    files = wc.synth_warc_files(docs, docs_per_file=100)
    parsed = wc.parse_warc_records(files)
    return parsed.select(
        F.regexp_extract("url", r"doc/(\d+)$", 1).cast("bigint")
        .alias("doc_id"),
        "ts_us", "content_length",
        F.md5("payload").alias("payload_md5"))


SQL_WARC_ROUNDTRIP = """
SELECT doc_id,
       CAST(1577836800000000 + doc_id * 1000000 AS BIGINT) AS ts_us,
       CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
       md5(text) AS payload_md5
FROM documents
"""


def q_decontaminate_bloom(spark, sf_dir):
    """Bloom-prefiltered decontamination (operators/bloom.py): benchmark
    shingles (doc_id % 89 == 0) build a Bloom filter whose set-bit
    positions stay a DataFrame; the k=4 JVM xxhash64 bit tests are
    broadcast LEFT SEMI hash joins (zero Python, zero shuffle on the
    corpus side, zero driver collect — the inset probe's per-literal py4j
    plan build cost 29 s at sf0.1); only corpus shingles passing the
    filter reach the exact broadcast verify join, so the result is
    IDENTICAL to the plain operator (no false negatives by construction,
    false positives removed by the verify). The oracle is the exact
    computation — the gate therefore proves the prefilter is lossless,
    the same invariance pattern as ``skew_salted_agg`` vs plain
    GROUP BY."""
    from ..operators import bloom as bl

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 89 == 0)
    out = bl.decontaminate_bloom(docs, bench, n=3, min_shared=2,
                                 m_bits=1 << 18, k=4, probe="semijoin")
    return out.select("doc_id", "n_shared",
                      F.col("contaminated").cast("int").cast("bigint")
                      .alias("contaminated"))


SQL_DECONTAMINATE_BLOOM = f"""
WITH {SHINGLES_CTE},
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 89 = 0),
shared AS (
  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shared
  FROM sh s JOIN bench b ON s.shingle = b.shingle GROUP BY 1
),
base AS (SELECT DISTINCT doc_id FROM sh)
SELECT base.doc_id,
       coalesce(shared.n_shared, 0) AS n_shared,
       CAST(coalesce(shared.n_shared, 0) >= 2 AS BIGINT) AS contaminated
FROM base LEFT JOIN shared ON base.doc_id = shared.doc_id
"""


def q_asof_join(spark, sf_dir):
    """As-of join (operators/temporal.asof_join): every non-mark event gets
    the most recent mark row (event_id % 5 == 0, unique per (user, ts)) at
    or before its timestamp, per user — one keyed window shuffle, zero
    Python, no inequality join. Inclusive on equal timestamps. Oracle:
    DuckDB's NATIVE ``ASOF LEFT JOIN`` — an independent engine
    implementation of the same semantics, not a mirrored formulation.
    No-match rows are coalesced to sentinels (-1 / -1.0) on both sides so
    the compare never depends on engine null representation."""
    from ..operators import temporal as tp

    e = _t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp"))
    marks = (e.where(F.col("event_id") % 5 == 0)
             .groupBy("user_id", "ts")
             .agg(F.max("event_id").alias("mark_id"),
                  F.max("value").alias("mark_value")))
    lefts = e.where(F.col("event_id") % 5 != 0).select(
        "event_id", "user_id", "ts")
    j = tp.asof_join(lefts, marks, on=["user_id"],
                     values=["mark_id", "mark_value"])
    return j.select(
        "event_id", "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.coalesce(F.col("mark_id_asof"), F.lit(-1)).cast("bigint")
        .alias("mark_id"),
        F.coalesce(F.unix_micros("matched_ts_asof"), F.lit(-1))
        .cast("bigint").alias("mark_ts_us"),
        F.coalesce(F.col("mark_value_asof"), F.lit(-1.0)).alias("mark_value"))


SQL_ASOF_JOIN = """
WITH marks AS (
  SELECT user_id, ts, max(event_id) AS mark_id, max(value) AS mark_value
  FROM events WHERE event_id % 5 = 0 GROUP BY user_id, ts),
l AS (SELECT event_id, user_id, ts FROM events WHERE event_id % 5 <> 0)
SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
       CAST(coalesce(m.mark_id, -1) AS BIGINT) AS mark_id,
       CAST(coalesce(epoch_us(m.ts), -1) AS BIGINT) AS mark_ts_us,
       coalesce(m.mark_value, -1.0) AS mark_value
FROM l ASOF LEFT JOIN marks m ON l.user_id = m.user_id AND l.ts >= m.ts
"""


def q_range_join(spark, sf_dir):
    """Interval containment join (operators/temporal.interval_join_points):
    mark events (event_id % 7 == 0) open a [ts, ts + (1 + id%50) min)
    window; every other event is matched by containment via the BINNED
    equi-join (bin width 1 h >= max interval length, so each interval
    covers <= 2 bins) — no O(n*m) inequality join, one equi-join shuffle.
    Aggregated per interval; empty intervals kept with zeros. Oracle: the
    plain inequality join DuckDB executes natively (its IEJoin)."""
    from ..operators import temporal as tp

    e = _t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp"))
    iv = (e.where(F.col("event_id") % 7 == 0)
          .select(F.col("event_id").alias("interval_id"),
                  F.col("ts").alias("start_ts"),
                  F.timestamp_micros(
                      F.unix_micros("ts") +
                      (F.lit(1) + F.col("event_id") % 50) * F.lit(60_000_000))
                  .alias("end_ts")))
    pts = e.where(F.col("event_id") % 7 != 0).select("event_id", "ts")
    matched = tp.interval_join_points(
        pts, iv, pt_ts="ts", start="start_ts", end="end_ts",
        bin_width_us=3_600_000_000)
    agg = (matched.groupBy("interval_id")
           .agg(F.count(F.lit(1)).alias("n_pts"),
                F.sum("event_id").alias("sum_ids")))
    return (iv.select("interval_id").join(agg, "interval_id", "left")
            .select("interval_id",
                    F.coalesce(F.col("n_pts"), F.lit(0)).cast("bigint")
                    .alias("n_pts"),
                    F.coalesce(F.col("sum_ids"), F.lit(0)).cast("bigint")
                    .alias("sum_ids")))


SQL_RANGE_JOIN = """
WITH iv AS (
  SELECT event_id AS interval_id, epoch_us(ts) AS s_us,
         epoch_us(ts) + (1 + event_id % 50) * 60000000 AS e_us
  FROM events WHERE event_id % 7 = 0),
p AS (SELECT event_id, epoch_us(ts) AS t_us
      FROM events WHERE event_id % 7 <> 0)
SELECT iv.interval_id,
       CAST(count(p.event_id) AS BIGINT) AS n_pts,
       CAST(coalesce(sum(p.event_id), 0) AS BIGINT) AS sum_ids
FROM iv LEFT JOIN p ON p.t_us >= iv.s_us AND p.t_us < iv.e_us
GROUP BY iv.interval_id
"""


def q_heavy_hitters(spark, sf_dir):
    """Vocabulary heavy hitters (operators/frequent.py): tokens whose
    count exceeds N/(k+1) of the token stream, found with the
    Misra-Gries per-partition sketch (map-only, <= k candidates per
    partition) + exact verify over candidates only.  The oracle is the
    PLAIN exact groupBy+HAVING — so the gate proves the sketch
    prefilter is LOSSLESS (pigeonhole guarantee), the same invariance
    pattern as ``decontaminate_bloom`` and ``skew_salted_agg``."""
    from ..operators import frequent as fq
    from ..operators.text import _tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(_tokens(F.col("text"))).alias("tok"))
    return fq.heavy_hitters(toks, "tok", k=30)


SQL_HEAVY_HITTERS = """
WITH toks AS (
  SELECT unnest(list_filter(
      string_split_regex(lower(trim(text)), '[^a-z0-9_]+'),
      x -> x <> '')) AS key
  FROM documents),
n AS (SELECT count(*) AS n_total FROM toks)
SELECT key, CAST(count(*) AS BIGINT) AS cnt
FROM toks, n
GROUP BY key, n.n_total
HAVING count(*) * 31 > n.n_total
"""


def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted Bernoulli sample
    (sampling.weighted_sample): keep probability proportional to
    n_chars (clamped at 1000) via the md5 bucket and an all-integer
    cross-multiply — the kept set is a pure function of
    (doc_id, salt, weight), so the oracle reproduces it exactly."""
    from ..operators import sampling as sp

    docs = _t(spark, sf_dir, "documents")
    return (sp.weighted_sample(docs, "n_chars", max_weight=1000,
                               key_col="doc_id", salt="w0")
            .select("doc_id", "n_chars"))


SQL_WEIGHTED_SAMPLE = """
SELECT doc_id, n_chars
FROM documents
WHERE (CAST(concat('0x',
         substr(md5(CAST(doc_id AS VARCHAR) || 'w0'), 1, 15))
       AS BIGINT) % 1000000) * 1000
      < greatest(least(n_chars, 1000), 0) * 1000000
"""


def q_grid_cluster(spark, sf_dir):
    """Grid-density spatial clustering (operators/spatial_cluster.py,
    DBSCAN-lite): points snap to an eps=4000-udeg integer grid, cells
    with >= 3 points are core, 8-adjacent core cells merge via the
    alternating-CC operator (clustering runs on CELLS, never points),
    labels = min packed cell key, non-core points are noise (-1).
    Oracle: an independent DuckDB RECURSIVE-CTE transitive closure over
    the same integer cells (inequality-join adjacency, fixpoint by
    label reachability — not a port of the star-contraction rounds)."""
    from ..operators import spatial_cluster as sc

    pts = _points_df(spark, sf_dir)
    out = sc.grid_cluster(pts, eps_udeg=4000, min_count=3)
    return out.select("doc_id", "cell", "cluster")


SQL_GRID_CLUSTER = f"""
WITH RECURSIVE {POINTS_CTE},
cells AS (
  SELECT doc_id,
         CAST(floor(lng_udeg / 4000.0) AS BIGINT) AS cx,
         CAST(floor(lat_udeg / 4000.0) AS BIGINT) AS cy
  FROM pts),
keyed AS (
  SELECT doc_id, cx, cy,
         (cx + 1048576) * 2097152 + (cy + 1048576) AS cell
  FROM cells),
core AS (
  SELECT cx, cy, cell FROM (
    SELECT cx, cy, (cx + 1048576) * 2097152 + (cy + 1048576) AS cell,
           count(*) AS n
    FROM cells GROUP BY 1, 2) WHERE n >= 3),
edges AS (
  SELECT a.cell AS ca, b.cell AS cb
  FROM core a JOIN core b
    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
   AND a.cell <> b.cell),
r(cell, lab) AS (
  SELECT cell, cell FROM core
  UNION
  SELECT e.ca, r.lab FROM r JOIN edges e ON e.cb = r.cell),
lab AS (SELECT cell, min(lab) AS lab FROM r GROUP BY cell)
SELECT k.doc_id, k.cell,
       CAST(coalesce(l.lab, -1) AS BIGINT) AS cluster
FROM keyed k LEFT JOIN lab l ON k.cell = l.cell
"""


def q_funnel_stages(spark, sf_dir):
    """Ordered-funnel analysis (temporal.funnel_stages): per user, how far
    through view -> signup -> purchase (strictly increasing timestamps,
    other events allowed in between); earliest-completion recurrence.
    Oracle re-derives the per-step min-ts chain with plain SQL joins."""
    from ..operators import temporal as tp

    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp"))  # NTZ -> LTZ (UTC session)
    return tp.funnel_stages(ev, ["view", "signup", "purchase"])


SQL_FUNNEL_STAGES = """
WITH u AS (SELECT DISTINCT user_id FROM events),
s1 AS (SELECT user_id, min(ts) AS t1 FROM events
       WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT e.user_id, min(e.ts) AS t2
       FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
       WHERE e.event_type = 'signup' GROUP BY 1),
s3 AS (SELECT e.user_id, min(e.ts) AS t3
       FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
       WHERE e.event_type = 'purchase' GROUP BY 1)
SELECT u.user_id,
  CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage,
  epoch_us(coalesce(t3, t2, t1)) AS completed_ts_us
FROM u LEFT JOIN s1 ON u.user_id = s1.user_id
       LEFT JOIN s2 ON u.user_id = s2.user_id
       LEFT JOIN s3 ON u.user_id = s3.user_id
"""


def q_bm25_topk(spark, sf_dir):
    """BM25 retrieval (operators/retrieval.py): integer-exact Okapi
    scoring (k1=1.2, b=0.75 as exact rationals, `div` arithmetic — no
    transcendental, so engines agree bit-for-bit) over word-bigram
    postings; 8 corpus-derived two-term probe queries; top-10 per query
    by (score desc, doc_id).  The posting probe is a broadcast join on
    term — the corpus is never reshuffled per query."""
    from ..operators import retrieval as rt

    docs = _t(spark, sf_dir, "documents")
    post = rt.postings(docs).localCheckpoint(eager=True)
    qs = rt.corpus_queries(docs, n_queries=8, skip=5, post=post)
    return rt.bm25_topk(docs, qs, k=10, post=post)


def q_phrase_search(spark, sf_dir):
    """Exact phrase search over the positional inverted index
    (operators/retrieval.py): corpus-derived 4-token probe phrases
    (every 97th doc, tokens 3..6), consecutive-position match via the
    base = pos - qpos normalization; broadcast phrase relation, one
    partial-agg groupBy keyed by (query, doc, base)."""
    from ..operators import retrieval as rt

    docs = _t(spark, sf_dir, "documents")
    phrases = rt.corpus_phrases(docs, every=97, start=3, length=4)
    return rt.phrase_match(docs, phrases)


SQL_PHRASE_SEARCH = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents),
post AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i+1] AS term
  FROM toks, UNNEST(range(len(t))) AS u(i)),
qt AS (
  SELECT doc_id AS query_id, CAST(j AS BIGINT) AS qpos, t[4+j] AS term
  FROM toks, UNNEST(range(4)) AS v(j)
  WHERE doc_id % 97 = 0 AND len(t) >= 7),
hits AS (
  SELECT q.query_id, p.doc_id, p.pos - q.qpos AS base, q.qpos
  FROM post p JOIN qt q ON p.term = q.term
  WHERE p.pos - q.qpos >= 0),
m AS (
  SELECT query_id, doc_id, base
  FROM hits GROUP BY 1, 2, 3 HAVING count(DISTINCT qpos) = 4)
SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_hits,
       min(base) AS first_pos
FROM m GROUP BY 1, 2
"""


SQL_BM25_TOPK = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)),
                                        '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents),
occ AS (
  SELECT doc_id, t[i+1] || ' ' || t[i+2] AS term
  FROM toks, UNNEST(range(greatest(len(t) - 1, 0))) AS u(i)),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM occ GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
       FROM occ GROUP BY 1),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(dl) AS BIGINT) AS t FROM dl),
dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        FROM tf GROUP BY 1),
ranked AS (
  SELECT term, row_number() OVER (ORDER BY df DESC, term) AS r
  FROM dfq),
queries AS (
  SELECT CAST((r - 6) // 2 AS BIGINT) AS query_id, term
  FROM ranked WHERE r > 5 AND r <= 21),
score AS (
  SELECT q.query_id, tf.doc_id,
    CAST(sum(
      ((((s.n - dfq.df) * 1000000) // dfq.df + 1000000)
       * ((22 * tf.tf * s.t * 1000000)
          // (10 * tf.tf * s.t + 3 * s.t + 9 * dl.dl * s.n)))
      // 1000000) AS BIGINT) AS score_micro
  FROM tf
  JOIN queries q USING (term)
  JOIN dfq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY 1, 2)
SELECT query_id, rank, doc_id, score_micro FROM (
  SELECT query_id, doc_id, score_micro,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
  FROM score)
WHERE rank <= 10
"""


def q_extract_links(spark, sf_dir):
    """Anchor extraction (operators/links.py): documents wrapped in pages
    carrying six anchor variants — absolute, root-relative
    (single-quoted, uppercase tag, rel=nofollow), protocol-relative,
    fragment-only, mailto:, and dotted-relative (the last three must be
    DROPPED) — extracted and resolved with the pure-Catalyst regex
    chain.  Oracle re-derives tags/href/rel/resolution with DuckDB RE2
    regexes (the patterns avoid lookarounds so the engines agree)."""
    from ..operators import links as lk

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(F.lit("https://site"), (did % 10).cast("string"),
                   F.lit(".example.com/page/"), did.cast("string"))
    page = F.concat(
        F.lit('<html><body><a href="https://ex.org/d/'),
        ((did * 7) % 997).cast("string"),
        F.lit('">a</a><A HREF=\'/p/'),
        ((did * 11) % 997).cast("string"),
        F.lit('\' rel="nofollow">b</A><a class="x" href="//cdn.ex.net/r/'),
        ((did * 13) % 997).cast("string"),
        F.lit('">c</a><a href="#frag">d</a>'
              '<a href="mailto:x@y.z">e</a>'
              '<a href="rel/path">f</a></body></html>'))
    pages = docs.select(did.alias("doc_id"), url.alias("url"),
                        page.alias("html"))
    out = lk.extract_links(pages)
    return (pages.select("doc_id", "url").join(out, "url")
            .select("doc_id", "dst_url",
                    F.col("nofollow").cast("int").cast("bigint")
                    .alias("nofollow")))


SQL_EXTRACT_LINKS = """
WITH pages AS (
  SELECT doc_id,
    'https://site' || CAST(doc_id % 10 AS VARCHAR)
      || '.example.com/page/' || CAST(doc_id AS VARCHAR) AS url,
    '<html><body><a href="https://ex.org/d/'
      || CAST((doc_id * 7) % 997 AS VARCHAR)
      || '">a</a><A HREF=''/p/' || CAST((doc_id * 11) % 997 AS VARCHAR)
      || ''' rel="nofollow">b</A><a class="x" href="//cdn.ex.net/r/'
      || CAST((doc_id * 13) % 997 AS VARCHAR)
      || '">c</a><a href="#frag">d</a><a href="mailto:x@y.z">e</a>'
      || '<a href="rel/path">f</a></body></html>' AS html
  FROM documents),
tags AS (
  SELECT doc_id, url,
         unnest(regexp_extract_all(html, '(?i)<a\\s[^>]*>', 0)) AS tag
  FROM pages),
parsed AS (
  SELECT doc_id, url, tag,
    regexp_extract(tag, '(?i)href\\s*=\\s*["'']([^"''#]+)["'']', 1)
        AS href,
    regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*):', 1) AS scheme,
    regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*://[^/]+)', 1)
        AS origin
  FROM tags),
resolved AS (
  SELECT doc_id,
    CASE WHEN regexp_matches(href, '(?i)^https?://') THEN href
         WHEN href LIKE '//%' THEN scheme || ':' || href
         WHEN href LIKE '/%' THEN origin || href
         ELSE NULL END AS dst_url,
    CAST(regexp_matches(tag,
         '(?i)rel\\s*=\\s*["''][^"'']*nofollow[^"'']*["'']')
         AS BIGINT) AS nofollow
  FROM parsed)
SELECT doc_id, dst_url, nofollow FROM resolved WHERE dst_url IS NOT NULL
"""


def q_hll_registers(spark, sf_dir):
    """HyperLogLog registers (operators/cardinality.py): distinct-shingle
    cardinality sketch with the engine-portable 60-bit md5 hash, p=10.
    One partial-agg groupBy bounded at 2^p rows regardless of corpus
    size; registers are mergeable (elementwise max — pytest).  The gate
    compares the INTEGER registers bit-for-bit (the float estimate is
    derived outside the gate); the oracle recomputes bucket/rho with
    div-mod arithmetic + the unpadded-binary floor_log2 identity."""
    from ..operators import cardinality as cd

    docs = _t(spark, sf_dir, "documents")
    sh = dd.shingles(docs)
    return cd.hll_registers(sh, "shingle", p=10)


SQL_HLL_REGISTERS = f"""
WITH {SHINGLES_CTE},
h AS (
  SELECT CAST(concat('0x', substr(md5(shingle || 'hll'), 1, 15))
              AS BIGINT) AS hv
  FROM sh),
br AS (
  SELECT hv // {1 << 50} AS bucket, hv % {1 << 50} AS rest FROM h)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(max(CASE WHEN rest = 0 THEN 51
                     ELSE 50 - (length(bin(rest)) - 1) END)
            AS BIGINT) AS r
FROM br GROUP BY bucket
"""


def q_crawl_delta(spark, sf_dir):
    """Crawl snapshot delta (operators/delta.py): two synthetic crawl
    snapshots derived from documents — doc_id % 17 == 0 removed,
    % 13 == 0 (and not removed) content-changed, % 19 == 0 re-added
    under a new url — classified added/removed/changed/unchanged by ONE
    full-outer join on url with md5 content fingerprints.  Oracle: the
    same snapshot derivation + DuckDB's FULL OUTER JOIN."""
    from ..operators import delta as dl

    docs = _t(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://example.org/doc/"),
                   F.col("doc_id").cast("string"))
    old = docs.select(url.alias("url"), F.md5("text").alias("fingerprint"))
    kept = (docs.where(F.col("doc_id") % 17 != 0)
            .select(url.alias("url"),
                    F.md5(F.when(F.col("doc_id") % 13 == 0,
                                 F.concat(F.col("text"), F.lit(" v2")))
                          .otherwise(F.col("text"))).alias("fingerprint")))
    added = (docs.where(F.col("doc_id") % 19 == 0)
             .select(F.concat(url, F.lit("/new")).alias("url"),
                     F.md5("text").alias("fingerprint")))
    new = kept.unionAll(added)
    return dl.crawl_delta(old, new).select(
        "key", "status",
        F.coalesce("old_fp", F.lit("-")).alias("old_fp"),
        F.coalesce("new_fp", F.lit("-")).alias("new_fp"))


def q_scd2_history(spark, sf_dir):
    """SCD-type-2 history merge (operators/delta.py): a prior history
    (open rows for doc_id % 19 != 0, plus closed v0 rows for % 7 == 0)
    folds in a snapshot at ts=200 where % 13 == 0 vanished and % 5 == 0
    changed content.  Exercises all five routes — carried closed rows,
    kept-open unchanged, close-on-change, close-on-remove, open-new —
    through one full-outer join + single-pass row explode.  Open rows
    surface as valid_to = -1 (the gate compare needs non-null bigints);
    oracle is an independent four-branch UNION ALL."""
    from ..operators import delta as dl

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(F.lit("https://"), F.col("source"),
                   F.lit("/doc/"), did.cast("string"))
    open_rows = (docs.where(did % 19 != 0)
                 .select(url.alias("url"), F.md5("text").alias("fingerprint"),
                         (did % 50).cast("bigint").alias("valid_from"),
                         F.lit(None).cast("bigint").alias("valid_to")))
    closed_rows = (docs.where((did % 7 == 0) & (did % 19 != 0))
                   .select(url.alias("url"),
                           F.md5(F.concat(F.col("text"), F.lit(" v0")))
                           .alias("fingerprint"),
                           F.lit(0).cast("bigint").alias("valid_from"),
                           (did % 50).cast("bigint").alias("valid_to")))
    history = open_rows.unionByName(closed_rows)
    snapshot = (docs.where(did % 13 != 0)
                .select(url.alias("url"),
                        F.md5(F.when(did % 5 == 0,
                                     F.concat(F.col("text"), F.lit(" v2")))
                              .otherwise(F.col("text"))).alias("fingerprint")))
    out = dl.scd2_history_merge(history, snapshot, ts=200)
    return out.select(
        "url", "fingerprint", "valid_from",
        F.coalesce("valid_to", F.lit(-1)).cast("bigint").alias("valid_to"))


SQL_SCD2_HISTORY = """
WITH hist_open AS (
  SELECT 'https://' || source || '/doc/' || CAST(doc_id AS VARCHAR) AS url,
         md5(text) AS fp, CAST(doc_id % 50 AS BIGINT) AS valid_from
  FROM documents WHERE doc_id % 19 <> 0),
hist_closed AS (
  SELECT 'https://' || source || '/doc/' || CAST(doc_id AS VARCHAR) AS url,
         md5(text || ' v0') AS fp, CAST(0 AS BIGINT) AS valid_from,
         CAST(doc_id % 50 AS BIGINT) AS valid_to
  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 19 <> 0),
snap AS (
  SELECT 'https://' || source || '/doc/' || CAST(doc_id AS VARCHAR) AS url,
         md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS fp
  FROM documents WHERE doc_id % 13 <> 0),
j AS (
  SELECT coalesce(o.url, s.url) AS url, o.fp, o.valid_from, s.fp AS snap_fp,
         o.url IS NOT NULL AS h, s.url IS NOT NULL AS sp
  FROM hist_open o FULL OUTER JOIN snap s ON o.url = s.url)
SELECT url, fp AS fingerprint, valid_from, valid_to FROM hist_closed
UNION ALL
SELECT url, fp, valid_from, CAST(-1 AS BIGINT)
FROM j WHERE h AND sp AND fp = snap_fp
UNION ALL
SELECT url, fp, valid_from, CAST(200 AS BIGINT)
FROM j WHERE h AND NOT (sp AND fp = snap_fp)
UNION ALL
SELECT url, snap_fp, CAST(200 AS BIGINT), CAST(-1 AS BIGINT)
FROM j WHERE sp AND NOT (h AND fp = snap_fp)
"""


SQL_CRAWL_DELTA = """
WITH old AS (
  SELECT 'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS url,
         md5(text) AS fp
  FROM documents),
new AS (
  SELECT 'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS url,
         md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END)
             AS fp
  FROM documents WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT 'https://example.org/doc/' || CAST(doc_id AS VARCHAR) || '/new',
         md5(text)
  FROM documents WHERE doc_id % 19 = 0)
SELECT coalesce(old.url, new.url) AS key,
  CASE WHEN old.url IS NULL THEN 'added'
       WHEN new.url IS NULL THEN 'removed'
       WHEN old.fp = new.fp THEN 'unchanged'
       ELSE 'changed' END AS status,
  coalesce(old.fp, '-') AS old_fp,
  coalesce(new.fp, '-') AS new_fp
FROM old FULL OUTER JOIN new ON old.url = new.url
"""


_LOG_HIST_CTE = """
b AS (SELECT CAST(n_chars AS BIGINT) AS v FROM documents WHERE n_chars >= 1),
p AS (SELECT v, CAST(power(2, CAST(length(bin(v)) - 1 AS BIGINT)) AS BIGINT)
               AS powe,
             CAST(length(bin(v)) - 1 AS BIGINT) AS e FROM b),
sb AS (SELECT v, e, powe,
       CAST(floor((v - powe) * 8 / CAST(powe AS DOUBLE)) AS BIGINT) AS s
       FROM p),
hist AS (
  SELECT e * 8 + s AS bin_id,
         powe + CAST(floor(s * powe / 8.0) AS BIGINT) AS lo,
         powe + CAST(floor((s + 1) * powe / 8.0) AS BIGINT) AS hi,
         CAST(count(*) AS BIGINT) AS cnt
  FROM sb GROUP BY 1, 2, 3)"""


def q_length_histogram(spark, sf_dir):
    """Mergeable log-scaled histogram sketch of doc length
    (stats.log_histogram, DDSketch/HdrHistogram family): 8 sub-bins per
    octave, all-integer bin ids and bounds — registers bit-for-bit vs
    the oracle's independent binary-digit-count formulation."""
    from ..operators import stats as st

    docs = _t(spark, sf_dir, "documents")
    return st.log_histogram(docs, "n_chars", subbins=8)


SQL_LENGTH_HISTOGRAM = f"""
WITH {_LOG_HIST_CTE}
SELECT bin_id, lo, hi, cnt FROM hist
"""


def q_length_quantile_bounds(spark, sf_dir):
    """Quantile BOUNDS read from the log-histogram sketch
    (stats.histogram_quantiles): p50/p90/p99 of doc length as [lo, hi)
    bin bounds with guaranteed relative error <= 1/8; the same integer
    rank rule as value_quantiles, run over the O(bins) register
    relation."""
    from ..operators import stats as st

    docs = _t(spark, sf_dir, "documents")
    hist = st.log_histogram(docs, "n_chars", subbins=8)
    return st.histogram_quantiles(hist, [500_000, 900_000, 990_000])


SQL_LENGTH_QUANTILE_BOUNDS = f"""
WITH {_LOG_HIST_CTE},
c AS (SELECT bin_id, sum(cnt) OVER (ORDER BY bin_id) AS cum FROM hist),
n AS (SELECT sum(cnt) AS n FROM hist),
t AS (SELECT q, (q * n.n + 999999) // 1000000 AS tgt
      FROM (VALUES (500000), (900000), (990000)) AS qv(q), n),
f AS (SELECT t.q AS q_ppm, min(c.bin_id) AS bin_id
      FROM c JOIN t ON c.cum >= t.tgt GROUP BY 1)
SELECT CAST(f.q_ppm AS BIGINT) AS q_ppm, h.lo, h.hi
FROM f JOIN hist h USING (bin_id)
"""


def q_compaction_plan(spark, sf_dir):
    """Small-file compaction planning (sources/layout.compaction_plan):
    synthetic file listing (one 'file' per doc, bytes = n_chars),
    path-order cumulative packing at target 64 KiB — Spark's own
    FilePartition / OPTIMIZE bin rule; oracle re-derives the prefix-sum
    bucketing with window SQL."""
    from ..sources import layout as ly

    docs = _t(spark, sf_dir, "documents")
    files = docs.select(
        F.format_string("part-%05d.parquet", F.col("doc_id")).alias("path"),
        F.col("n_chars").alias("bytes"))
    return ly.compaction_plan(files, target_bytes=65536)


SQL_COMPACTION_PLAN = """
WITH f AS (
  SELECT printf('part-%05d.parquet', doc_id) AS path,
         CAST(n_chars AS BIGINT) AS bytes
  FROM documents),
c AS (
  SELECT path, bytes,
         CAST(coalesce(sum(bytes) OVER (ORDER BY path
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              // 65536 AS BIGINT) AS task_id
  FROM f)
SELECT path, bytes, task_id,
       CAST(row_number() OVER (PARTITION BY task_id ORDER BY path) - 1
            AS BIGINT) AS task_seq
FROM c
"""


def q_bottom_k_sample(spark, sf_dir):
    """Bottom-k (KMV) distinct sample per language
    (sampling.bottom_k_sketch): the 16 distinct doc_ids with the
    smallest md5 hash per lang — mergeable distinct-value sketch;
    oracle re-derives the hash + window rank independently."""
    from ..operators import sampling as sp

    docs = _t(spark, sf_dir, "documents")
    return sp.bottom_k_sketch(docs, "doc_id", k=16, group_cols=["lang"])


SQL_BOTTOM_K_SAMPLE = """
WITH d AS (SELECT DISTINCT lang, doc_id FROM documents),
h AS (SELECT lang, doc_id,
      CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || 'bk0'),
                               1, 15)) AS BIGINT) AS h
      FROM d),
r AS (SELECT lang, doc_id, h,
      CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)
           AS BIGINT) AS r
      FROM h)
SELECT lang, doc_id, h, r FROM r WHERE r <= 16
"""


def q_length_quantiles(spark, sf_dir):
    """Exact type-1 quantiles of doc length (operators/stats.py): one
    partial-agg pass builds per-value counts, the running-sum window
    runs over the SMALL distinct-value relation (never a global row
    sort), target ranks are all-integer ceil(q*n/1e6).  Oracle: the
    identical two-level grouped-cumsum formulation."""
    from ..operators import stats as st

    docs = _t(spark, sf_dir, "documents")
    return st.value_quantiles(
        docs, "n_chars", [10_000, 250_000, 500_000, 750_000, 990_000])


SQL_LENGTH_QUANTILES = """
WITH c AS (SELECT n_chars AS v, count(*) AS c FROM documents GROUP BY 1),
cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM c),
n AS (SELECT count(*) AS n FROM documents),
t AS (
  SELECT q, (q * n.n + 999999) // 1000000 AS tgt
  FROM (VALUES (10000), (250000), (500000), (750000), (990000)) AS qv(q),
       n)
SELECT CAST(t.q AS BIGINT) AS q_ppm, CAST(min(cum.v) AS BIGINT) AS value
FROM t JOIN cum ON cum.cum >= t.tgt
GROUP BY 1
"""


def q_ingest_e2e(spark, sf_dir):
    """End-to-end crawl ingest (sources/warc.py + operators/html.py +
    operators/text.py composed): documents wrapped in full html pages,
    packed into WARC archives (JVM binary fold), re-parsed by the
    Content-Length-driven record parser, payload html re-extracted to
    text, and quality features computed on the EXTRACTED text — the
    whole ingest front of the curation pipeline in one lineage, gate-
    checked against an oracle that composes the same derivations in
    DuckDB.  Proves the stages compose losslessly, not just pass alone."""
    from ..operators import html as ht
    from ..operators import text as tx
    from ..sources import warc as wc

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    page = F.concat(
        F.lit('<html><head><title>T&amp;C</title>'
              '<script>if(a<b){s="</p>"}</script>'
              '<style>p{color:red}</style></head>'
              '<body><!-- no --><h1>&quot;Doc&quot; '),
        did.cast("string"),
        F.lit('</h1><p>'), F.col("text"),
        F.lit(' &nbsp;&lt;end&gt;</p></body></html>'))
    pages = docs.select("doc_id", page.alias("page"))
    files = wc.synth_warc_files(pages, docs_per_file=100, text_col="page")
    parsed = wc.parse_warc_records(files)
    ex = ht.html_extract_text(F.decode(F.col("payload"), "UTF-8"))
    feats = tx.quality_score(parsed.select(
        F.regexp_extract("url", r"doc/(\d+)$", 1).cast("bigint")
        .alias("doc_id"),
        "content_length", ex.alias("text")))
    return feats.select(
        "doc_id", "content_length", "n_tokens",
        F.floor(F.col("quality") * 100 + F.lit(0.5)).cast("bigint")
        .alias("quality_e2"))


SQL_INGEST_E2E = """
WITH pages AS (
  SELECT doc_id,
    '<html><head><title>T&amp;C</title><script>if(a<b){s="</p>"}</script>'
    || '<style>p{color:red}</style></head><body><!-- no --><h1>&quot;Doc&quot; '
    || CAST(doc_id AS VARCHAR) || '</h1><p>' || text
    || ' &nbsp;&lt;end&gt;</p></body></html>' AS page
  FROM documents),
ex AS (
  SELECT doc_id,
    CAST(octet_length(encode(page)) AS BIGINT) AS content_length,
    trim(regexp_replace(
      replace(replace(replace(replace(replace(replace(
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(page,
          '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
          '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
          '(?s)<!--.*?-->', ' ', 'g'),
          '<[^>]*>', ' ', 'g'),
        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        '&nbsp;', ' '), '&amp;', '&'),
      '\\s+', ' ', 'g')) AS text
  FROM pages),
f AS (
  SELECT doc_id, content_length,
    CAST(length(text) AS BIGINT) AS ln,
    CAST(len(list_filter(string_split_regex(trim(text), '[^A-Za-z0-9_]+'),
        x -> x <> '')) AS BIGINT) AS n_tokens,
    CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
         AS BIGINT) AS n_alpha,
    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
         AS BIGINT) AS n_punct
  FROM ex),
r AS (
  SELECT *,
    CASE WHEN ln > 0 THEN CAST(n_punct AS DOUBLE) / CAST(ln AS DOUBLE)
         ELSE 0.0 END AS punct_ratio,
    CASE WHEN n_tokens > 0 THEN CAST(n_alpha AS DOUBLE)
                                / CAST(n_tokens AS DOUBLE)
         ELSE 0.0 END AS mean_tok
  FROM f)
SELECT doc_id, content_length, n_tokens,
  CAST(floor(((CASE WHEN ln >= 200 AND ln <= 20000 THEN 0.4 ELSE 0.0 END)
   + (CASE WHEN punct_ratio <= 0.1 THEN 0.3 ELSE 0.0 END)
   + (CASE WHEN mean_tok >= 3.0 AND mean_tok <= 12.0 THEN 0.3 ELSE 0.0 END))
   * 100 + 0.5) AS BIGINT) AS quality_e2
FROM r
"""


def q_cms_registers(spark, sf_dir):
    """Count-min sketch registers (operators/cms.py): token-frequency
    sketch, depth 4 x width 256, salted 60-bit md5 row hashes.  One
    explode + ONE partial-agg groupBy bounded at d*w rows regardless of
    corpus size; registers mergeable by elementwise sum (pytest), point
    estimates never undercount (pytest).  The gate compares the INTEGER
    registers bit-for-bit; the oracle recomputes each row's bucket with
    the same md5-salt + mod arithmetic."""
    from ..operators import cms

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(
        F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9_]+"),
                 lambda t: t != "")).alias("tok"))
    return cms.cms_registers(toks, "tok", depth=4, width=256)


def _cms_sql(depth: int = 4, width: int = 256) -> str:
    cells = " UNION ALL ".join(
        f"SELECT {r} AS rw, CAST(concat('0x', substr(md5(tok || ':cms{r}'),"
        f" 1, 15)) AS BIGINT) % {width} AS bucket FROM tok"
        for r in range(depth))
    return f"""
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents),
tok AS (SELECT u.tok AS tok FROM toks, UNNEST(t) AS u(tok)),
cells AS ({cells})
SELECT CAST(rw AS BIGINT) AS row, CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS cnt
FROM cells GROUP BY 1, 2
"""


SQL_CMS_REGISTERS = _cms_sql()


def q_cms_estimate(spark, sf_dir):
    """CMS point-estimate probe (cms.cms_estimate): for every token whose
    exact count >= 50, the estimate = min over the d register rows at the
    token's salted buckets (broadcast probe, map-local).  Integer mins
    over integer sums — the oracle recomputes registers AND probe with
    the same md5+mod arithmetic, so estimates match bit-for-bit; the
    never-undercount guarantee itself is pytest-proven."""
    from ..operators import cms

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(
        F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9_]+"),
                 lambda t: t != "")).alias("tok")).persist()
    regs = cms.cms_registers(toks, "tok", depth=4, width=256)
    keys = (toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") >= 50).select("tok"))
    return cms.cms_estimate(regs, keys, "tok", depth=4, width=256)


def _cms_estimate_sql(depth: int = 4, width: int = 256) -> str:
    cells = " UNION ALL ".join(
        f"SELECT {r} AS rw, CAST(concat('0x', substr(md5(tok || ':cms{r}'),"
        f" 1, 15)) AS BIGINT) % {width} AS bucket FROM tok"
        for r in range(depth))
    probes = " UNION ALL ".join(
        f"SELECT tok AS key, {r} AS rw, CAST(concat('0x', substr(md5(tok ||"
        f" ':cms{r}'), 1, 15)) AS BIGINT) % {width} AS bucket FROM keys"
        for r in range(depth))
    return f"""
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents),
tok AS (SELECT u.tok AS tok FROM toks, UNNEST(t) AS u(tok)),
cells AS ({cells}),
regs AS (
  SELECT rw, bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM cells GROUP BY 1, 2),
keys AS (SELECT tok FROM tok GROUP BY tok HAVING count(*) >= 50),
probe AS ({probes})
SELECT p.key, CAST(min(coalesce(r.cnt, 0)) AS BIGINT) AS est
FROM probe p LEFT JOIN regs r ON r.rw = p.rw AND r.bucket = p.bucket
GROUP BY p.key
"""


SQL_CMS_ESTIMATE = _cms_estimate_sql()


def q_cms_join_size(spark, sf_dir):
    """Join-size estimation from two CMS sketches (cms.cms_inner_product,
    Cormode & Muthukrishnan 2005 §4.2): the planner-side estimate of
    |orders JOIN customer(custkey % 3 = 0)| computed purely from the two
    d*w register relations — min over rows of the per-row register dot
    product, never an undercount.  Integer products of integer sums; the
    oracle recomputes both registers and the same min/sum arithmetic, so
    the estimate matches bit-for-bit."""
    from ..operators import cms

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    a = cms.cms_registers(orders.select(F.col("o_custkey").alias("k")),
                          "k", depth=4, width=512)
    b = cms.cms_registers(cust.where(F.col("c_custkey") % 3 == 0)
                          .select(F.col("c_custkey").alias("k")),
                          "k", depth=4, width=512)
    return cms.cms_inner_product(a, b, depth=4)


def _cms_join_size_sql(depth: int = 4, width: int = 512) -> str:
    def cells(src: str) -> str:
        return " UNION ALL ".join(
            f"SELECT {r} AS rw, CAST(concat('0x', substr(md5(CAST(k AS "
            f"VARCHAR) || ':cms{r}'), 1, 15)) AS BIGINT) % {width} AS "
            f"bucket FROM {src}"
            for r in range(depth))
    return f"""
WITH ka AS (SELECT o_custkey AS k FROM orders),
kb AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 3 = 0),
ca AS ({cells('ka')}),
cb AS ({cells('kb')}),
ra AS (SELECT rw, bucket, CAST(count(*) AS BIGINT) AS cnt
       FROM ca GROUP BY 1, 2),
rb AS (SELECT rw, bucket, CAST(count(*) AS BIGINT) AS cnt
       FROM cb GROUP BY 1, 2),
p AS (SELECT ra.rw, sum(ra.cnt * rb.cnt) AS s
      FROM ra JOIN rb ON ra.rw = rb.rw AND ra.bucket = rb.bucket
      GROUP BY 1)
SELECT CAST(CASE WHEN (SELECT count(*) FROM p) < {depth} THEN 0
            ELSE (SELECT min(s) FROM p) END AS BIGINT) AS est_join_size
"""


SQL_CMS_JOIN_SIZE = _cms_join_size_sql()


# ---------------------------------------------------------------------------
# fourth-wave: HITS, zonal stats, containment join, URL template mining
# ---------------------------------------------------------------------------

def q_hits_scores(spark, sf_dir):
    """Integer-exact HITS hubs & authorities (graph.hits_scores): 2
    iterations of the mutually-recursive update over the deterministic
    doc link graph, each half-step max-normalized with pure integer
    multiply/floor-divide (ppm units) — bit-identical across engines and
    Spark's partial-agg merge orders. The oracle unrolls the same
    half-steps with the max as a scalar subquery."""
    from ..operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    nodes = docs.select(F.col("doc_id").alias("id"))
    edges = gr.synthetic_link_edges(docs, n)
    return (gr.hits_scores(nodes, edges, iters=2)
            .select(F.col("id").alias("doc_id"), "auth_e6", "hub_e6"))


_HITS_ITER = """
ar{i} AS (
  SELECT n.id, CAST(coalesce(s.s, 0) AS BIGINT) AS raw
  FROM nodes n LEFT JOIN (
    SELECT e.dst, sum(h{p}.hub) AS s
    FROM e JOIN h{p} ON e.src = h{p}.id GROUP BY 1) s ON n.id = s.dst),
a{i} AS (
  SELECT id, raw * 1000000 // greatest((SELECT max(raw) FROM ar{i}), 1)
         AS auth
  FROM ar{i}),
hr{i} AS (
  SELECT n.id, CAST(coalesce(s.s, 0) AS BIGINT) AS raw
  FROM nodes n LEFT JOIN (
    SELECT e.src, sum(a{i}.auth) AS s
    FROM e JOIN a{i} ON e.dst = a{i}.id GROUP BY 1) s ON n.id = s.src),
h{i} AS (
  SELECT id, raw * 1000000 // greatest((SELECT max(raw) FROM hr{i}), 1)
         AS hub
  FROM hr{i})"""

SQL_HITS = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
nodes AS (SELECT doc_id AS id FROM documents),
h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS hub FROM nodes),
""" + ",".join(_HITS_ITER.format(i=i, p=i - 1) for i in (1, 2)) + """
SELECT a2.id AS doc_id, CAST(a2.auth AS BIGINT) AS auth_e6,
       CAST(h2.hub AS BIGINT) AS hub_e6
FROM a2 JOIN h2 ON a2.id = h2.id
"""


def q_zonal_stats(spark, sf_dir):
    """Zonal statistics (raster.zonal_stats): the z=11 density raster
    aggregated inside 25 vector zones (a 5x5 udeg-grid tessellation of
    the fixture extent keyed by n_nationkey) — per zone the covered
    non-empty cell count, point total, and peak density. Spark routes
    zone fragments to raster cells via tile-key equi-join; the oracle is
    an independent pixel-range BETWEEN join — same inclusive-corner
    semantics, different join strategy."""
    from ..operators import raster as ra

    lng_step = fx.LNG_SPAN // 5
    lat_step = fx.LAT_SPAN // 5
    nation = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey").cast("bigint")
    zones = nation.select(
        k.alias("zone_id"),
        (F.lit(fx.LNG_MIN) + (k % 5) * lng_step).alias("lng_min_udeg"),
        (F.lit(fx.LNG_MIN) + (k % 5) * lng_step + lng_step)
        .alias("lng_max_udeg"),
        (F.lit(fx.LAT_MIN) + F.expr("n_nationkey div 5") * lat_step)
        .cast("bigint").alias("lat_min_udeg"),
        (F.lit(fx.LAT_MIN) + F.expr("n_nationkey div 5") * lat_step
         + lat_step).cast("bigint").alias("lat_max_udeg"))
    pts = _points_df(spark, sf_dir)
    r = ra.rasterize_points(pts, zoom=11, tile_px=16)
    return ra.zonal_stats(r, zones, zoom=11, tile_px=16)


def _zonal_stats_sql() -> str:
    lng_step = fx.LNG_SPAN // 5
    lat_step = fx.LAT_SPAN // 5

    def gx(expr: str) -> str:
        mx = MX_SQL.replace("lng_udeg", expr)
        return (f"GREATEST(CAST(0 AS BIGINT), LEAST(CAST(floor({mx} * "
                f"32768.0) AS BIGINT), 32767))")

    def gy(expr: str) -> str:
        my = MY_SQL.replace("lat_udeg", expr)
        return (f"GREATEST(CAST(0 AS BIGINT), LEAST(CAST(floor({my} * "
                f"32768.0) AS BIGINT), 32767))")

    return f"""
WITH {POINTS_CTE},
g AS (
  SELECT
    ((CAST(floor({MX_SQL} * 32768.0) AS BIGINT) % 32768 + 32768) % 32768)
        AS gx,
    GREATEST(CAST(0 AS BIGINT),
             LEAST(CAST(floor({MY_SQL} * 32768.0) AS BIGINT), 32767)) AS gy
  FROM pts
),
r AS (
  SELECT gx, gy, CAST(count(*) AS BIGINT) AS n_points
  FROM g GROUP BY 1, 2
),
zc AS (
  SELECT CAST(n_nationkey AS BIGINT) AS zone_id,
         CAST({fx.LNG_MIN} + (n_nationkey % 5) * {lng_step} AS BIGINT)
             AS lng_min,
         CAST({fx.LNG_MIN} + (n_nationkey % 5) * {lng_step} + {lng_step}
              AS BIGINT) AS lng_max,
         CAST({fx.LAT_MIN} + (n_nationkey // 5) * {lat_step} AS BIGINT)
             AS lat_min,
         CAST({fx.LAT_MIN} + (n_nationkey // 5) * {lat_step} + {lat_step}
              AS BIGINT) AS lat_max
  FROM nation
),
zp AS (
  SELECT zone_id,
         {gx("(lng_min * 1.0)")} AS gx0, {gx("(lng_max * 1.0)")} AS gx1,
         {gy("(lat_max * 1.0)")} AS gy0, {gy("(lat_min * 1.0)")} AS gy1
  FROM zc
)
SELECT zp.zone_id,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(r.n_points) AS BIGINT) AS n_points,
       CAST(max(r.n_points) AS BIGINT) AS max_density
FROM r JOIN zp
  ON r.gx BETWEEN zp.gx0 AND zp.gx1 AND r.gy BETWEEN zp.gy0 AND zp.gy1
GROUP BY 1
"""


SQL_ZONAL_STATS = _zonal_stats_sql()


def q_dedup_containment(spark, sf_dir):
    """Asymmetric set-containment near-dup join
    (dedup.containment_pairs): ordered pairs where >= 60% of A's 3-gram
    shingles appear in B — the quote/wire-copy detector symmetric
    Jaccard cannot express (a short doc embedded in a long page has
    containment ~1 but Jaccard ~0). Exact (no df cap at gate scale);
    all-integer decision and output. Oracle: brute-force shingle
    self-join."""
    from ..operators import dedup as dd2

    docs = _t(spark, sf_dir, "documents")
    return dd2.containment_pairs(docs, n=3, threshold_pct=60,
                                 min_shingles=3)


SQL_DEDUP_CONTAINMENT = f"""
WITH {SHINGLES_CTE},
sz AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
  FROM sh GROUP BY 1 HAVING count(*) >= 3),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_inter
  FROM sh a JOIN sh b
    ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2)
SELECT i.doc_a, i.doc_b, i.n_inter, s.n_sh AS na,
       CAST((100 * i.n_inter) // s.n_sh AS BIGINT) AS cont_pct
FROM inter i JOIN sz s ON i.doc_a = s.doc_id
WHERE 100 * i.n_inter >= 60 * s.n_sh
"""


def q_url_templates(spark, sf_dir):
    """URL path-template mining (urls.url_template_stats): digit
    segments -> "{n}", long hex segments (ids/hashes) -> "{h}",
    aggregate per (host, template) — the crawler-trap / infinite-URL-
    space detector. Fixture URLs mix date paths, 16-hex content ids,
    mixed-case static segments (case must survive), and small tag
    vocabularies. The oracle re-derives the path from doc_id and
    templates it with DuckDB list functions — independent of the
    engine's regex path extraction."""
    from ..operators import urls

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    m5 = did % 5
    path = (F.when(m5 == 0,
                   F.concat(F.lit("/post/"), (did % 97).cast("string"),
                            F.lit("/"),
                            F.substring(F.md5(did.cast("string")), 1, 16),
                            F.lit("/view")))
            .when(m5 == 1,
                  F.concat(F.lit("/cal/2024/"),
                           (did % 12 + 1).cast("string"), F.lit("/"),
                           (did % 28 + 1).cast("string")))
            .when(m5 == 2, F.lit("/About/Team"))
            .when(m5 == 3,
                  F.concat(F.lit("/p/"), (did % 1000).cast("string")))
            .otherwise(F.concat(F.lit("/tag/t"),
                                (did % 7).cast("string"))))
    pages = docs.select(
        F.concat(F.lit("https://"), F.col("source"), path).alias("url"))
    return urls.url_template_stats(pages)


SQL_URL_TEMPLATES = """
WITH raw AS (
  SELECT source AS host,
         CASE doc_id % 5
           WHEN 0 THEN '/post/' || CAST(doc_id % 97 AS VARCHAR) || '/'
                       || substr(md5(CAST(doc_id AS VARCHAR)), 1, 16)
                       || '/view'
           WHEN 1 THEN '/cal/2024/' || CAST(doc_id % 12 + 1 AS VARCHAR)
                       || '/' || CAST(doc_id % 28 + 1 AS VARCHAR)
           WHEN 2 THEN '/About/Team'
           WHEN 3 THEN '/p/' || CAST(doc_id % 1000 AS VARCHAR)
           ELSE '/tag/t' || CAST(doc_id % 7 AS VARCHAR)
         END AS path
  FROM documents),
t AS (
  SELECT host, path,
         list_transform(
           list_filter(string_split(path, '/'), x -> x <> ''),
           x -> CASE
                  WHEN regexp_full_match(x, '[0-9]+') THEN '{n}'
                  WHEN regexp_full_match(x, '[0-9a-fA-F]{8,}') THEN '{h}'
                  ELSE x END) AS segs
  FROM raw)
SELECT host, '/' || array_to_string(segs, '/') AS template,
       CAST(len(segs) AS BIGINT) AS depth,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT 'https://' || host || path) AS BIGINT)
           AS n_distinct_urls
FROM t
GROUP BY 1, 2, 3
"""


def q_stream_windowed_counts(spark, sf_dir):
    """The REAL Structured Streaming watermarked window aggregation
    (streaming/pipeline.streaming_windowed_counts) driven as a gate: a
    file stream over the events parquet, 1-hour tumbling windows with a
    30-minute watermark, append mode, availableNow trigger, memory sink.
    Third streaming-engine gate — this one exercises the BUILT-IN
    stateful-aggregation path (state store keyed by (window, key),
    watermark eviction, no-data flush batch), not applyInPandasWithState.
    Emitted set = windows with end <= ms_floor(max ts) - 30 min
    (inclusive, probed rule); the oracle replicates that emission rule
    with epoch_ms arithmetic."""
    import tempfile

    from ..streaming import pipeline as sp

    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = (spark.readStream.schema(static.schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir))
    out = sp.streaming_windowed_counts(stream)
    _STREAM_GATE_SEQ[0] += 1
    qname = f"stream_windowed_gate_{_STREAM_GATE_SEQ[0]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_windowed_")
    q = (out.writeStream.format("memory").queryName(qname)
         .outputMode("append").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.sql(
        f"SELECT window_start, window_end, event_type, n, "
        f"sum_value_cents FROM {qname}")


SQL_STREAM_WINDOWED = """
WITH m AS (SELECT epoch_ms(max(ts)) AS mxms FROM events),
w AS (
  SELECT date_trunc('hour', ts) AS ws, event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_value_cents
  FROM events GROUP BY 1, 2)
SELECT ws AS window_start, ws + INTERVAL 1 HOUR AS window_end,
       event_type, n, sum_value_cents
FROM w, m
WHERE epoch_ms(ws + INTERVAL 1 HOUR) <= m.mxms - 1800000
"""


def q_vacuum_plan(spark, sf_dir):
    """Snapshot-retention vacuum planning (sources/layout.vacuum_plan):
    synthetic snapshot log (8 snapshots) + manifest (each doc is a file
    referenced by a consecutive snapshot range [doc_id % 8,
    min(7, doc_id % 8 + doc_id % 3)]); retain the newest 3 snapshots and
    mark files unreachable from all of them deletable. The oracle
    re-derives the reference ranges with generate_series and the
    retained set with a scalar rank."""
    from ..sources import layout as ly

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    lo = (did % 8).alias("lo")
    hi = F.least(F.lit(7), did % 8 + did % 3).alias("hi")
    manifests = (docs.select(
        F.format_string("data/part-%05d.parquet", did).alias("path"),
        F.explode(F.sequence(lo, hi)).alias("snapshot_id")))
    snapshots = spark.range(0, 8).select(
        F.col("id").alias("snapshot_id"),
        F.expr("timestamp'2024-03-01 00:00:00' "
               "+ make_interval(0, 0, 0, 0, id)").alias("ts"))
    return ly.vacuum_plan(manifests, snapshots, retain_last=3)


SQL_VACUUM_PLAN = """
WITH m AS (
  SELECT printf('data/part-%05d.parquet', doc_id) AS path,
         CAST(u.s AS BIGINT) AS snapshot_id
  FROM documents,
       UNNEST(range(doc_id % 8,
                    least(7, doc_id % 8 + doc_id % 3) + 1)) AS u(s))
SELECT path,
       CAST(min(snapshot_id) AS BIGINT) AS first_snapshot,
       CAST(max(snapshot_id) AS BIGINT) AS last_snapshot,
       CAST(count(*) AS BIGINT) AS n_refs,
       max(snapshot_id) < 5 AS deletable
FROM m GROUP BY 1
"""


def q_cohort_retention(spark, sf_dir):
    """Weekly cohort-retention matrix (temporal.cohort_retention):
    cohort = Monday-week of each user's first event; per (cohort_week,
    week_offset) the distinct active cohort members. Oracle re-derives
    first-seen + distinct user-weeks independently."""
    from ..operators import temporal as tp

    ev = _t(spark, sf_dir, "events")
    return tp.cohort_retention(ev)


SQL_COHORT_RETENTION = """
WITH f AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
a AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS w
  FROM events WHERE user_id IS NOT NULL)
SELECT f.cohort_week,
       CAST(date_diff('day', f.cohort_week, a.w) // 7 AS BIGINT)
           AS week_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM a JOIN f USING (user_id)
GROUP BY 1, 2
"""


def q_hll_tile_rollup(spark, sf_dir):
    """HLL sketch rollup up the tile pyramid (cardinality.
    hll_rollup_tiles): per-z13-tile distinct-source registers rolled two
    levels to z11 by elementwise max — the oracle computes the z11
    registers DIRECTLY from the raw points, proving the rollup is
    bit-identical to re-sketching at the lower zoom (max associativity
    + tile-floor commutation). A production 'distinct domains per tile
    at every zoom' sketches the corpus once at max zoom."""
    from ..operators import cardinality as cd

    docs = _t(spark, sf_dir, "documents")
    lng, lat = geo.point_udeg_cols(F.col("doc_id"))
    pts = docs.select("source", lng, lat)
    z = F.lit(13)
    mx = geo.mercator_mx(geo.udeg_to_deg(F.col("lng_udeg")))
    my = geo.mercator_my(geo.udeg_to_deg(F.col("lat_udeg")))
    tiled = (pts.withColumn("z", z.cast("int"))
             .withColumn("x", geo.tile_x(z, mx))
             .withColumn("y", geo.tile_y(z, my)))
    regs13 = cd.hll_registers_grouped(tiled, "source", ["z", "x", "y"],
                                      p=8)
    return cd.hll_rollup_tiles(regs13, levels=2)


_TX11, _TY11 = _tile_xy_sql("11")
SQL_HLL_TILE_ROLLUP = f"""
WITH {POINTS_CTE},
p2 AS (
  SELECT d.source AS source, p.lng_udeg, p.lat_udeg
  FROM documents d JOIN pts p ON d.doc_id = p.doc_id),
t AS (
  SELECT source, {_TX11} AS x, {_TY11} AS y
  FROM p2),
h AS (
  SELECT x, y,
         CAST(concat('0x', substr(md5(source || 'hll'), 1, 15)) AS BIGINT)
             AS hv
  FROM t),
br AS (SELECT x, y, hv // {1 << 52} AS bucket, hv % {1 << 52} AS rest
       FROM h)
SELECT CAST(11 AS INT) AS z, x, y, CAST(bucket AS BIGINT) AS bucket,
       CAST(max(CASE WHEN rest = 0 THEN 53
                     ELSE 52 - (length(bin(rest)) - 1) END) AS BIGINT) AS r
FROM br GROUP BY 2, 3, 4
"""


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing fingerprints (text.winnow_fingerprints, Schleimer et
    al. SIGMOD 2003 / MOSS): 3-gram hashes, window w=4, rightmost
    minimal hash per window, distinct (pos, hash) — any >= 6-token
    shared substring between docs shares a fingerprint. Map-only
    Catalyst array pipeline; oracle re-derives with DuckDB list
    functions (list_reverse + list_position for the rightmost
    tie-break)."""
    docs = _t(spark, sf_dir, "documents")
    return tx.winnow_fingerprints(docs, k=3, w=4)


SQL_WINNOW = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents),
h AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(t) - 2, 0) + 1),
           i -> CAST(concat('0x', substr(md5(t[i] || ' ' || t[i+1] || ' '
                || t[i+2]), 1, 15)) AS BIGINT)) AS hs
  FROM toks),
wnd AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS i, hs[u.i : u.i + 3] AS win
  FROM h, UNNEST(range(1, greatest(len(hs) - 3, 0) + 1)) AS u(i)),
sel AS (
  SELECT doc_id,
         i + 4 - list_position(list_reverse(win), list_min(win)) AS pos,
         list_min(win) AS fp
  FROM wnd)
SELECT DISTINCT doc_id, CAST(pos AS BIGINT) AS pos, CAST(fp AS BIGINT) AS fp
FROM sel
"""


def q_trustrank(spark, sf_dir):
    """TrustRank (graph.pagerank_int(teleport=seeds), Gyongyi et al.
    VLDB 2004): teleport mass restricted to the curated seed set
    (doc_id % 97 == 0) — trust flows outward from the whitelist, pages
    unreachable from seeds decay to 0. Same integer-exact arithmetic as
    pagerank; the oracle unrolls the iterations with the seed-gated
    base term."""
    from ..operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    nodes = docs.select(F.col("doc_id").alias("id"))
    seeds = docs.where(F.col("doc_id") % 97 == 0) \
        .select(F.col("doc_id").alias("id"))
    edges = gr.synthetic_link_edges(docs, n)
    pr = gr.pagerank_int(nodes, edges, iters=3, damping_pct=85,
                         teleport=seeds)
    return pr.select(F.col("id").alias("doc_id"), "score_e6")


_TR_ITER = """
c{i} AS (
  SELECT e.dst, sum(s{p}.score // d.out_degree) AS s
  FROM e JOIN deg d ON e.src = d.src JOIN s{p} ON e.src = s{p}.id
  GROUP BY 1),
s{i} AS (
  SELECT s{p}.id,
         (CASE WHEN s{p}.id % 97 = 0 THEN 150000 ELSE 0 END)
           + (85 * coalesce(c{i}.s, 0)) // 100 AS score
  FROM s{p} LEFT JOIN c{i} ON s{p}.id = c{i}.dst)"""

SQL_TRUSTRANK = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
deg AS (SELECT src, count(*) AS out_degree FROM e GROUP BY 1),
s0 AS (SELECT doc_id AS id,
              CAST(CASE WHEN doc_id % 97 = 0 THEN 1000000 ELSE 0 END
                   AS BIGINT) AS score
       FROM documents),
""" + ",".join(_TR_ITER.format(i=i, p=i - 1) for i in (1, 2, 3)) + """
SELECT id AS doc_id, CAST(score AS BIGINT) AS score_e6 FROM s3
"""


def q_cocitation(spark, sf_dir):
    """Co-citation similarity (graph.cocitation_pairs): unordered page
    pairs cited together by >= 2 distinct sources over the deterministic
    link graph — the 'related pages' signal; oracle = brute-force
    edge self-join."""
    from ..operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    edges = gr.synthetic_link_edges(docs, n)
    return gr.cocitation_pairs(edges, min_count=2)


SQL_COCITATION = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst)
SELECT a.dst AS page_a, b.dst AS page_b,
       CAST(count(*) AS BIGINT) AS n_common
FROM e a JOIN e b ON a.src = b.src AND a.dst < b.dst
GROUP BY 1, 2
HAVING count(*) >= 2
"""


def q_group_cardinality(spark, sf_dir):
    """Per-group HLL registers (cardinality.hll_registers_grouped):
    distinct users per event type as one partial-agg groupBy — output
    bounded at n_groups * 2^p rows, each group's registers independently
    mergeable.  Integer registers compared bit-for-bit; div/mod oracle."""
    from ..operators import cardinality as cd

    ev = _t(spark, sf_dir, "events")
    return cd.hll_registers_grouped(ev, "user_id", ["event_type"], p=8)


SQL_GROUP_CARDINALITY = f"""
WITH h AS (
  SELECT event_type,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR) || 'hll'),
              1, 15)) AS BIGINT) AS hv
  FROM events WHERE user_id IS NOT NULL),
br AS (
  SELECT event_type, hv // {1 << 52} AS bucket, hv % {1 << 52} AS rest
  FROM h)
SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
       CAST(max(CASE WHEN rest = 0 THEN 53
                     ELSE 52 - (length(bin(rest)) - 1) END)
            AS BIGINT) AS r
FROM br GROUP BY event_type, bucket
"""


def q_dirty_tiles(spark, sf_dir):
    """Incremental re-render set (delta.dirty_tiles): the crawl delta
    routed into the tile pyramid — z12..14 tiles containing the NEW
    location of added/changed pages or the OLD location of
    removed/moved pages.  Changed docs both edit content (fp differs)
    AND move +25000 µdeg east, so both old and new tiles go dirty;
    oracle re-derives the full-outer delta + tile math in SQL."""
    from ..operators import delta as dl

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    lng, lat = geo.point_udeg_cols(did)
    url = F.concat(F.lit("doc/"), did.cast("string"))
    old = docs.select(url.alias("url"), F.md5("text").alias("fingerprint"),
                      lng, lat)
    lng_a, lat_a = geo.point_udeg_cols(did + 1000000)
    kept = (docs.where(did % 17 != 0)
            .select(url.alias("url"),
                    F.md5(F.when(did % 13 == 0,
                                 F.concat(F.col("text"), F.lit(" v2")))
                          .otherwise(F.col("text"))).alias("fingerprint"),
                    F.when(did % 13 == 0, lng + 25000).otherwise(lng)
                    .alias("lng_udeg"), lat))
    added = (docs.where(did % 19 == 0)
             .select(F.concat(F.lit("doc/"), (did + 1000000).cast("string"))
                     .alias("url"),
                     F.md5("text").alias("fingerprint"), lng_a, lat_a))
    new = kept.unionAll(added)
    return dl.dirty_tiles(old, new, 12, 14)


def _dirty_tiles_sql() -> str:
    lng_o, lat_o = fx.point_udeg_sql("doc_id")
    lng_a, lat_a = fx.point_udeg_sql("(doc_id + 1000000)")
    tx, ty = _tile_xy_sql("z")
    return f"""
WITH old AS (
  SELECT 'doc/' || CAST(doc_id AS VARCHAR) AS key, md5(text) AS fp,
         {lng_o} AS lng, {lat_o} AS lat
  FROM documents),
new AS (
  SELECT 'doc/' || CAST(doc_id AS VARCHAR) AS key,
         md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END)
             AS fp,
         CASE WHEN doc_id % 13 = 0 THEN {lng_o} + 25000 ELSE {lng_o} END
             AS lng,
         {lat_o} AS lat
  FROM documents WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT 'doc/' || CAST(doc_id + 1000000 AS VARCHAR), md5(text),
         {lng_a}, {lat_a}
  FROM documents WHERE doc_id % 19 = 0),
j AS (
  SELECT old.fp AS ofp, new.fp AS nfp, old.lng AS olng, old.lat AS olat,
         new.lng AS nlng, new.lat AS nlat
  FROM old FULL OUTER JOIN new ON old.key = new.key),
dirty AS (
  SELECT * FROM j
  WHERE NOT (ofp IS NOT NULL AND nfp IS NOT NULL AND ofp = nfp
             AND olng = nlng AND olat = nlat)),
pts AS (
  SELECT DISTINCT lng_udeg, lat_udeg FROM (
    SELECT olng AS lng_udeg, olat AS lat_udeg FROM dirty
    UNION ALL
    SELECT nlng, nlat FROM dirty)
  WHERE lng_udeg IS NOT NULL AND lat_udeg IS NOT NULL),
zs AS (SELECT CAST(u.z AS INT) AS z FROM UNNEST(range(12, 15)) AS u(z))
SELECT DISTINCT z, {tx} AS x, {ty} AS y FROM pts, zs
"""


SQL_DIRTY_TILES = _dirty_tiles_sql()


def q_incremental_dedup(spark, sf_dir):
    """Incremental LSH dedup (operators/incremental.py): the crawl-delta
    routing contract end-to-end — unchanged corpus contributes only its
    PERSISTED bucket-index rows, added+changed docs are shingled fresh,
    and exact verification re-reads text for candidate members only.
    Oracle: FULL minhash-LSH recompute over the union corpus restricted
    to pairs involving a new doc — the gate proves the incremental path
    lossless, the same invariance pattern as decontaminate_bloom."""
    from ..operators import incremental as inc

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    unchanged = docs.where((did % 17 != 0) & (did % 13 != 0))
    changed = (docs.where((did % 17 != 0) & (did % 13 == 0))
               .select("doc_id",
                       F.concat(F.col("text"), F.lit(" v2")).alias("text")))
    added = (docs.where(did % 19 == 0)
             .select((did + 1000000).alias("doc_id"), "text"))
    new_docs = changed.unionAll(added)
    idx = dd.lsh_buckets(unchanged)
    out = inc.incremental_dedup_pairs(idx, unchanged, new_docs,
                                      threshold=0.5)
    return out.select("doc_a", "doc_b",
                      F.floor(F.col("jaccard") * 1000000 + F.lit(0.5))
                      .cast("bigint").alias("jaccard_e6"))


def _union_corpus_minhash_body(num_hashes: int = 16,
                               bands: int = 4) -> str:
    """Shared oracle CTE chain: the synthesized union corpus (unchanged +
    changed + added snapshots) -> shingles -> signatures -> banded
    buckets -> candidate pairs -> exact-Jaccard intersections.  Consumed
    by SQL_INCREMENTAL_DEDUP (pair restriction) and
    SQL_INCREMENTAL_CLUSTERS (recursive closure)."""
    p = (1 << 31) - 1
    rows_per_band = num_hashes // bands
    cols = []
    for i in range(num_hashes):
        a = 2 * i + 1
        b = 104729 * (i + 1)
        cols.append(f"min((h % {p} * {a} + {b}) % {p}) AS mh{i}")
    band_selects = []
    for bi in range(bands):
        parts = ", ".join(f"mh{i}" for i in range(bi * rows_per_band,
                                                  (bi + 1) * rows_per_band))
        band_selects.append(
            f"SELECT doc_id, {bi} AS band, md5(concat_ws('_', {parts})) AS key"
            " FROM sig")
    return f"""corpus AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id % 17 <> 0 AND doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id, text || ' v2' FROM documents
  WHERE doc_id % 17 <> 0 AND doc_id % 13 = 0
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 19 = 0
),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM corpus
),
sh AS (
  SELECT DISTINCT doc_id, t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS shingle
  FROM toks, UNNEST(range(greatest(len(t) - 2, 0))) AS u(i)
),
hs AS (SELECT doc_id, {_hex60_sql('shingle')} AS h FROM sh),
sig AS (SELECT doc_id, {', '.join(cols)} FROM hs GROUP BY doc_id),
bk AS ({' UNION ALL '.join(band_selects)}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
                     AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS ni
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)"""


def _incremental_dedup_sql() -> str:
    return f"""
WITH {_union_corpus_minhash_body()},
newids AS (
  SELECT doc_id FROM documents WHERE doc_id % 17 <> 0 AND doc_id % 13 = 0
  UNION ALL
  SELECT doc_id + 1000000 FROM documents WHERE doc_id % 19 = 0
)
SELECT i.doc_a, i.doc_b,
  CAST(floor(CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) * 1000000
       + 0.5) AS BIGINT) AS jaccard_e6
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) >= 0.5
  AND (i.doc_a IN (SELECT doc_id FROM newids)
       OR i.doc_b IN (SELECT doc_id FROM newids))
"""


SQL_INCREMENTAL_DEDUP = _incremental_dedup_sql()


def q_incremental_clusters(spark, sf_dir):
    """Incremental dedup clusters (incremental.
    incremental_connected_components): clean components carry over from
    the previous snapshot's stored labels with ONE anti-join; only
    components containing a stale doc or touched by a new pair re-run
    alternating-CC — work scales with the dirty subgraph, not the
    corpus.  Oracle: full recursive-closure recompute over ALL pairs of
    the new snapshot — the gate proves the carried+recomputed union
    identical to from-scratch clustering."""
    from ..operators import graph as gr
    from ..operators import incremental as inc

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    unchanged = docs.where((did % 17 != 0) & (did % 13 != 0))
    changed = (docs.where((did % 17 != 0) & (did % 13 == 0))
               .select("doc_id",
                       F.concat(F.col("text"), F.lit(" v2")).alias("text")))
    added = (docs.where(did % 19 == 0)
             .select((did + 1000000).alias("doc_id"), "text"))
    new_docs = changed.unionAll(added)
    stale = docs.where((did % 17 == 0) | (did % 13 == 0)).select("doc_id")

    prev_pairs = dd.minhash_dedup_pairs(docs, threshold=0.5) \
        .select("doc_a", "doc_b").persist()
    prev_labels = gr.connected_components(prev_pairs).persist()
    new_pairs = inc.incremental_dedup_pairs(
        dd.lsh_buckets(unchanged), unchanged, new_docs,
        threshold=0.5).select("doc_a", "doc_b")
    out = inc.incremental_connected_components(
        prev_labels, prev_pairs, stale, new_pairs)
    return out.select(F.col("id").alias("doc_id"), "component_id")


SQL_INCREMENTAL_CLUSTERS = f"""
WITH RECURSIVE {_union_corpus_minhash_body()},
pairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) >= 0.5
),
und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
reach(src, dst) AS (
  SELECT DISTINCT a, a FROM und
  UNION
  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a
)
SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS component_id
FROM reach GROUP BY src
"""


# ---------------------------------------------------------------------------
# round-5 wave 8: LM quality scoring, C4 paragraph dedup, CDC chunk dedup,
# exact-count stratified splits, recrawl prioritization
# ---------------------------------------------------------------------------

def q_lm_rarity(spark, sf_dir):
    """CCNet-style LM quality scoring (operators/lm.py): a char-trigram
    model trained on the doc_id % 7 == 0 'clean reference' slice scores
    every document by integer-exact mean inverse probability (micro).
    Model relation bounded by |alphabet|^3 and broadcast; corpus side
    never shuffles on gram.  Oracle re-derives grams via per-position
    substr over generate_series and mirrors the exact integer math."""
    from ..operators import lm

    docs = _t(spark, sf_dir, "documents")
    model = lm.char_ngram_model(docs.where(F.col("doc_id") % 7 == 0), n=3)
    return lm.lm_rarity(docs, model, n=3)


SQL_LM_RARITY = """
WITH lowered AS (SELECT doc_id, lower(text) AS t FROM documents),
model AS (
  SELECT substr(t, CAST(i AS INT), 3) AS gram,
         CAST(count(*) AS BIGINT) AS cnt
  FROM lowered, UNNEST(range(1, greatest(length(t) - 1, 1))) AS u(i)
  WHERE doc_id % 7 = 0 AND length(t) >= 3
  GROUP BY 1
),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS T FROM model),
doc_grams AS (
  SELECT doc_id, substr(t, CAST(i AS INT), 3) AS gram
  FROM lowered, UNNEST(range(1, greatest(length(t) - 1, 1))) AS u(i)
  WHERE length(t) >= 3
),
scored AS (
  SELECT doc_id, (T * 1000000) // (coalesce(cnt, 0) + 1) AS r
  FROM doc_grams CROSS JOIN tot LEFT JOIN model USING (gram)
),
per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(r) // count(*) AS BIGINT) AS rarity_micro
  FROM scored GROUP BY 1
)
SELECT d.doc_id,
       coalesce(per.n_grams, 0) AS n_grams,
       coalesce(per.rarity_micro, 0) AS rarity_micro
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN per ON d.doc_id = per.doc_id
"""


def q_paragraph_dedup(spark, sf_dir):
    """C4-rule paragraph dedup with doc reconstruction (dedup.paragraph_
    dedup): documents are re-structured into 6-word paragraphs (the
    fixture text is single-line), then every paragraph that repeats
    anywhere in the corpus survives only at its min-(doc_id, idx)
    occurrence and docs are re-assembled in order.  One md5-keyed
    partial agg + the count-back join; no corpus window.  Oracle:
    independent window-rank formulation (row_number over occurrences)
    + ordered string_agg re-assembly."""
    from ..operators import dedup as dd

    docs = _t(spark, sf_dir, "documents")
    toks = F.expr("filter(split(lower(text), '[^a-z0-9_]+'), x -> x <> '')")
    paras = F.expr(
        "transform(sequence(0, CAST(ceil(size(_tk) / 6.0) AS INT) - 1), "
        "          j -> concat_ws(' ', slice(_tk, j * 6 + 1, 6)))")
    structured = (docs.select("doc_id", toks.alias("_tk"))
                  .select("doc_id",
                          F.concat_ws("\n", paras).alias("text")))
    return dd.paragraph_dedup(structured)


SQL_PARAGRAPH_DEDUP = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents
),
paras AS (
  SELECT doc_id, CAST(j AS INT) AS idx,
         array_to_string(t[CAST(j * 6 + 1 AS INT):CAST(j * 6 + 6 AS INT)],
                         ' ') AS para
  FROM toks, UNNEST(range(0, CAST(ceil(len(t) / 6.0) AS BIGINT))) AS u(j)
),
ranked AS (
  SELECT doc_id, idx, para,
         row_number() OVER (PARTITION BY md5(para)
                            ORDER BY doc_id, idx) AS occ
  FROM paras WHERE para <> ''
),
kept AS (SELECT doc_id, idx, para FROM ranked WHERE occ = 1
         UNION ALL SELECT doc_id, idx, para FROM paras WHERE para = ''),
base AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras
         FROM paras GROUP BY 1),
rebuilt AS (
  SELECT doc_id, string_agg(para, chr(10) ORDER BY idx) AS text,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT base.doc_id, coalesce(rebuilt.text, '') AS text, base.n_paras,
       base.n_paras - coalesce(rebuilt.n_kept, 0) AS n_removed
FROM base LEFT JOIN rebuilt ON base.doc_id = rebuilt.doc_id
"""


def q_cdc_dedup(spark, sf_dir):
    """Content-defined chunk dedup (dedup.cdc_dedup_ratio): the corpus
    plus a one-token-prefixed clone of every doc_id % 11 == 0 document —
    the shift that makes fixed-stride chunking miss the duplication;
    CDC boundaries resync so the clones show high dup ratios.  The
    boundary rule (md5-derived 60-bit hash of each 3-gram anchor,
    divisor 8) and the exact chunk tiling are re-derived independently
    in the oracle via list expressions."""
    from ..operators import dedup as dd

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    clones = (docs.where(F.col("doc_id") % 11 == 0)
              .select((F.col("doc_id") + 1000000).alias("doc_id"),
                      F.concat(F.lit("xx "), F.col("text")).alias("text")))
    return dd.cdc_dedup_ratio(docs.unionByName(clones), w=3, divisor=8)


SQL_CDC_DEDUP = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, 'xx ' || text FROM documents WHERE doc_id % 11 = 0
),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '[^A-Za-z0-9_]+'),
                     x -> x <> '') AS t
  FROM corpus
),
bounds AS (
  SELECT doc_id, t,
         [CAST(1 AS BIGINT)]
         || list_filter(range(2, greatest(len(t) - 1, 2)),
              i -> CAST(concat('0x', substr(md5(array_to_string(
                         t[CAST(i AS INT):CAST(i + 2 AS INT)], ' ')),
                       1, 15)) AS BIGINT) % 8 = 0)
         || [CAST(len(t) + 1 AS BIGINT)] AS b
  FROM toks WHERE len(t) > 0
),
chunks AS (
  SELECT doc_id,
         CAST(b[CAST(j AS INT)] AS BIGINT) AS s,
         CAST(b[CAST(j + 1 AS INT)] - b[CAST(j AS INT)] AS BIGINT)
           AS n_words,
         array_to_string(t[CAST(b[CAST(j AS INT)] AS INT)
                           :CAST(b[CAST(j + 1 AS INT)] - 1 AS INT)], ' ')
           AS chunk
  FROM bounds, UNNEST(range(1, len(b))) AS u(j)
),
freq AS (SELECT md5(chunk) AS h, count(*) AS n_slots
         FROM chunks GROUP BY 1)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(n_words) AS BIGINT) AS n_words,
       CAST(sum(CASE WHEN n_slots > 1 THEN n_words ELSE 0 END) AS BIGINT)
         AS dup_words,
       CAST(sum(CASE WHEN n_slots > 1 THEN n_words ELSE 0 END) * 1000000
            // sum(n_words) AS BIGINT) AS dup_ratio_e6
FROM chunks JOIN freq ON md5(chunk) = h
GROUP BY doc_id
"""


def q_exact_split(spark, sf_dir):
    """Exact-count stratified splits (sampling.stratified_exact_split):
    every language gets exactly floor(ppm * n_lang / 10^6) val/test rows
    — Bernoulli splitting only hits quotas in expectation.  Rows rank by
    (md5 hash bucket, key) inside the stratum; one window + a broadcast
    count join.  Oracle: independent row_number / count window pair."""
    from ..operators import sampling as sp

    docs = _t(spark, sf_dir, "documents")
    out = sp.stratified_exact_split(
        docs, {"val": 100_000, "test": 50_000}, "lang", "doc_id")
    return out.select("doc_id", "lang", "split")


SQL_EXACT_SPLIT = """
WITH b AS (
  SELECT doc_id, lang,
    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || 'xsplit0'),
         1, 15)) AS BIGINT) % 1000000 AS bk
  FROM documents
),
r AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY bk, doc_id) AS rk,
         count(*) OVER (PARTITION BY lang) AS n
  FROM b
)
SELECT doc_id, lang,
  CASE WHEN rk <= (n * 100000) // 1000000 THEN 'val'
       WHEN rk <= (n * 100000) // 1000000 + (n * 50000) // 1000000
         THEN 'test'
       ELSE 'train' END AS split
FROM r
"""


def q_recrawl_priority(spark, sf_dir):
    """Change-frequency recrawl prioritization (frontier.recrawl_priority)
    over a synthesized SCD2 history: every doc has a v0 at doc_id % 50;
    % 3 == 0 docs changed at 100 + doc_id % 20; % 9 == 0 changed again at
    150 + doc_id % 10; % 13 == 0 pages died at 190 (closed, excluded).
    Decision time now = 200.  Integer-exact expected-unseen-changes
    priority; oracle re-derives history AND priority from the same
    rules."""
    from ..operators import frontier as fr

    docs = _t(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://"), F.col("source"),
                   F.lit("/doc/"), F.col("doc_id").cast("string"))
    starts = F.expr(
        "concat(array(CAST(doc_id % 50 AS BIGINT)), "
        " CASE WHEN doc_id % 3 = 0 THEN array(CAST(100 + doc_id % 20 AS BIGINT)) "
        "      ELSE array() END, "
        " CASE WHEN doc_id % 9 = 0 THEN array(CAST(150 + doc_id % 10 AS BIGINT)) "
        "      ELSE array() END)")
    vers = (docs.select(url.alias("url"), F.col("doc_id"),
                        starts.alias("_st"))
            .select("url", "doc_id",
                    F.posexplode(F.expr(
                        "transform(_st, (s, i) -> struct("
                        " s AS vf, "
                        " CASE WHEN i < size(_st) - 1 THEN element_at(_st, i + 2) "
                        "      WHEN doc_id % 13 = 0 THEN CAST(190 AS BIGINT) "
                        "      ELSE CAST(NULL AS BIGINT) END AS vt))"))
                    .alias("_i", "_v"))
            .select("url",
                    F.md5(F.concat(F.col("url"), F.lit(" v"),
                                   F.col("_i").cast("string")))
                    .alias("fingerprint"),
                    F.col("_v.vf").alias("valid_from"),
                    F.col("_v.vt").alias("valid_to")))
    return fr.recrawl_priority(vers, now=200)


SQL_RECRAWL_PRIORITY = """
WITH starts AS (
  SELECT 'https://' || source || '/doc/' || CAST(doc_id AS VARCHAR) AS url,
         doc_id,
         [CAST(doc_id % 50 AS BIGINT)]
         || (CASE WHEN doc_id % 3 = 0
                  THEN [CAST(100 + doc_id % 20 AS BIGINT)] ELSE [] END)
         || (CASE WHEN doc_id % 9 = 0
                  THEN [CAST(150 + doc_id % 10 AS BIGINT)] ELSE [] END)
           AS st
  FROM documents
),
vers AS (
  SELECT url, doc_id, st[CAST(i AS INT)] AS valid_from,
         CASE WHEN i < len(st) THEN st[CAST(i + 1 AS INT)]
              WHEN doc_id % 13 = 0 THEN CAST(190 AS BIGINT)
              ELSE NULL END AS valid_to
  FROM starts, UNNEST(range(1, len(st) + 1)) AS u(i)
),
per AS (
  SELECT url, CAST(count(*) AS BIGINT) AS n_versions,
         CAST(min(valid_from) AS BIGINT) AS first_seen,
         CAST(max(valid_from) AS BIGINT) AS last_change,
         count(CASE WHEN valid_to IS NULL THEN 1 END) AS n_open
  FROM vers GROUP BY 1
)
SELECT url, n_versions, last_change,
       CASE WHEN 200 - first_seen > 0
            THEN CAST((n_versions - 1) * (200 - last_change) * 1000000
                      // (200 - first_seen) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS priority_micro
FROM per WHERE n_open > 0
"""


# ---------------------------------------------------------------------------
# round-5 wave 9: KMV set ops, decayed counters, rank normalization,
# collocations, label propagation
# ---------------------------------------------------------------------------

def q_kmv_set_ops(spark, sf_dir):
    """Theta-sketch set-operation estimates (sampling.kmv_set_ops) between
    language groups' url-key populations (doc_id % 229 — overlapping
    across langs) from k=32 bottom-k sketches.  md5-derived hashes make
    the estimates bit-reproducible; the oracle re-derives sketch, merge,
    and both estimators with an independent window formulation (no list
    algebra)."""
    from ..operators import sampling as sp

    docs = _t(spark, sf_dir, "documents")
    keyed = docs.select("lang", (F.col("doc_id") % 229).cast("string")
                        .alias("key"))
    sk = sp.bottom_k_sketch(keyed, "key", 32, ["lang"])
    return sp.kmv_set_ops(sk, "lang", 32)


SQL_KMV_SET_OPS = """
WITH d AS (
  SELECT DISTINCT lang AS g, CAST(doc_id % 229 AS VARCHAR) AS key
  FROM documents
),
h AS (
  SELECT g, key,
         CAST(concat('0x', substr(md5(key || 'bk0'), 1, 15)) AS BIGINT) AS h
  FROM d
),
sk AS (
  SELECT g, h FROM (
    SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h, key) AS r
    FROM h) WHERE r <= 32
),
gs AS (SELECT DISTINCT g FROM sk),
pr AS (SELECT a.g AS ga, b.g AS gb FROM gs a, gs b WHERE a.g < b.g),
u AS (
  SELECT pr.ga, pr.gb, s.h,
         max(CASE WHEN s.g = pr.ga THEN 1 ELSE 0 END) AS ina,
         max(CASE WHEN s.g = pr.gb THEN 1 ELSE 0 END) AS inb
  FROM pr JOIN sk s ON s.g IN (pr.ga, pr.gb)
  GROUP BY 1, 2, 3
),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS r,
         count(*) OVER (PARTITION BY ga, gb) AS ntot
  FROM u
),
agg AS (
  SELECT ga, gb, max(ntot) AS ntot,
         CAST(max(h) FILTER (WHERE r <= 32) AS BIGINT) AS kth,
         CAST(count(*) FILTER (WHERE r <= 32) AS BIGINT) AS sz,
         CAST(sum(ina * inb) FILTER (WHERE r <= 32) AS BIGINT) AS m
  FROM rk GROUP BY 1, 2
)
SELECT ga AS g_a, gb AS g_b,
  CASE WHEN sz < 32 THEN sz
       ELSE CAST(31 * 1099511627776 // greatest(kth // 1048576, 1)
                 AS BIGINT) END AS union_est,
  CASE WHEN sz < 32 THEN m
       ELSE CAST(m * (31 * 1099511627776
                      // greatest(kth // 1048576, 1)) // 32 AS BIGINT)
       END AS inter_est
FROM agg
"""


def q_decayed_counts(spark, sf_dir):
    """Exponentially-decayed per-key activity counters (stats.decayed_
    counts) over the events stream, hour buckets, half-life one bucket —
    integer-exact (cnt * 10^6 div 2^shift), so the trend ranking is
    bit-reproducible.  One co-keyed agg pair, shuffle reused."""
    from ..operators import stats as st

    ev = _t(spark, sf_dir, "events")
    return st.decayed_counts(ev, "event_type")


SQL_DECAYED_COUNTS = """
WITH kb AS (
  SELECT event_type AS key, epoch_us(ts) // 3600000000 AS b,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
last AS (
  SELECT key, CAST(max(b) AS BIGINT) AS last_bucket,
         CAST(sum(cnt) AS BIGINT) AS n_events
  FROM kb GROUP BY 1
)
SELECT kb.key AS event_type, last.n_events, last.last_bucket,
       CAST(sum(CASE WHEN last.last_bucket - kb.b < 40
                     THEN kb.cnt * 1000000
                          // (CAST(1 AS BIGINT)
                              << CAST(last.last_bucket - kb.b AS INT))
                     ELSE 0 END) AS BIGINT) AS decayed_micro
FROM kb JOIN last ON kb.key = last.key
GROUP BY 1, 2, 3
"""


def q_rank_normalize(spark, sf_dir):
    """Within-group rank normalization (stats.group_rank_normalize):
    per-language percentile (micro) of each doc's n_chars — the
    per-domain quality calibration primitive.  Deterministic tie-break
    by doc_id; oracle is an independent window pair."""
    from ..operators import stats as st

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang",
                                                 "n_chars")
    return st.group_rank_normalize(docs, "lang", "n_chars", "doc_id")


SQL_RANK_NORMALIZE = """
WITH r AS (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars, doc_id) AS rk,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT doc_id, lang, n_chars,
       CASE WHEN n > 1
            THEN CAST((rk - 1) * 1000000 // (n - 1) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS pct_micro
FROM r
"""


def q_collocations(spark, sf_dir):
    """Bigram collocation mining (text.bigram_collocations): adjacent
    word pairs scored by the integer-exact lift surrogate of PMI
    (n_ab * N * 10^6 div (n_a * n_b)); min_count 10.  Partial-agg
    counts only, never a pair join; oracle re-derives uni/bigram counts
    from per-position list indexing."""
    from ..operators import text as tx

    docs = _t(spark, sf_dir, "documents")
    return tx.bigram_collocations(docs, min_count=10)


SQL_COLLOCATIONS = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents
),
uni AS (
  SELECT t[CAST(i AS INT)] AS w, CAST(count(*) AS BIGINT) AS n_w
  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
  GROUP BY 1
),
big AS (
  SELECT t[CAST(i AS INT)] AS w_a, t[CAST(i + 1 AS INT)] AS w_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM toks, UNNEST(range(1, greatest(len(t), 1))) AS u(i)
  GROUP BY 1, 2
  HAVING count(*) >= 10
),
tot AS (SELECT CAST(sum(n_w) AS BIGINT) AS N FROM uni)
SELECT b.w_a, b.w_b, b.n_ab, a.n_w AS n_a, c.n_w AS n_b,
       CAST(b.n_ab * tot.N * 1000000 // (a.n_w * c.n_w) AS BIGINT)
         AS lift_micro
FROM big b
JOIN uni a ON a.w = b.w_a
JOIN uni c ON c.w = b.w_b
CROSS JOIN tot
"""


def q_label_propagation(spark, sf_dir):
    """Label-propagation communities (graph.label_propagation) over the
    deterministic doc link graph — 3 synchronous rounds, most-frequent
    neighbor label with min-label tie-break (deterministic, unlike the
    classical randomized sweep).  Distinguishes weakly-bridged dense
    clusters that connected_components merges.  Oracle: 3 unrolled
    count/argmax rounds."""
    from ..operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    edges = gr.synthetic_link_edges(
        docs, _t_count(spark, sf_dir, "documents"))
    return gr.label_propagation(edges, rounds=3).select(
        F.col("id").alias("doc_id"), "community")


_LPA_ITER = """
c{i} AS (
  SELECT u.a AS id, l.label, count(*) AS cnt
  FROM und u JOIN l{p} l ON l.id = u.b GROUP BY 1, 2
),
l{i} AS (
  SELECT id, label FROM (
    SELECT id, label,
           row_number() OVER (PARTITION BY id
                              ORDER BY cnt DESC, label ASC) AS rr
    FROM c{i}) WHERE rr = 1
)"""

SQL_LABEL_PROPAGATION = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
und AS (SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e),
l0 AS (SELECT DISTINCT a AS id, a AS label FROM und),
""" + ",".join(_LPA_ITER.format(i=i, p=i - 1) for i in (1, 2, 3)) + """
SELECT id AS doc_id, CAST(label AS BIGINT) AS community FROM l3
"""


# ---------------------------------------------------------------------------
# round-5 wave 10: raster hotspot regions, exact cosine all-pairs, merge plan
# ---------------------------------------------------------------------------

def q_hotspot_regions(spark, sf_dir):
    """Map-algebra region labeling (raster.hotspot_regions): threshold
    the z=11 point-density raster at >= 2 points/pixel and label
    4-adjacent hot pixels with connected components (region id = min
    global-pixel key).  Two map-side neighbor equi-joins + alternating
    CC; oracle re-derives the raster (the rasterize CTE) and labels via
    an independent recursive-closure CTE."""
    from ..operators import raster as ra

    pts = _points_df(spark, sf_dir)
    r = ra.rasterize_points(pts, zoom=11, tile_px=16)
    return ra.hotspot_regions(r, min_count=2, tile_px=16)


SQL_HOTSPOT_REGIONS = f"""
WITH RECURSIVE {POINTS_CTE},
g AS (
  SELECT
    ((CAST(floor({MX_SQL} * 32768.0) AS BIGINT) % 32768 + 32768) % 32768)
        AS ggx,
    GREATEST(CAST(0 AS BIGINT),
             LEAST(CAST(floor({MY_SQL} * 32768.0) AS BIGINT), 32767)) AS ggy
  FROM pts
),
cells AS (
  SELECT ggx AS gx, ggy AS gy, CAST(count(*) AS BIGINT) AS n_points,
         ggx * 4294967296 + ggy AS k
  FROM g GROUP BY 1, 2
  HAVING count(*) >= 2
),
edges AS (
  SELECT a.k AS ka, b.k AS kb FROM cells a
  JOIN cells b ON b.gx = a.gx + 1 AND b.gy = a.gy
  UNION ALL
  SELECT a.k, b.k FROM cells a
  JOIN cells b ON b.gx = a.gx AND b.gy = a.gy + 1
),
und AS (SELECT ka AS a, kb AS b FROM edges
        UNION SELECT kb, ka FROM edges),
reach(src, dst) AS (
  SELECT DISTINCT a, a FROM und
  UNION
  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a
),
lab AS (SELECT src AS k, min(dst) AS region FROM reach GROUP BY 1)
SELECT cells.gx, cells.gy, cells.n_points,
       CAST(coalesce(lab.region, cells.k) AS BIGINT) AS region_id
FROM cells LEFT JOIN lab ON cells.k = lab.k
"""


def q_cosine_pairs(spark, sf_dir):
    """Exact tf-weighted cosine all-pairs (dedup.cosine_pairs) over the
    doc_id % 5 == 0 slice at cos >= 0.8 — integer-exact decision
    (dot^2 * 10^4 >= t^2 * ss_a * ss_b, no sqrt).  Inverted-index
    self-join, term-keyed; oracle mirrors postings/dot/ss from
    per-position list indexing."""
    from ..operators import dedup as dd

    docs = (_t(spark, sf_dir, "documents")
            .where(F.col("doc_id") % 5 == 0).select("doc_id", "text"))
    return dd.cosine_pairs(docs, threshold_pct=80)


SQL_COSINE_PAIRS = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '[^A-Za-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents WHERE doc_id % 5 = 0
),
postings AS (
  SELECT doc_id, t[CAST(i AS INT)] AS term,
         CAST(count(*) AS BIGINT) AS tf
  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
  GROUP BY 1, 2
),
ss AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS ss
       FROM postings GROUP BY 1),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
  FROM postings a JOIN postings b
    ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d.doc_a, d.doc_b, d.dot, sa.ss AS ss_a, sb.ss AS ss_b,
       CAST(d.dot * d.dot * 1000000 // (sa.ss * sb.ss) AS BIGINT)
         AS cos2_micro
FROM dots d
JOIN ss sa ON sa.doc_id = d.doc_a
JOIN ss sb ON sb.doc_id = d.doc_b
WHERE d.dot * d.dot * 10000 >= 6400 * sa.ss * sb.ss
"""


def q_merge_plan(spark, sf_dir):
    """Copy-on-write MERGE planning (sources/layout.merge_plan): 64
    synthetic data files covering contiguous key ranges; the update
    keyset ((doc_id * 37) % 64000) marks which files a MERGE INTO must
    rewrite (distinct in-range keys per file) and which carry over.
    Broadcast metadata range probe + one partial agg; oracle is an
    independent BETWEEN join."""
    from ..sources import layout as ly

    docs = _t(spark, sf_dir, "documents")
    files = spark.range(64).select(
        F.col("id").cast("bigint").alias("file_id"),
        (F.col("id") * 1000).cast("bigint").alias("min_key"),
        (F.col("id") * 1000 + 999).cast("bigint").alias("max_key"),
        (F.lit(1) * 4096 + F.col("id")).cast("bigint").alias("bytes"))
    updates = docs.select(((F.col("doc_id") * 37) % 64000).alias("key"))
    out = ly.merge_plan(files, updates)
    return out.select("file_id", "min_key", "max_key", "bytes", "n_hits",
                      F.col("rewrite").cast("int").cast("bigint")
                      .alias("rewrite"))


SQL_MERGE_PLAN = """
WITH files AS (
  SELECT CAST(i AS BIGINT) AS file_id,
         CAST(i * 1000 AS BIGINT) AS min_key,
         CAST(i * 1000 + 999 AS BIGINT) AS max_key,
         CAST(4096 + i AS BIGINT) AS bytes
  FROM UNNEST(range(0, 64)) AS u(i)
),
ks AS (SELECT DISTINCT (doc_id * 37) % 64000 AS k FROM documents),
hits AS (
  SELECT f.file_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM files f JOIN ks ON ks.k BETWEEN f.min_key AND f.max_key
  GROUP BY 1
)
SELECT files.file_id, files.min_key, files.max_key, files.bytes,
       coalesce(hits.n_hits, 0) AS n_hits,
       CAST(coalesce(hits.n_hits, 0) > 0 AS BIGINT) AS rewrite
FROM files LEFT JOIN hits ON files.file_id = hits.file_id
"""


def q_focal_delta(spark, sf_dir):
    """Incremental FOCAL-raster maintenance (raster.apply_focal_delta):
    the box filter is linear in the input raster, so the stored
    smoothed heatmap updates from the snapshot delta alone
    (prev + focal(rast(added)) - focal(rast(removed))). Same snapshot
    delta fixture as raster_delta (removed %17|%13, %13 moved +25000
    µdeg east, %19 added at fresh ids), z=8 / 16 px so neighborhoods
    genuinely overlap. Oracle = FULL rasterize-then-focal recompute of
    the new snapshot — losslessness by linearity."""
    from ..operators import raster as ra

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    lng, lat = geo.point_udeg_cols(did)
    prev = ra.focal_stats(
        ra.rasterize_points(docs.select(lng, lat), zoom=8, tile_px=16),
        zoom=8, tile_px=16, radius=1)
    removed = (docs.where((did % 17 == 0) | (did % 13 == 0))
               .select(lng, lat))
    lng_a, lat_a = geo.point_udeg_cols(did + 1000000)
    moved = (docs.where((did % 17 != 0) & (did % 13 == 0))
             .select((lng + 25000).alias("lng_udeg"), lat))
    added = (docs.where(did % 19 == 0).select(lng_a, lat_a))
    return ra.apply_focal_delta(prev, moved.unionAll(added), removed,
                                zoom=8, tile_px=16, radius=1)


def _focal_delta_sql() -> str:
    lng_o, lat_o = fx.point_udeg_sql("doc_id")
    lng_a, lat_a = fx.point_udeg_sql("(doc_id + 1000000)")
    return f"""
WITH np AS (
  SELECT CASE WHEN doc_id % 13 = 0 THEN {lng_o} + 25000 ELSE {lng_o} END
             AS lng_udeg,
         {lat_o} AS lat_udeg
  FROM documents WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT {lng_a}, {lat_a} FROM documents WHERE doc_id % 19 = 0),
g AS (
  SELECT
    ((CAST(floor({MX_SQL} * 4096.0) AS BIGINT) % 4096 + 4096) % 4096)
        AS gx,
    GREATEST(CAST(0 AS BIGINT),
             LEAST(CAST(floor({MY_SQL} * 4096.0) AS BIGINT), 4095)) AS gy
  FROM np),
r AS (SELECT gx, gy, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1, 2),
c AS (
  SELECT ((gx + dx.i) % 4096 + 4096) % 4096 AS tx, gy + dy.i AS ty, n
  FROM r, UNNEST(range(-1, 2)) AS dx(i), UNNEST(range(-1, 2)) AS dy(i)
  WHERE gy + dy.i >= 0 AND gy + dy.i < 4096)
SELECT CAST(8 AS INT) AS z, tx // 16 AS x, ty // 16 AS y,
       tx % 16 AS px, ty % 16 AS py, CAST(sum(n) AS BIGINT) AS focal_sum
FROM c GROUP BY 2, 3, 4, 5
"""


SQL_FOCAL_DELTA = _focal_delta_sql()


def q_hll_estimate(spark, sf_dir):
    """Distributed HLL estimate READ (cardinality.hll_estimate_grouped,
    p=6 so both the raw-harmonic and linear-counting branches are live
    on this fixture): per-lang distinct-doc estimates from the register
    relation — exact-integer harmonic denominator (sum of powers of
    two), then ONE fixed-order scalar double chain; exact distinct
    joined alongside for accuracy reading. Oracle re-derives registers,
    S, and the same scalar chain."""
    from ..operators import cardinality as cd

    docs = (_t(spark, sf_dir, "documents")
            .where(F.col("lang").isNotNull())
            .select("lang", F.col("doc_id").cast("string").alias("k")))
    regs = cd.hll_registers_grouped(docs, "k", ["lang"], p=6)
    est = cd.hll_estimate_grouped(regs, ["lang"], p=6)
    exact = docs.groupBy("lang").agg(
        F.countDistinct("k").cast("bigint").alias("exact_distinct"))
    return est.join(exact, "lang")


SQL_HLL_ESTIMATE = f"""
WITH h AS (
  SELECT lang,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || 'hll'),
                                  1, 15)) AS BIGINT) AS hv
  FROM documents WHERE lang IS NOT NULL),
br AS (SELECT lang, hv // {1 << 54} AS bucket, hv % {1 << 54} AS rest
       FROM h),
reg AS (
  SELECT lang, bucket,
         CAST(max(CASE WHEN rest = 0 THEN 55
                       ELSE 54 - (length(bin(rest)) - 1) END) AS BIGINT)
             AS r
  FROM br GROUP BY 1, 2),
per AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(sum(CAST(1 AS BIGINT) << CAST(56 - r AS INT)) AS BIGINT)
             AS s_present
  FROM reg GROUP BY 1),
scal AS (
  SELECT lang, n_buckets,
         CAST(s_present + (64 - n_buckets) * {1 << 56} AS BIGINT)
             AS s_scaled
  FROM per),
est AS (
  SELECT lang, n_buckets, s_scaled,
         0.709 * 64.0 * 64.0 * {float(1 << 56)}
             / CAST(s_scaled AS DOUBLE) AS raw,
         64 - n_buckets AS zeros
  FROM scal),
fin AS (
  SELECT lang, n_buckets, s_scaled,
         CAST(floor((CASE WHEN raw <= 160.0 AND zeros > 0
                          THEN 64.0 * ln(64.0 / CAST(zeros AS DOUBLE))
                          ELSE raw END) + 0.5) AS BIGINT) AS est_distinct
  FROM est),
ex AS (SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT)
           AS exact_distinct
       FROM documents WHERE lang IS NOT NULL GROUP BY 1)
SELECT fin.lang, fin.n_buckets, fin.s_scaled, fin.est_distinct,
       ex.exact_distinct
FROM fin JOIN ex USING (lang)
"""


def q_trend_slope(spark, sf_dir):
    """Per-key OLS trend slope of daily activity (stats.trend_slope):
    integer-exact least-squares slope over (day index, daily count) per
    event type — the crawl-freshness / traffic-trend signal. Oracle
    re-derives daily counts, the per-key x offset, and the identical
    truncating integer division (Spark `div` == DuckDB integer `//`,
    both toward zero — verified on negatives)."""
    from ..operators import stats as st

    ev = _t(spark, sf_dir, "events")
    return st.trend_slope(ev)


SQL_TREND_SLOPE = """
WITH daily AS (
  SELECT event_type AS k, CAST(ts AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS y
  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
xd AS (
  SELECT k,
         CAST(date_diff('day', min(d) OVER (PARTITION BY k), d) AS BIGINT)
             AS x,
         y
  FROM daily),
agg AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM xd GROUP BY 1)
SELECT k AS event_type, n AS n_days, sy AS total_events,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
            ELSE CAST(((n * sxy - sx * sy) * 1000000)
                      // (n * sxx - sx * sx) AS BIGINT)
       END AS slope_uday
FROM agg
"""


def q_mor_read(spark, sf_dir):
    """Merge-on-read scan (sources/layout.merge_on_read): Iceberg-v2
    positional + equality delete files applied at read time via two
    broadcast anti joins with the spec's sequence-number rules
    (positional: delete_seq >= data_seq; equality: strictly >). Fixture:
    each doc is row pos=doc_id%50 of file doc_id//50 committed at
    data_seq=doc_id%4; every 7th doc has a positional delete at
    delete_seq=doc_id%5 (so some deletes are OLDER than the data and
    must NOT apply); equality deletes kill lang='de' rows before seq 2
    and lang='fr' rows before seq 5. Oracle = double NOT EXISTS."""
    from ..sources import layout as ly

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    fp = F.format_string("data/f-%03d.parquet", (did / 50).cast("bigint"))
    data = docs.select(
        "doc_id", "lang", fp.alias("file_path"),
        (did % 50).cast("bigint").alias("pos"),
        (did % 4).cast("bigint").alias("data_seq"))
    pos_del = (docs.where(did % 7 == 0)
               .select(fp.alias("file_path"),
                       (did % 50).cast("bigint").alias("pos"),
                       (did % 5).cast("bigint").alias("delete_seq")))
    eq_del = spark.createDataFrame(
        [("de", 2), ("fr", 5)], "lang string, delete_seq bigint")
    return ly.merge_on_read(data, pos_del, eq_del, eq_cols=["lang"])


SQL_MOR_READ = """
WITH data AS (
  SELECT doc_id, lang,
         printf('data/f-%03d.parquet', doc_id // 50) AS file_path,
         CAST(doc_id % 50 AS BIGINT) AS pos,
         CAST(doc_id % 4 AS BIGINT) AS data_seq
  FROM documents),
pdel AS (
  SELECT printf('data/f-%03d.parquet', doc_id // 50) AS file_path,
         CAST(doc_id % 50 AS BIGINT) AS pos,
         CAST(doc_id % 5 AS BIGINT) AS delete_seq
  FROM documents WHERE doc_id % 7 = 0),
edel AS (SELECT * FROM (VALUES ('de', 2), ('fr', 5)) AS t(lang, delete_seq))
SELECT d.doc_id, d.lang, d.file_path, d.pos, d.data_seq
FROM data d
WHERE NOT EXISTS (SELECT 1 FROM pdel p
                  WHERE p.file_path = d.file_path AND p.pos = d.pos
                    AND p.delete_seq >= d.data_seq)
  AND NOT EXISTS (SELECT 1 FROM edel e
                  WHERE e.lang = d.lang AND e.delete_seq > d.data_seq)
"""


def q_stream_followup(spark, sf_dir):
    """Watermarked STREAM-STREAM interval join
    (streaming/pipeline.streaming_followup_join) driven as a gate: two
    file streams over the events parquet (views and purchases), inner
    join on user within a 2-hour event-time band, 1-hour watermark,
    append mode, availableNow, memory sink. Sixth streaming-engine
    gate — the symmetric-hash-join path (per-side keyed state stores
    bounded by watermark + time-range condition) that no other
    streaming operator exercises. Inner-join emission is exactly the
    static interval join, so a full SQL oracle applies."""
    import tempfile

    from ..streaming import pipeline as sp

    static = spark.read.parquet(f"{sf_dir}/events.parquet")

    def src():
        return (spark.readStream.schema(static.schema)
                .option("pathGlobFilter", "events.parquet")
                .parquet(sf_dir))

    views = src().where(F.col("event_type") == "view")
    buys = src().where(F.col("event_type") == "purchase")
    out = sp.streaming_followup_join(views, buys, within="2 hours",
                                     watermark="1 hour")
    _STREAM_GATE_SEQ[0] += 1
    qname = f"stream_followup_gate_{_STREAM_GATE_SEQ[0]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_followup_")
    q = (out.writeStream.format("memory").queryName(qname)
         .outputMode("append").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.sql(
        f"SELECT user_id, l_event_id, l_ts, r_event_id, r_ts, lag_us "
        f"FROM {qname}")


SQL_STREAM_FOLLOWUP = """
SELECT a.user_id, a.event_id AS l_event_id, a.ts AS l_ts,
       b.event_id AS r_event_id, b.ts AS r_ts,
       CAST(epoch_us(b.ts) - epoch_us(a.ts) AS BIGINT) AS lag_us
FROM events a JOIN events b ON a.user_id = b.user_id
WHERE a.event_type = 'view' AND b.event_type = 'purchase'
  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 2 HOUR
"""


def q_resolve_redirects(spark, sf_dir):
    """Redirect-chain resolution (links.resolve_redirects): pointer
    doubling over a synthetic functional redirect graph — doc i%17==0/1
    form 2-cycles (i<->i+1), other docs redirect to i div 2 unless
    i%5==0 (terminal, no out-edge), so chains mix clean terminations,
    hops through intermediate redirects, and descents into the 0<->1
    cycle. Oracle = recursive-CTE walk with an n-hop guard (a chain
    longer than n nodes is impossible, so no terminal within n hops
    proves a cycle)."""
    from ..operators import links as lk

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    r = i % 17
    edges = (docs.where(~((r >= 2) & (i % 5 == 0)))
             .select(i.alias("src"),
                     F.when(r == 0, i + 1)
                     .when(r == 1, i - 1)
                     .otherwise(F.expr("doc_id div 2")).alias("dst")))
    return lk.resolve_redirects(edges)


SQL_RESOLVE_REDIRECTS = """
WITH RECURSIVE e AS (
  SELECT doc_id AS src,
         CAST(CASE WHEN doc_id % 17 = 0 THEN doc_id + 1
                   WHEN doc_id % 17 = 1 THEN doc_id - 1
                   ELSE doc_id // 2 END AS BIGINT) AS dst
  FROM documents
  WHERE NOT (doc_id % 17 >= 2 AND doc_id % 5 = 0)),
nn AS (SELECT count(*) AS cnt FROM e),
walk AS (
  SELECT src AS src0, dst AS cur, CAST(1 AS BIGINT) AS hops FROM e
  UNION ALL
  SELECT w.src0, e.dst, w.hops + 1
  FROM walk w JOIN e ON w.cur = e.src
  WHERE w.hops <= (SELECT cnt FROM nn)),
fin AS (
  SELECT src0, cur, hops FROM walk
  WHERE cur NOT IN (SELECT src FROM e))
SELECT e.src, f.cur AS final, f.hops AS hops,
       CASE WHEN f.src0 IS NULL THEN 'cycle' ELSE 'ok' END AS status
FROM e LEFT JOIN fin f ON e.src = f.src0
"""


def q_phash_near_dup(spark, sf_dir):
    """Perceptual-hash near-dup pairs (dedup.hamming_near_pairs — the
    generic banded hamming join behind simhash, over a caller-supplied
    fingerprint): 60-bit constructed pHashes where each group of 4 docs
    shares an md5 base pattern and member k has k deterministic bits
    flipped, so true near pairs exist at every hamming level and the
    <= 3 threshold both keeps and cuts. Oracle = full all-pairs
    bit_count(xor) recompute (recall-1 proof for the banding)."""
    from ..operators import dedup as dd

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    base = F.conv(F.substring(F.md5(
        F.concat(F.lit("g"), F.expr("doc_id div 4").cast("string"))),
        1, 15), 16, 10).cast("bigint")
    fp = base
    for j in (1, 2, 3):
        # shiftleft's numBits arg must be a literal int in the Python
        # API; the shift-by-column form only exists in SQL — expr it.
        mask = F.when(i % 4 >= j, F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(CAST(conv(substring("
            f"md5(concat('f', CAST(doc_id AS STRING), '_{j}')), 1, 2),"
            " 16, 10) AS BIGINT) % 60 AS INT))")
        ).otherwise(F.lit(0).cast("bigint"))
        fp = fp.bitwiseXOR(mask)
    fps = docs.select("doc_id", fp.alias("fp"))
    return dd.hamming_near_pairs(fps, "doc_id", "fp",
                                 max_hamming=3, bits=60)


SQL_PHASH_NEAR_DUP = """
WITH fps AS (
  SELECT doc_id,
    xor(xor(xor(
      CAST(concat('0x', substr(md5('g' || CAST(doc_id // 4 AS VARCHAR)),
                  1, 15)) AS BIGINT),
      CASE WHEN doc_id % 4 >= 1 THEN CAST(1 AS BIGINT) <<
        CAST(CAST(concat('0x', substr(md5('f' || CAST(doc_id AS VARCHAR)
             || '_1'), 1, 2)) AS BIGINT) % 60 AS INTEGER)
        ELSE CAST(0 AS BIGINT) END),
      CASE WHEN doc_id % 4 >= 2 THEN CAST(1 AS BIGINT) <<
        CAST(CAST(concat('0x', substr(md5('f' || CAST(doc_id AS VARCHAR)
             || '_2'), 1, 2)) AS BIGINT) % 60 AS INTEGER)
        ELSE CAST(0 AS BIGINT) END),
      CASE WHEN doc_id % 4 >= 3 THEN CAST(1 AS BIGINT) <<
        CAST(CAST(concat('0x', substr(md5('f' || CAST(doc_id AS VARCHAR)
             || '_3'), 1, 2)) AS BIGINT) % 60 AS INTEGER)
        ELSE CAST(0 AS BIGINT) END) AS fp
  FROM documents)
SELECT a.doc_id AS key_a, b.doc_id AS key_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
FROM fps a JOIN fps b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= 3
"""


def q_stream_distinct(spark, sf_dir):
    """Streaming DISTINCT over the BUILT-IN dedup state operator
    (streaming/pipeline.streaming_distinct -> StreamingDeduplicate with
    a keyed state store) — seventh streaming-engine gate, the one
    stateful path (dropDuplicates) the other six don't touch.
    Restricted to key columns the emitted set is exactly SELECT
    DISTINCT, deterministic under availableNow."""
    import tempfile

    from ..streaming import pipeline as sp

    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = (spark.readStream.schema(static.schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir))
    out = sp.streaming_distinct(stream, ["user_id", "event_type"])
    _STREAM_GATE_SEQ[0] += 1
    qname = f"stream_distinct_gate_{_STREAM_GATE_SEQ[0]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_distinct_")
    q = (out.writeStream.format("memory").queryName(qname)
         .outputMode("append").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.sql(f"SELECT user_id, event_type FROM {qname}")


SQL_STREAM_DISTINCT = """
SELECT DISTINCT user_id, event_type FROM events
"""


def q_spatial_join_holes(spark, sf_dir):
    """General-polygon spatial join (spatial_join_points refine='evenodd'):
    exact INTEGER even-odd ray-cast refinement over concave + holed
    polygons (fixtures.holed_records — a donut whose hole swallows dense
    center #1, a concave L, a triangle), per the north-star's "exact
    ray-casting point-in-polygon refinement". Spark prunes candidates
    through the z12 covering-cell broadcast index; the oracle brute-forces
    ALL points x ALL polygon edges with the identical integer crossing
    predicate — so the gate simultaneously proves the cell index lossless
    AND the Arrow kernel's parity bit-for-bit."""
    pts = _points_df(spark, sf_dir)
    out = sj.spatial_join_points(spark, pts, fx.holed_records(),
                                 refine="evenodd")
    return out.select("doc_id", "ward_code").orderBy("doc_id", "ward_code")


SQL_SPATIAL_JOIN_HOLES = f"""
WITH {POINTS_CTE},
e(ward_code, ex1, ey1, ex2, ey2) AS (VALUES
    {fx.holed_edges_sql_values()}),
cr AS (
  SELECT p.doc_id, e.ward_code,
         CASE WHEN ((e.ey1 > p.lat_udeg) <> (e.ey2 > p.lat_udeg))
              AND (CASE WHEN e.ey2 > e.ey1
                   THEN (p.lng_udeg - CAST(e.ex1 AS BIGINT))
                        * (CAST(e.ey2 AS BIGINT) - e.ey1)
                      < (CAST(e.ex2 AS BIGINT) - e.ex1)
                        * (p.lat_udeg - CAST(e.ey1 AS BIGINT))
                   ELSE (p.lng_udeg - CAST(e.ex1 AS BIGINT))
                        * (CAST(e.ey2 AS BIGINT) - e.ey1)
                      > (CAST(e.ex2 AS BIGINT) - e.ex1)
                        * (p.lat_udeg - CAST(e.ey1 AS BIGINT)) END)
         THEN 1 ELSE 0 END AS c
  FROM pts p, e)
SELECT doc_id, ward_code FROM cr
GROUP BY doc_id, ward_code HAVING sum(c) % 2 = 1
ORDER BY doc_id, ward_code
"""


def q_skew_salted_join(spark, sf_dir):
    """Fragment-replicate skew join (skew.salted_replicated_join): the
    events fact (15 distinct user_ids — every key hot) joins the customer
    dim replicated 8x with per-row fact salts, hinted shuffle_hash so the
    mitigation path executes. Oracle = the PLAIN equi-join — salting must
    be result-invariant, proven on every run."""
    from ..operators import skew

    events = _t(spark, sf_dir, "events")
    cust = (_t(spark, sf_dir, "customer")
            .select(F.col("c_custkey").alias("user_id"),
                    "c_mktsegment", "c_nationkey"))
    out = skew.salted_replicated_join(events, cust, "user_id",
                                      row_col="event_id", buckets=8)
    return out.select("event_id", "user_id", "event_type",
                      "c_mktsegment",
                      F.col("c_nationkey").cast("int").alias("nationkey"))


SQL_SKEW_SALTED_JOIN = """
SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment,
       CAST(c.c_nationkey AS INTEGER) AS nationkey
FROM events e JOIN customer c ON e.user_id = c.c_custkey
"""


def q_stream_enrich(spark, sf_dir):
    """Stream-static enrichment join (streaming.streaming_enrich) — the
    STATELESS streaming engine path (per-batch broadcast hash join, no
    state store), eighth streaming gate. Inner emission under availableNow
    equals the static join, so a full SQL oracle applies."""
    import tempfile

    from ..streaming import pipeline as sp

    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = (spark.readStream.schema(static.schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir))
    dim = (spark.read.parquet(f"{sf_dir}/customer.parquet")
           .select(F.col("c_custkey").alias("user_id"), "c_mktsegment"))
    out = sp.streaming_enrich(stream, dim, ["user_id"]).select(
        "event_id", "user_id", "c_mktsegment")
    _STREAM_GATE_SEQ[0] += 1
    qname = f"stream_enrich_gate_{_STREAM_GATE_SEQ[0]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_enrich_")
    q = (out.writeStream.format("memory").queryName(qname)
         .outputMode("append").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.sql(f"SELECT event_id, user_id, c_mktsegment FROM {qname}")


SQL_STREAM_ENRICH = """
SELECT e.event_id, e.user_id, c.c_mktsegment
FROM events e JOIN customer c ON e.user_id = c.c_custkey
"""


def q_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood ER blocking (dedup.sorted_neighborhood_pairs):
    documents sorted by (n_chars, doc_id), each paired with its 3
    successors — the classic adjacent-key candidate generator. The global
    rank is the packing-style two-phase scan (range partition +
    per-partition window + O(partitions) offsets), never a single-reducer
    window; the oracle is the plain row_number self-join."""
    from ..operators import dedup as dd

    docs = _t(spark, sf_dir, "documents")
    out = dd.sorted_neighborhood_pairs(docs, "doc_id", "n_chars", window=4)
    return out.select("key_a", "key_b",
                      F.col("block_a").cast("bigint").alias("block_a"),
                      F.col("block_b").cast("bigint").alias("block_b"),
                      "dist")


SQL_SORTED_NEIGHBORHOOD = """
WITH r AS (
  SELECT doc_id, n_chars,
         row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rank
  FROM documents)
SELECT a.doc_id AS key_a, b.doc_id AS key_b,
       a.n_chars AS block_a, b.n_chars AS block_b,
       CAST(b.rank - a.rank AS INTEGER) AS dist
FROM r a JOIN r b ON b.rank - a.rank BETWEEN 1 AND 3
"""


def q_sssp_seeds(spark, sf_dir):
    """Weighted shortest paths from a seed set (graph.sssp_from_seeds):
    Bellman-Ford over a synthetic DAG — every doc has parent doc div 2
    (weight 1 + doc_id % 7), docs divisible by 5 get a second parent
    doc div 3, edges point parent -> child so ids strictly increase (no
    cycles) and the two-parent nodes give real min-over-paths decisions.
    Seeds = docs 0..2. Oracle = recursive-CTE min over path sums
    (UNION-distinct state dedup; integer weights keep it exact)."""
    from ..operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    w = (F.lit(1) + i % 7).cast("bigint")
    e1 = (docs.where(i >= 1)
          .select(F.expr("doc_id div 2").alias("src"), i.alias("dst"),
                  w.alias("w")))
    e2 = (docs.where((i >= 1) & (i % 5 == 0))
          .select(F.expr("doc_id div 3").alias("src"), i.alias("dst"),
                  (F.lit(2) + i % 3).cast("bigint").alias("w")))
    edges = e1.unionByName(e2).where(F.col("src") != F.col("dst"))
    seeds = docs.where(i <= 2).select(i.alias("id"))
    return gr.sssp_from_seeds(seeds, edges, max_rounds=30)


SQL_SSSP_SEEDS = """
WITH RECURSIVE e AS (
  SELECT CAST(doc_id // 2 AS BIGINT) AS src, doc_id AS dst,
         CAST(1 + doc_id % 7 AS BIGINT) AS w
  FROM documents WHERE doc_id >= 1 AND doc_id // 2 <> doc_id
  UNION ALL
  SELECT CAST(doc_id // 3 AS BIGINT) AS src, doc_id AS dst,
         CAST(2 + doc_id % 3 AS BIGINT) AS w
  FROM documents WHERE doc_id >= 1 AND doc_id % 5 = 0
    AND doc_id // 3 <> doc_id),
walk AS (
  SELECT doc_id AS id, CAST(0 AS BIGINT) AS dist
  FROM documents WHERE doc_id <= 2
  UNION
  SELECT e.dst, w.dist + e.w FROM walk w JOIN e ON w.id = e.src)
SELECT id, min(dist) AS dist FROM walk GROUP BY id
"""


def q_stream_upsert(spark, sf_dir):
    """foreachBatch streaming upsert (streaming.streaming_upsert) — the
    ninth streaming gate, exercising the foreachBatch sink path: keyed
    MERGE into versioned parquet snapshots, per-user latest event by
    (ts, event_id). Under availableNow the final snapshot equals the
    batch latest-per-key, so a full SQL oracle applies."""
    import tempfile

    from ..streaming import pipeline as sp

    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = (spark.readStream.schema(static.schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir))
    state_dir = tempfile.mkdtemp(prefix="upsert_state_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_upsert_")
    q = (sp.streaming_upsert(
            stream.select("user_id", "ts", "event_id", "event_type"),
            state_dir, ["user_id"], ["ts", "event_id"])
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return (sp.read_upsert_state(spark, state_dir)
            .select("user_id", "event_id", "event_type"))


SQL_STREAM_UPSERT = """
SELECT user_id, event_id, event_type FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1
"""


def q_scc_components(spark, sf_dir):
    """Strongly connected components (graph.scc_labels — FW-BW-Trim
    coloring): the web-graph bowtie/link-ring primitive. The synthetic
    directed graph mixes every SCC shape the algorithm must handle:
    10-node blocks chained i->i+1, blocks with index not divisible by 3
    close the cycle (non-trivial SCCs), blocks divisible by 3 stay
    acyclic chains (Trim fodder), and every 5th block links to the next
    (cross-SCC DAG edges forcing a second peel). Oracle = recursive
    reachability closure; mutual-reach pairs grouped by min id."""
    from ..operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    ids = docs.select(i.alias("id"))
    blk = F.expr("doc_id div 10")
    e1 = docs.where(i % 10 != 9).select(i.alias("src"),
                                        (i + 1).alias("dst"))
    e2 = (docs.where((i % 10 == 9) & (blk % 3 != 0))
          .select(i.alias("src"), (i - 9).alias("dst")))
    e3 = (docs.where((i % 10 == 9) & (blk % 5 == 0))
          .select(i.alias("src"), (i + 1).alias("dst")))
    edges = (e1.unionByName(e2).unionByName(e3)
             .join(ids.select(F.col("id").alias("dst")), "dst",
                   "left_semi"))
    return gr.scc_labels(ids, edges, max_peels=6)


SQL_SCC_COMPONENTS = """
WITH RECURSIVE
n AS MATERIALIZED (SELECT doc_id AS id FROM documents),
e AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT doc_id AS src, doc_id + 1 AS dst FROM documents
    WHERE doc_id % 10 <> 9
    UNION ALL
    SELECT doc_id, doc_id - 9 FROM documents
    WHERE doc_id % 10 = 9 AND (doc_id // 10) % 3 <> 0
    UNION ALL
    SELECT doc_id, doc_id + 1 FROM documents
    WHERE doc_id % 10 = 9 AND (doc_id // 10) % 5 = 0)
  WHERE dst IN (SELECT id FROM n)),
reach AS (
  SELECT id AS src, id AS dst FROM n
  UNION
  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
SELECT r1.src AS id, min(r1.dst) AS scc_id
FROM reach r1 JOIN reach r2 ON r1.src = r2.dst AND r1.dst = r2.src
GROUP BY r1.src
"""


def q_edit_distance_join(spark, sf_dir):
    """Exact edit-distance self-join (dedup.edit_distance_pairs):
    synthetic record titles matched at levenshtein <= 2. Spark blocks
    by the length band (floor(len/3) home bucket, probe explodes to
    +/-1 — lossless because one edit moves length by at most 1); the
    ORACLE IS THE BRUTE-FORCE ALL-PAIRS LEVENSHTEIN, so the gate proves
    the blocking candidate set misses nothing."""
    from ..operators import dedup as dd

    docs = _t(spark, sf_dir, "documents")
    titled = docs.select(
        "doc_id",
        F.concat(F.expr("repeat('a', (doc_id * 7) % 23)"), F.lit("-"),
                 (F.col("doc_id") % 13).cast("string")).alias("title"))
    return dd.edit_distance_pairs(titled, "doc_id", "title", max_dist=2)


SQL_EDIT_DISTANCE_JOIN = """
WITH t AS MATERIALIZED (
  SELECT doc_id, concat(repeat('a', (doc_id * 7) % 23), '-',
                        CAST(doc_id % 13 AS STRING)) AS s
  FROM documents)
SELECT a.doc_id AS key_a, b.doc_id AS key_b,
       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE levenshtein(a.s, b.s) <= 2
"""


def q_dbscan_clusters(spark, sf_dir):
    """Deterministic DBSCAN (clustering.dbscan_clusters) over the
    document points: eps = 250 m haversine, minPts = 4 (self included).
    Spark: covering-cell candidate pairs -> neighbor-count agg -> core
    filter -> alternating-CC over core-core edges -> min-label border
    assignment. Oracle: brute-force all-pairs adjacency + recursive
    closure over core-core edges + the same min-label border rule — one
    gate proves candidate recall AND the cluster/role labeling."""
    from ..operators import clustering as cl

    pts = _points_df(spark, sf_dir)
    return cl.dbscan_clusters(pts, radius_m=250.0, min_pts=4)


def _sql_dbscan_clusters() -> str:
    from ..operators import geodesy as gd

    hav = gd.haversine_mm_sql("a.lng_udeg", "a.lat_udeg",
                              "b.lng_udeg", "b.lat_udeg")
    return f"""
WITH RECURSIVE {POINTS_CTE},
pairs AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pts a JOIN pts b ON a.doc_id < b.doc_id
  WHERE {hav} <= 250000),
adj AS MATERIALIZED (
  SELECT id_a AS id, id_b AS nb FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs),
core AS MATERIALIZED (
  SELECT id FROM adj GROUP BY id HAVING count(*) + 1 >= 4),
ce AS MATERIALIZED (
  SELECT a.id AS u, a.nb AS v FROM adj a
  WHERE a.id IN (SELECT id FROM core) AND a.nb IN (SELECT id FROM core)
  UNION ALL SELECT id, id FROM core),
walk AS (
  SELECT u AS id, u AS lbl FROM ce
  UNION
  SELECT ce.v, w.lbl FROM walk w JOIN ce ON ce.u = w.id),
lbl AS MATERIALIZED (SELECT id, min(lbl) AS cluster_id
                     FROM walk GROUP BY id)
SELECT c.id, l.cluster_id, 'core' AS role
FROM core c JOIN lbl l ON c.id = l.id
UNION ALL
SELECT a.id, min(l.cluster_id), 'border'
FROM adj a JOIN lbl l ON a.nb = l.id
WHERE a.id NOT IN (SELECT id FROM core)
  AND a.nb IN (SELECT id FROM core)
GROUP BY a.id
"""


def q_kmeans_geo(spark, sf_dir):
    """Integer-exact k-means (clustering.kmeans_lloyd_int): 3 Lloyd
    iterations, k=5, seeded with the 5 smallest-id points — the IVF
    coarse-quantizer trainer reduced to an oracle-checkable integer
    form (bigint coords, integer squared distance, ties -> smaller
    centroid id, centroid update = sum DIV count). Oracle unrolls the
    same three assign/update rounds as CTEs."""
    from ..operators import clustering as cl

    pts = _points_df(spark, sf_dir)
    return cl.kmeans_lloyd_int(pts, k=5, iters=3)


def _sql_kmeans_geo(k: int = 5, iters: int = 3) -> str:
    d2 = ("(p.lng_udeg - c.cx)*(p.lng_udeg - c.cx)"
          " + (p.lat_udeg - c.cy)*(p.lat_udeg - c.cy)")
    parts = [f"""c0 AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS c,
         lng_udeg AS cx, lat_udeg AS cy
  FROM (SELECT * FROM pts ORDER BY doc_id LIMIT {k}))"""]
    for i in range(1, iters + 1):
        parts.append(f"""a{i} AS MATERIALIZED (
  SELECT doc_id, c FROM (
    SELECT p.doc_id, c.c, row_number() OVER (
      PARTITION BY p.doc_id ORDER BY {d2}, c.c) AS rn
    FROM pts p CROSS JOIN c{i - 1} c) WHERE rn = 1)""")
        parts.append(f"""c{i} AS MATERIALIZED (
  SELECT a{i}.c, CAST(sum(p.lng_udeg) // count(*) AS BIGINT) AS cx,
         CAST(sum(p.lat_udeg) // count(*) AS BIGINT) AS cy
  FROM a{i} JOIN pts p USING (doc_id) GROUP BY a{i}.c)""")
    return f"""
WITH {POINTS_CTE},
{','.join(parts)}
SELECT doc_id AS id, c AS cluster, cx, cy FROM (
  SELECT p.doc_id, c.c, c.cx, c.cy, row_number() OVER (
    PARTITION BY p.doc_id ORDER BY {d2}, c.c) AS rn
  FROM pts p CROSS JOIN c{iters} c) WHERE rn = 1
"""


def q_daily_locf(spark, sf_dir):
    """Daily last-state snapshot grid with LOCF gap fill
    (temporal.daily_state_locf): per user, one row per calendar day
    from first to last active day carrying the day's last event_type;
    inactive days carry the prior state forward (is_gap marks them).
    Null user_ids filtered on both sides (cross-engine null-key
    canonicalization). Oracle: row_number day-last + generate_series
    grid + last_value IGNORE NULLS."""
    from ..operators import temporal as tp

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull()))
    return tp.daily_state_locf(ev)


SQL_DAILY_LOCF = """
WITH ls AS MATERIALIZED (
  SELECT user_id AS key, date_trunc('day', ts) AS day, event_type AS state
  FROM (SELECT user_id, ts, event_id, event_type, row_number() OVER (
          PARTITION BY user_id, date_trunc('day', ts)
          ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
  WHERE rn = 1),
span AS (SELECT key, min(day) AS d0, max(day) AS d1 FROM ls GROUP BY key),
grid AS (SELECT key, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
         FROM span)
SELECT g.key, g.day,
       last_value(l.state IGNORE NULLS) OVER (
         PARTITION BY g.key ORDER BY g.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS state,
       l.state IS NULL AS is_gap
FROM grid g LEFT JOIN ls l ON g.key = l.key AND g.day = l.day
"""


def q_peak_concurrency(spark, sf_dir):
    """Per-event-type peak interval concurrency (temporal.
    peak_concurrency): each event holds a (1 + event_id % 7)-minute
    active interval; the sweep line (+1 start / -1 end, departures
    before arrivals at ties — end-exclusive) yields the peak load and
    its first instant. Oracle replays the identical sweep in SQL."""
    from ..operators import temporal as tp

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("ts").isNotNull() & F.col("event_type").isNotNull()))
    iv = ev.select(
        "event_type", F.col("ts").alias("s"),
        F.expr("timestampadd(MINUTE, CAST(1 + event_id % 7 AS INT), ts)")
        .alias("e"))
    return tp.peak_concurrency(iv, "event_type", "s", "e")


SQL_PEAK_CONCURRENCY = """
WITH iv AS MATERIALIZED (
  SELECT event_type AS key, ts AS s,
         ts + to_minutes(1 + event_id % 7) AS e
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
pt AS (SELECT key, s AS t, 1 AS delta FROM iv
       UNION ALL SELECT key, e, -1 FROM iv),
run AS (SELECT key, t, sum(delta) OVER (
          PARTITION BY key ORDER BY t, delta
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS load
        FROM pt),
mx AS (SELECT key, t, load, max(load) OVER (PARTITION BY key) AS peak
       FROM run)
SELECT key, CAST(min(peak) AS BIGINT) AS peak, min(t) AS first_peak_ts
FROM mx WHERE load = peak GROUP BY key
"""


def q_cell_hull(spark, sf_dir):
    """Per-cell convex hull vertex set (geometry.convex_hull_vertices):
    the sparse (non-dense-cluster) document points gridded into
    100k-µdeg cells; each cell emits its hull CORNERS via the integer
    monotone-chain applyInPandas kernel (Python-by-design — exact
    Python-int cross products). The oracle characterizes the same set
    declaratively via Caratheodory: a point is NON-extreme iff it lies
    in a non-degenerate triangle of three other cell points
    (boundary inclusive) or strictly inside a segment of two — so a
    hull bug (dropped corner, kept edge point) fails the gate without
    the oracle ever running a hull."""
    from ..operators import geometry as gm

    pts = _points_df(spark, sf_dir).where(F.col("doc_id") % 10 >= 4)
    cells = pts.select(
        (F.floor(F.col("lng_udeg") / 100000) * 100000
         + F.floor(F.col("lat_udeg") / 100000)).alias("cell"),
        F.col("lng_udeg").alias("x"), F.col("lat_udeg").alias("y"))
    return gm.convex_hull_vertices(cells, "cell", "x", "y")


def _sql_cell_hull() -> str:
    s1 = "((b.x-a.x)*(p.y-a.y) - (b.y-a.y)*(p.x-a.x))"
    s2 = "((c.x-b.x)*(p.y-b.y) - (c.y-b.y)*(p.x-b.x))"
    s3 = "((a.x-c.x)*(p.y-c.y) - (a.y-c.y)*(p.x-c.x))"
    return f"""
WITH {POINTS_CTE},
g AS MATERIALIZED (
  SELECT DISTINCT
         (lng_udeg // 100000) * 100000 + (lat_udeg // 100000) AS cell,
         lng_udeg AS x, lat_udeg AS y
  FROM pts WHERE doc_id % 10 >= 4),
tri AS (
  SELECT DISTINCT p.cell, p.x, p.y
  FROM g p
  JOIN g a ON a.cell = p.cell AND (a.x, a.y) <> (p.x, p.y)
  JOIN g b ON b.cell = p.cell AND (b.x, b.y) <> (p.x, p.y)
           AND (b.x, b.y) > (a.x, a.y)
  JOIN g c ON c.cell = p.cell AND (c.x, c.y) <> (p.x, p.y)
           AND (c.x, c.y) > (b.x, b.y)
  WHERE ((b.x-a.x)*(c.y-a.y) - (b.y-a.y)*(c.x-a.x)) <> 0
    AND (({s1} >= 0 AND {s2} >= 0 AND {s3} >= 0)
      OR ({s1} <= 0 AND {s2} <= 0 AND {s3} <= 0))),
seg AS (
  SELECT DISTINCT p.cell, p.x, p.y
  FROM g p
  JOIN g a ON a.cell = p.cell
  JOIN g b ON b.cell = p.cell
  WHERE ((a.x-p.x)*(b.y-p.y) - (a.y-p.y)*(b.x-p.x)) = 0
    AND (a.x-p.x)*(b.x-p.x) + (a.y-p.y)*(b.y-p.y) < 0)
SELECT cell, x, y FROM g
EXCEPT
SELECT * FROM (SELECT * FROM tri UNION SELECT * FROM seg)
"""


def q_active_time_union(spark, sf_dir):
    """Per-user UNION length of active intervals (temporal.
    interval_union_time): each event holds (1 + event_id % 7) minutes;
    overlapping holds merge (half-open — touching intervals chain)
    before summing, so double-counted overlap would fail the gate. The
    cumulative-max island trick needs NO interval self-join. Oracle
    replays the identical two windows in SQL."""
    from ..operators import temporal as tp

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull()))
    iv = ev.select(
        "user_id", F.col("ts").alias("s"),
        F.expr("timestampadd(MINUTE, CAST(1 + event_id % 7 AS INT), ts)")
        .alias("e"))
    return tp.interval_union_time(iv, "user_id", "s", "e")


SQL_ACTIVE_TIME_UNION = """
WITH iv AS MATERIALIZED (
  SELECT user_id AS key, epoch_us(ts) AS s,
         epoch_us(ts + to_minutes(1 + event_id % 7)) AS e
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
fl AS (
  SELECT key, s, e,
         CASE WHEN max(e) OVER (PARTITION BY key ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR s > max(e) OVER (PARTITION BY key ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS ni
  FROM iv),
isl AS (
  SELECT key, s, e, sum(ni) OVER (PARTITION BY key ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM fl),
per AS (SELECT key, island, max(e) - min(s) AS ext
        FROM isl GROUP BY key, island)
SELECT key, CAST(sum(ext) AS BIGINT) AS covered_us,
       CAST(count(*) AS BIGINT) AS n_islands
FROM per GROUP BY key
"""


def q_hrw_routing(spark, sf_dir):
    """Rendezvous (HRW) shard routing (frontier.hrw_route): every doc
    key routed under an 8-node and a 9-node cluster; ``moved`` marks
    keys whose owner changed. The consistency property (a moved key
    can ONLY land on the new node 8 — survivors never reshuffle among
    themselves) is pinned by pytest; the oracle recomputes both argmax
    assignments from the same md5 weights."""
    from ..operators import frontier as fr

    docs = _t(spark, sf_dir, "documents")
    keys = docs.select(F.concat(F.lit("doc-"),
                                F.col("doc_id").cast("string")).alias("key"))
    a8 = fr.hrw_route(keys, 8).withColumnRenamed("node", "node8")
    a9 = fr.hrw_route(keys, 9).withColumnRenamed("node", "node9")
    return (a8.join(a9, "key")
            .select("key", "node8", "node9",
                    (F.col("node8") != F.col("node9")).alias("moved")))


def _sql_hrw_routing() -> str:
    w = _hex60_sql("concat(key, '|hrw|', CAST(node AS STRING))")
    return f"""
WITH k AS MATERIALIZED (
  SELECT concat('doc-', CAST(doc_id AS STRING)) AS key FROM documents),
w8 AS (SELECT key, node, {w} AS w
       FROM k CROSS JOIN (SELECT range AS node FROM range(8))),
a8 AS (SELECT key, node AS node8 FROM (
  SELECT key, node, row_number() OVER (
    PARTITION BY key ORDER BY w DESC, node) AS rn FROM w8) WHERE rn = 1),
w9 AS (SELECT key, node, {w} AS w
       FROM k CROSS JOIN (SELECT range AS node FROM range(9))),
a9 AS (SELECT key, node AS node9 FROM (
  SELECT key, node, row_number() OVER (
    PARTITION BY key ORDER BY w DESC, node) AS rn FROM w9) WHERE rn = 1)
SELECT a8.key, CAST(node8 AS BIGINT) AS node8,
       CAST(node9 AS BIGINT) AS node9, node8 <> node9 AS moved
FROM a8 JOIN a9 ON a8.key = a9.key
"""


def q_modularity(spark, sf_dir):
    """Per-community modularity decomposition (graph.modularity_contrib)
    of the block labeling (community = doc div 10) over the SCC gate's
    block graph read undirected — cross-block links are INTER edges, so
    the cu == cv intra filter provably fires. q_num = 4*m*e_c - d_c^2
    stays an exact integer; Q = sum(q_num)/(4 m^2) at read time. Oracle
    re-derives edges, degrees and both aggregates independently."""
    from ..operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    ids = docs.select(i.alias("id"))
    blk = F.expr("doc_id div 10")
    e1 = docs.where(i % 10 != 9).select(i.alias("src"),
                                        (i + 1).alias("dst"))
    e2 = (docs.where((i % 10 == 9) & (blk % 3 != 0))
          .select(i.alias("src"), (i - 9).alias("dst")))
    e3 = (docs.where((i % 10 == 9) & (blk % 5 == 0))
          .select(i.alias("src"), (i + 1).alias("dst")))
    edges = (e1.unionByName(e2).unionByName(e3)
             .join(ids.select(F.col("id").alias("dst")), "dst",
                   "left_semi"))
    labels = docs.select(i.alias("id"), blk.alias("community"))
    return gr.modularity_contrib(edges, labels, label_col="community")


SQL_MODULARITY = """
WITH e0 AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT doc_id AS src, doc_id + 1 AS dst FROM documents
    WHERE doc_id % 10 <> 9
    UNION ALL
    SELECT doc_id, doc_id - 9 FROM documents
    WHERE doc_id % 10 = 9 AND (doc_id // 10) % 3 <> 0
    UNION ALL
    SELECT doc_id, doc_id + 1 FROM documents
    WHERE doc_id % 10 = 9 AND (doc_id // 10) % 5 = 0)
  WHERE dst IN (SELECT doc_id FROM documents)),
und AS MATERIALIZED (
  SELECT least(src, dst) AS u, greatest(src, dst) AS v FROM e0
  WHERE src <> dst GROUP BY 1, 2),
m AS (SELECT count(*) AS m FROM und),
lbl AS (SELECT doc_id AS id, doc_id // 10 AS community FROM documents),
deg AS (SELECT nid, count(*) AS degree FROM (
  SELECT u AS nid FROM und UNION ALL SELECT v FROM und) GROUP BY nid),
dc AS (SELECT l.community, CAST(sum(d.degree) AS BIGINT) AS degree_sum
       FROM deg d JOIN lbl l ON d.nid = l.id GROUP BY 1),
ec AS (SELECT la.community, CAST(count(*) AS BIGINT) AS intra_edges
       FROM und JOIN lbl la ON und.u = la.id JOIN lbl lb ON und.v = lb.id
       WHERE la.community = lb.community GROUP BY 1)
SELECT dc.community, coalesce(ec.intra_edges, 0) AS intra_edges,
       dc.degree_sum,
       CAST(4 * m.m * coalesce(ec.intra_edges, 0)
            - dc.degree_sum * dc.degree_sum AS BIGINT) AS q_num
FROM dc LEFT JOIN ec ON dc.community = ec.community, m
"""


def q_readability(spark, sf_dir):
    """Flesch reading ease in exact milli-points (text.readability_milli):
    word/sentence/vowel-group runs counted by regex, all ratios
    pre-scaled integer DIVs — bit-exact across engines. The Spark side
    counts runs via sentinel-collapse regexp_replace; the oracle counts
    the SAME runs via regexp_extract_all list length — independent
    formulations of one spec."""
    from ..operators import text as tx

    docs = _t(spark, sf_dir, "documents")
    return tx.readability_milli(docs)


SQL_READABILITY = """
WITH c AS MATERIALIZED (
  SELECT doc_id,
         CAST(len(regexp_extract_all(lower(text), '[a-z0-9'']+'))
              AS BIGINT) AS w,
         greatest(CAST(1 AS BIGINT),
                  CAST(len(regexp_extract_all(lower(text), '[.!?]+'))
                       AS BIGINT)) AS s,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
              AS BIGINT) AS v0
  FROM documents)
SELECT doc_id, w AS n_words, s AS n_sentences,
       greatest(w, v0) AS n_syllables,
       CASE WHEN w > 0 THEN
         206835 - (1015 * ((1000 * w) // s)) // 1000
                - (84600 * ((1000 * greatest(w, v0)) // w)) // 1000
       END AS fre_milli
FROM c
"""


def q_chi2_assoc(spark, sf_dir):
    """Chi-squared association cells (stats.chi2_flags) over the
    lang x source contingency table, flagged where the cell's exact
    integer contribution test (O*N - R*C)^2 > 2*N*R*C fires (threshold
    2 flags ~8/100 fixture cells — both branches exercised; the
    population-stat masking note on anomalous_days applies to z^2, not
    to contingency cells). Oracle rebuilds cells and margins."""
    from ..operators import stats as st

    docs = _t(spark, sf_dir, "documents")
    return st.chi2_flags(docs, "lang", "source", threshold=2)


SQL_CHI2_ASSOC = """
WITH cells AS MATERIALIZED (
  SELECT lang AS row_key, source AS col_key,
         CAST(count(*) AS BIGINT) AS o
  FROM documents GROUP BY 1, 2),
r AS (SELECT row_key, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
c AS (SELECT col_key, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells)
SELECT cells.row_key, cells.col_key, o, r.r, c.c, n.n,
       (o * n.n - r.r * c.c) * (o * n.n - r.r * c.c)
         > 2 * n.n * r.r * c.c AS flagged
FROM cells JOIN r USING (row_key) JOIN c USING (col_key), n
"""


def q_frame_sample(spark, sf_dir):
    """Video frame-sampling plumbing (multimodal.frame_sample_stub): the
    third multimodal gate — 1->N rows per binary blob via mapInPandas
    (Python-by-design; the stub 'decode' is byte math: one fake frame
    per 64 bytes, every 10th sampled, digest = md5(blob || ASCII idx)
    so the oracle restates the hash input as plain string concat)."""
    from ..operators import multimodal as mm

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit("/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.encode(F.concat(F.lit("<html><body>"), F.col("text"),
                          F.lit("</body></html>")), "utf-8").alias("html"))
    return mm.frame_sample_stub(pages, every_n=10)


SQL_FRAME_SAMPLE = """
WITH pages AS MATERIALIZED (
  SELECT concat('https://', source, '/doc/', CAST(doc_id AS VARCHAR)) AS url,
         '<html><body>' || text || '</body></html>' AS page
  FROM documents),
nf AS (SELECT url, page,
              greatest(1, octet_length(encode(page)) // 64) AS n
       FROM pages)
SELECT url, CAST(idx AS INTEGER) AS frame_idx,
       md5(page || CAST(idx AS VARCHAR)) AS frame_digest
FROM nf, unnest(range(0, n, 10)) AS t(idx)
"""


def q_er_match_scores(spark, sf_dir):
    """Fellegi-Sunter scoring (dedup.er_match_scores) over the
    edit-distance blocking candidates: per-field integer deci-ban
    agreement weights (lang +15/-10, source +12/-8, length band
    +8/-5), three-way classification at (30, 5) — all-agree pairs
    are 'match' (35), two-agree 'possible', the rest 'nonmatch'.
    Oracle re-derives candidates brute-force and mirrors the CASE
    sums with IS NOT DISTINCT FROM equality."""
    from ..operators import dedup as dd

    docs = _t(spark, sf_dir, "documents")
    titled = docs.select(
        "doc_id",
        F.concat(F.expr("repeat('a', (doc_id * 7) % 23)"), F.lit("-"),
                 (F.col("doc_id") % 13).cast("string")).alias("title"),
        "lang", "source", F.expr("n_chars div 100").alias("band"))
    pairs = dd.edit_distance_pairs(titled, "doc_id", "title", max_dist=2)
    return dd.er_match_scores(
        pairs, titled, "doc_id",
        [("lang", 15, -10), ("source", 12, -8), ("band", 8, -5)],
        upper=30, lower=5)


SQL_ER_MATCH_SCORES = """
WITH t AS MATERIALIZED (
  SELECT doc_id, concat(repeat('a', (doc_id * 7) % 23), '-',
                        CAST(doc_id % 13 AS STRING)) AS s,
         lang, source, n_chars // 100 AS band
  FROM documents),
p AS MATERIALIZED (
  SELECT a.doc_id AS key_a, b.doc_id AS key_b,
         a.lang AS al, b.lang AS bl, a.source AS asrc, b.source AS bsrc,
         a.band AS ab, b.band AS bb
  FROM t a JOIN t b ON a.doc_id < b.doc_id
  WHERE levenshtein(a.s, b.s) <= 2),
sc AS (
  SELECT key_a, key_b,
    CAST((CASE WHEN al IS NOT DISTINCT FROM bl THEN 15 ELSE -10 END)
       + (CASE WHEN asrc IS NOT DISTINCT FROM bsrc THEN 12 ELSE -8 END)
       + (CASE WHEN ab IS NOT DISTINCT FROM bb THEN 8 ELSE -5 END)
       AS BIGINT) AS score
  FROM p)
SELECT key_a, key_b, score,
       CASE WHEN score >= 30 THEN 'match'
            WHEN score >= 5 THEN 'possible'
            ELSE 'nonmatch' END AS match_class
FROM sc
"""


def q_ngram_novelty(spark, sf_dir):
    """Per-document shingle novelty (dedup.shingle_novelty): ppm of the
    doc's distinct 3-gram shingles FIRST seen at this doc in ingest
    (doc_id) order — the N-way-boilerplate signal pairwise similarity
    dilutes away. One min-agg keyed by shingle + one join back; oracle
    over the shared shingle CTE."""
    from ..operators import dedup as dd

    docs = _t(spark, sf_dir, "documents")
    return dd.shingle_novelty(docs)


SQL_NGRAM_NOVELTY = f"""
WITH {SHINGLES_CTE},
first AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1),
per AS (
  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_first
  FROM sh s JOIN first f USING (shingle) GROUP BY 1)
SELECT doc_id, n_shingles, n_first,
       CAST((1000000 * n_first) // n_shingles AS BIGINT) AS novelty_ppm
FROM per
"""


def q_degree_histogram(spark, sf_dir):
    """Degree distribution of the link graph (graph.degree_histogram):
    one row per (direction, degree) with the node count — two partial
    aggs per direction, nothing driver-side. Oracle re-derives both
    histograms from the edge CTE."""
    from ..operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    return gr.degree_histogram(gr.synthetic_link_edges(docs, n))


SQL_DEGREE_HISTOGRAM = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT src, dst FROM e0 WHERE src <> dst),
o AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS degree
      FROM e GROUP BY 1),
i AS (SELECT dst AS id, CAST(count(*) AS BIGINT) AS degree
      FROM e GROUP BY 1)
SELECT 'out' AS direction, degree, CAST(count(*) AS BIGINT) AS n_nodes
FROM o GROUP BY 2
UNION ALL
SELECT 'in', degree, CAST(count(*) AS BIGINT) FROM i GROUP BY 2
"""


def q_link_reciprocity(spark, sf_dir):
    """Link reciprocity (graph.reciprocity): share of directed edges
    whose reverse exists, integer ppm — one reversed-key self-semi-join.
    Oracle via an EXISTS subquery."""
    from ..operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    return gr.reciprocity(gr.synthetic_link_edges(docs, n))


SQL_LINK_RECIPROCITY = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
r AS (SELECT CAST(count(*) AS BIGINT) AS n_reciprocal
      FROM e a WHERE EXISTS (SELECT 1 FROM e b
                             WHERE b.src = a.dst AND b.dst = a.src)),
t AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
SELECT t.n_edges, r.n_reciprocal,
       CAST((1000000 * r.n_reciprocal) // t.n_edges AS BIGINT)
           AS reciprocity_ppm
FROM t, r
"""


def q_token_entropy(spark, sf_dir):
    """Per-document token entropy in micro-nats (text.token_entropy):
    lexical-diversity / gibberish signal; each c*ln(c) term quantized
    BEFORE the sum so the aggregate is integer and merge-order free.
    Oracle re-derives from the shared token CTE."""
    docs = _t(spark, sf_dir, "documents")
    return tx.token_entropy(docs)


SQL_TOKEN_ENTROPY = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents),
occ AS (SELECT doc_id, u.tok FROM toks, UNNEST(t) AS u(tok)),
cnt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        FROM occ GROUP BY 1, 2),
agg AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(sum(CAST(floor(ln(CAST(c AS DOUBLE)) * CAST(c AS DOUBLE)
                             * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s
  FROM cnt GROUP BY 1)
SELECT doc_id, n_tokens, n_distinct,
       CAST(CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1000000.0 + 0.5)
                 AS BIGINT) - s // n_tokens AS BIGINT) AS entropy_e6_nats
FROM agg
"""


def q_ward_density(spark, sf_dir):
    """Ward page density — the geometry x spatial-join composition:
    PIP-joined page counts per ward divided by the exact shoelace area
    (pages per 1e9 µdeg^2, integer DIV). Composes spatial_join_points
    with operators/geometry over the same fixture quads; oracle = PIP
    counts joined to the closed-form quad shoelace."""
    from ..operators import geometry as gm

    pts = _points_df(spark, sf_dir)
    recs = fx.tessellation_records()
    joined = sj.spatial_join_points(spark, pts, recs)
    counts = joined.groupBy("ward_code").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pages"))
    rows = []
    for rec in recs:
        for i, (x, y) in enumerate(rec["rings_udeg"][0]):
            rows.append((rec["ward_code"], i, x, y))
    verts = spark.createDataFrame(rows, "poly_id string, i int, "
                                        "x long, y long")
    geom = gm.ring_area2_centroid(verts).withColumnRenamed(
        "poly_id", "ward_code")
    return (counts.join(geom.select("ward_code", "area2_udeg2"),
                        "ward_code")
            .withColumn("density_per_gud2",
                        F.expr("CAST((n_pages * 2000000000) DIV "
                               "area2_udeg2 AS BIGINT)")))


SQL_WARD_DENSITY = f"""
WITH {POINTS_CTE},
b(ward_code, x1, y1, x2, y2, x3, y3, x4, y4) AS (VALUES
    {fx.boundaries_sql_values()}),
cnts AS (
  SELECT b.ward_code, CAST(count(*) AS BIGINT) AS n_pages
  FROM pts p JOIN b ON {fx.PIP_CONVEX_SQL}
  GROUP BY 1),
b8 AS (
  SELECT ward_code,
         CAST(x1 AS BIGINT) AS x1, CAST(y1 AS BIGINT) AS y1,
         CAST(x2 AS BIGINT) AS x2, CAST(y2 AS BIGINT) AS y2,
         CAST(x3 AS BIGINT) AS x3, CAST(y3 AS BIGINT) AS y3,
         CAST(x4 AS BIGINT) AS x4, CAST(y4 AS BIGINT) AS y4
  FROM b),
area AS (
  SELECT ward_code,
         CAST((x1*y2 - x2*y1) + (x2*y3 - x3*y2) + (x3*y4 - x4*y3)
              + (x4*y1 - x1*y4) AS BIGINT) AS area2_udeg2
  FROM b8)
SELECT c.ward_code, c.n_pages, a.area2_udeg2,
       CAST((c.n_pages * 2000000000) // a.area2_udeg2 AS BIGINT)
           AS density_per_gud2
FROM cnts c JOIN area a USING (ward_code)
"""


def q_ward_geometry(spark, sf_dir):
    """Exact polygon geometry (operators/geometry.ring_area2_centroid):
    shoelace 2*area and integer-DIV centroid for the 23 ward quads from
    the vertex RELATION (any ring length; wrap via (i+1) mod n equi-join
    on one polygon-key Exchange). All-integer — cross products of µdeg
    coords are exact i64. The oracle is the independent CLOSED-FORM quad
    shoelace over the same VALUES table (different formulation, same
    math)."""
    from ..operators import geometry as gm

    rows = []
    for rec in fx.tessellation_records():
        ring = rec["rings_udeg"][0]
        for i, (x, y) in enumerate(ring):
            rows.append((rec["ward_code"], i, x, y))
    verts = spark.createDataFrame(rows, "poly_id string, i int, "
                                        "x long, y long")
    return gm.ring_area2_centroid(verts).withColumnRenamed(
        "poly_id", "ward_code")


SQL_WARD_GEOMETRY = f"""
WITH b(ward_code, x1, y1, x2, y2, x3, y3, x4, y4) AS (VALUES
    {fx.boundaries_sql_values()}),
b8 AS (
  -- shift to the quad-local origin: raw-µdeg centroid numerators pass
  -- i64 (the same translation the Spark operator applies)
  SELECT ward_code,
         least(x1, x2, x3, x4)::BIGINT AS x0,
         least(y1, y2, y3, y4)::BIGINT AS y0,
         CAST(x1 AS BIGINT) - least(x1, x2, x3, x4) AS x1,
         CAST(y1 AS BIGINT) - least(y1, y2, y3, y4) AS y1,
         CAST(x2 AS BIGINT) - least(x1, x2, x3, x4) AS x2,
         CAST(y2 AS BIGINT) - least(y1, y2, y3, y4) AS y2,
         CAST(x3 AS BIGINT) - least(x1, x2, x3, x4) AS x3,
         CAST(y3 AS BIGINT) - least(y1, y2, y3, y4) AS y3,
         CAST(x4 AS BIGINT) - least(x1, x2, x3, x4) AS x4,
         CAST(y4 AS BIGINT) - least(y1, y2, y3, y4) AS y4
  FROM b),
c AS (
  SELECT ward_code, x0, y0,
         (x1*y2 - x2*y1) AS c1, (x2*y3 - x3*y2) AS c2,
         (x3*y4 - x4*y3) AS c3, (x4*y1 - x1*y4) AS c4,
         x1, y1, x2, y2, x3, y3, x4, y4
  FROM b8)
SELECT ward_code, CAST(4 AS BIGINT) AS n_vertices,
       CAST(c1 + c2 + c3 + c4 AS BIGINT) AS area2_udeg2,
       CAST(x0 + ((x1+x2)*c1 + (x2+x3)*c2 + (x3+x4)*c3 + (x4+x1)*c4)
            // (3 * (c1 + c2 + c3 + c4)) AS BIGINT) AS cx_udeg,
       CAST(y0 + ((y1+y2)*c1 + (y2+y3)*c2 + (y3+y4)*c3 + (y4+y1)*c4)
            // (3 * (c1 + c2 + c3 + c4)) AS BIGINT) AS cy_udeg
FROM c
"""


def q_stream_tile_counts(spark, sf_dir):
    """The north-star STREAMING form end-to-end (streaming/pipeline.
    streaming_geocode -> tile assign -> windowed counts): documents
    streamed as pages with geocodable text, regex-geocoded IN-STREAM,
    tiled at z12, counted per (1-minute window, tile) with a 2-minute
    watermark — COMPLETE output mode so availableNow yields every
    window deterministically (no emission-rule dependence; the
    append-rule engines are gated by stream_windowed_counts /
    stream_sessions). Fifth streaming-engine gate. Oracle recomputes
    tiles from the point derivation directly (the geocode round-trip is
    its own gate)."""
    import tempfile

    from ..streaming import pipeline as sp

    static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stream = (spark.readStream.schema(static.schema)
              .option("pathGlobFilter", "documents.parquet")
              .parquet(sf_dir))
    lng, lat = geo.point_udeg_cols(F.col("doc_id"))
    pages = stream.select(
        F.format_string("地点 lat_udeg=%d lng_udeg=%d 東京", lat, lng)
        .alias("text"),
        F.expr("timestamp'2024-01-01 00:00:00' + make_interval("
               "0, 0, 0, 0, 0, CAST(doc_id % 180 AS INT), 0)")
        .alias("warc_ts"))
    out = sp.streaming_tile_counts(pages, zoom=12, window="1 minute",
                                   watermark="2 minutes")
    _STREAM_GATE_SEQ[0] += 1
    qname = f"stream_tiles_gate_{_STREAM_GATE_SEQ[0]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_tiles_")
    q = (out.writeStream.format("memory").queryName(qname)
         .outputMode("complete").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.sql(
        f"SELECT window.start AS window_start, window.end AS window_end, "
        f"x, y, CAST(n_pages AS BIGINT) AS n_pages FROM {qname}")


_STX12, _STY12 = _tile_xy_sql("12")
SQL_STREAM_TILE_COUNTS = f"""
WITH {POINTS_CTE},
t AS (
  SELECT TIMESTAMP '2024-01-01 00:00:00'
             + to_minutes(doc_id % 180) AS w0,
         {_STX12} AS x, {_STY12} AS y
  FROM pts JOIN documents USING (doc_id))
SELECT w0 AS window_start, w0 + INTERVAL 1 MINUTE AS window_end,
       x, y, CAST(count(*) AS BIGINT) AS n_pages
FROM t GROUP BY 1, 2, 3, 4
"""


def q_bounce_rates(spark, sf_dir):
    """Session bounce rates by entry event type — the classic web-
    analytics composition over the same islands sessions the sessionize
    gate uses: per session its FIRST event type and event count, then
    per entry type the single-event-session share in integer ppm.
    Pure composition (two windows on one user-key Exchange + two tiny
    aggs); the oracle re-derives sessions independently."""
    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull()))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = t_us - F.lag(t_us).over(w)
    brk = F.when(gap.isNull() | (gap > 1800 * 1000000), 1).otherwise(0)
    sess = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.sum(brk).over(
            w.rowsBetween(Window.unboundedPreceding, 0)).alias("sess_id"))
    w2 = Window.partitionBy("user_id", "sess_id").orderBy("ts", "event_id")
    per_sess = (sess
                .withColumn("rn", F.row_number().over(w2))
                .withColumn("n_ev", F.count(F.lit(1)).over(
                    Window.partitionBy("user_id", "sess_id")))
                .where(F.col("rn") == 1)
                .select(F.col("event_type").alias("entry_type"),
                        F.col("n_ev")))
    return (per_sess.groupBy("entry_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
                 F.sum(F.when(F.col("n_ev") == 1, 1).otherwise(0))
                 .cast("bigint").alias("n_bounce"))
            .withColumn("bounce_ppm",
                        F.expr("CAST((1000000 * n_bounce) DIV n_sessions"
                               " AS BIGINT)")))


SQL_BOUNCE_RATES = """
WITH f AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM events WHERE user_id IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM f),
r AS (
  SELECT user_id, sess_id, event_type,
         row_number() OVER (PARTITION BY user_id, sess_id
                            ORDER BY ts, event_id) AS rn,
         CAST(count(*) OVER (PARTITION BY user_id, sess_id) AS BIGINT)
             AS n_ev
  FROM s),
per_sess AS (
  SELECT event_type AS entry_type, n_ev FROM r WHERE rn = 1),
agg AS (
  SELECT entry_type, CAST(count(*) AS BIGINT) AS n_sessions,
         CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounce
  FROM per_sess GROUP BY 1)
SELECT entry_type, n_sessions, n_bounce,
       CAST((1000000 * n_bounce) // n_sessions AS BIGINT) AS bounce_ppm
FROM agg
"""


def q_k_core(spark, sf_dir):
    """k-core decomposition (graph.k_core, k=3): iterative peel of
    nodes with degree < 3 over the deterministic link graph to the
    unique fixpoint (5 rounds on this fixture; Spark runs to
    convergence and raises on exhaustion). Oracle unrolls 12 peel
    rounds — past the fixpoint every extra round is the identity, so
    over-unrolling is safe."""
    from ..operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    edges = gr.synthetic_link_edges(docs, n)
    return gr.k_core(edges, k=3)


# MATERIALIZED: each round references the previous one three times —
# DuckDB inlines plain CTEs, which would expand the 12-round chain 3^12x
# (observed as a too-many-open-files explosion on the base scan)
_KCORE_ROUND = """
a{i} AS MATERIALIZED (SELECT u FROM e{p} GROUP BY u HAVING count(*) >= 3),
e{i} AS MATERIALIZED (SELECT e.u, e.v FROM e{p} e
         JOIN a{i} x ON e.u = x.u JOIN a{i} y ON e.v = y.u)"""

SQL_K_CORE = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0d AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
u0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       FROM e0d WHERE src <> dst),
e0 AS (SELECT a AS u, b AS v FROM u0 UNION ALL SELECT b, a FROM u0),
""" + ",".join(_KCORE_ROUND.format(i=i, p=i - 1)
               for i in range(1, 13)) + """
SELECT CAST(u AS BIGINT) AS id, CAST(count(*) AS BIGINT) AS deg
FROM e12 GROUP BY u
"""


def q_idw_surface(spark, sf_dir):
    """Inverse-distance-weighted surface (raster.idw_surface): n_chars
    interpolated onto a 40k-µdeg grid with the integer 1/(1+d^2) kernel
    over a 3x3-cell support — two map-side explodes + ONE partial-agg
    groupBy, every weight and quotient exact integer DIVs. Oracle
    re-derives the scatter with UNNEST offsets."""
    from ..operators import raster as ra

    docs = _t(spark, sf_dir, "documents")
    lng, lat = geo.point_udeg_cols(F.col("doc_id"))
    samples = docs.select("n_chars", lng, lat)
    return ra.idw_surface(samples, cell_udeg=40000, value_col="n_chars")


SQL_IDW_SURFACE = f"""
WITH {POINTS_CTE},
s AS (
  SELECT d.n_chars AS v, p.lng_udeg AS lng, p.lat_udeg AS lat,
         CAST(floor(p.lng_udeg / 40000.0) AS BIGINT) AS cx0,
         CAST(floor(p.lat_udeg / 40000.0) AS BIGINT) AS cy0
  FROM documents d JOIN pts p ON d.doc_id = p.doc_id),
sc AS (
  SELECT v, lng, lat, cx0 + dx.i AS cx, cy0 + dy.i AS cy
  FROM s, UNNEST(range(-1, 2)) AS dx(i), UNNEST(range(-1, 2)) AS dy(i)),
wtd AS (
  SELECT cx, cy, v,
         1000000000 // (1 + ((lng - (cx * 40000 + 20000))
                             * (lng - (cx * 40000 + 20000))
                           + (lat - (cy * 40000 + 20000))
                             * (lat - (cy * 40000 + 20000))) // 1000000)
             AS w
  FROM sc)
SELECT cx, cy, CAST(count(*) AS BIGINT) AS n_samples,
       CAST(CAST(sum(v * w) AS BIGINT) // CAST(sum(w) AS BIGINT) AS BIGINT)
           AS idw_value
FROM wtd GROUP BY 1, 2
"""


def q_tile_top_sources(spark, sf_dir):
    """Per-tile top sources — the geo x web composition gate: documents
    tiled at z10, counted per (tile, source), then the deterministic
    per-tile top-3 via the SALTED two-phase cap (sampling.cap_per_group
    with skew_salts=4 — the union of per-cell top-N contains the global
    top-N, so the salted plan is result-invariant; the oracle is the
    plain window). Order: (n desc, source asc)."""
    from ..operators import sampling as sm

    docs = _t(spark, sf_dir, "documents")
    lng, lat = geo.point_udeg_cols(F.col("doc_id"))
    pts = docs.select("source", lng, lat)
    z = F.lit(10)
    mx = geo.mercator_mx(geo.udeg_to_deg(F.col("lng_udeg")))
    my = geo.mercator_my(geo.udeg_to_deg(F.col("lat_udeg")))
    tiled = (pts.withColumn("x", geo.tile_x(z, mx))
             .withColumn("y", geo.tile_y(z, my)))
    counts = (tiled.groupBy("x", "y", "source")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
              .withColumn("tile_key", F.col("x") * F.lit(1 << 32)
                          + F.col("y")))
    capped = sm.cap_per_group(counts, "tile_key", 3,
                              order_by=[F.col("n").desc()],
                              key_col="source", skew_salts=4)
    return capped.select("x", "y", "source", "n")


_TTX10, _TTY10 = _tile_xy_sql("10")
SQL_TILE_TOP_SOURCES = f"""
WITH {POINTS_CTE},
t AS (
  SELECT d.source AS source, {_TTX10} AS x, {_TTY10} AS y
  FROM documents d JOIN pts p ON d.doc_id = p.doc_id),
c AS (
  SELECT x, y, source, CAST(count(*) AS BIGINT) AS n
  FROM t GROUP BY 1, 2, 3),
r AS (
  SELECT x, y, source, n,
         row_number() OVER (PARTITION BY x, y
                            ORDER BY n DESC, source) AS rk
  FROM c)
SELECT x, y, source, n FROM r WHERE rk <= 3
"""


def q_interarrival_quantiles(spark, sf_dir):
    """Per-event-type exact inter-arrival quantiles (stats.
    group_value_quantiles): lag gaps in µs over (ts, event_id) order,
    then the grouped no-global-sort exact type-1 quantile (p50/p90) —
    fully distributed (group totals via a window, not a driver
    collect). Oracle re-derives gaps and the ceil-rank rule."""
    from ..operators import stats as st

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = (ev.select("event_type", "ts", "event_id")
            .withColumn("gap_us", t_us - F.lag(t_us).over(w))
            .where(F.col("gap_us").isNotNull()))
    return st.group_value_quantiles(gaps, "event_type", "gap_us",
                                    [500_000, 900_000])


SQL_INTERARRIVAL_QUANTILES = """
WITH g AS (
  SELECT event_type,
         epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
c AS (
  SELECT event_type, gap_us AS v, CAST(count(*) AS BIGINT) AS c
  FROM g WHERE gap_us IS NOT NULL GROUP BY 1, 2),
cum AS (
  SELECT event_type, v, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM c),
q AS (SELECT CAST(u.q AS BIGINT) AS q_ppm
      FROM UNNEST([500000, 900000]) AS u(q))
SELECT event_type, q_ppm, CAST(min(v) AS BIGINT) AS value
FROM cum, q
WHERE cum >= (q_ppm * n + 999999) // 1000000
GROUP BY 1, 2
"""


def q_stay_points(spark, sf_dir):
    """Stay-point detection (temporal.stay_points): each event gets the
    deterministic point derived from event_id, bucketed on a coarse
    120k-µdeg grid; maximal same-cell consecutive runs per user with
    >= 2 events and >= 10 min dwell survive. Null user_ids filtered both
    sides (null-key canonicalization differs cross-engine). Oracle
    re-derives the runs with the same lag/cumsum windows."""
    from ..operators import temporal as tp

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull()))
    lng, lat = geo.point_udeg_cols(F.col("event_id"))
    track = (ev.select("user_id", "ts", "event_id", lng, lat)
             .withColumn("cx", F.floor(F.col("lng_udeg") / 120000)
                         .cast("bigint"))
             .withColumn("cy", F.floor(F.col("lat_udeg") / 120000)
                         .cast("bigint")))
    return tp.stay_points(track, min_events=2,
                          min_duration_us=600_000_000)


_EV_LNG_SQL, _EV_LAT_SQL = fx.point_udeg_sql("event_id")
SQL_STAY_POINTS = f"""
WITH trk AS (
  SELECT user_id, ts, event_id,
         CAST(floor({_EV_LNG_SQL} / 120000.0) AS BIGINT) AS cx,
         CAST(floor({_EV_LAT_SQL} / 120000.0) AS BIGINT) AS cy
  FROM events WHERE user_id IS NOT NULL),
flg AS (
  SELECT user_id, ts, event_id, cx, cy,
         CASE WHEN lag(cx) OVER w IS NULL
                OR lag(cx) OVER w <> cx OR lag(cy) OVER w <> cy
              THEN 1 ELSE 0 END AS moved
  FROM trk
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
runs AS (
  SELECT user_id, ts, cx, cy,
         SUM(moved) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS run_id
  FROM flg),
agg AS (
  SELECT user_id, run_id, cx, cy,
         min(ts) AS t_start, max(ts) AS t_end,
         CAST(count(*) AS BIGINT) AS n_events,
         epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
  FROM runs GROUP BY 1, 2, 3, 4)
SELECT user_id, cx, cy, t_start, t_end, n_events,
       CAST(duration_us AS BIGINT) AS duration_us
FROM agg WHERE n_events >= 2 AND duration_us >= 600000000
"""


def q_distance_band(spark, sf_dir):
    """Geodesic distance-band self-join (operators/geodesy.py): all
    document-point pairs within 250 m by haversine. Spark buckets on a
    radius-covering µdeg grid and equi-joins 3x3 neighbor cells (never
    all pairs); the oracle is the BRUTE-FORCE all-pairs join — passing
    proves the cell candidate set is lossless. Distances quantized to
    integer mm with one shared op order."""
    from ..operators import geodesy as gd

    pts = _points_df(spark, sf_dir)
    return gd.distance_band_pairs(pts, radius_m=250.0)


def _sql_distance_band() -> str:
    from ..operators import geodesy as gd

    hav = gd.haversine_mm_sql("a.lng_udeg", "a.lat_udeg",
                              "b.lng_udeg", "b.lat_udeg")
    return f"""
WITH {POINTS_CTE}
SELECT a.doc_id AS id_a, b.doc_id AS id_b, {hav} AS dist_mm
FROM pts a JOIN pts b ON a.doc_id < b.doc_id
WHERE {hav} <= 250000
"""


def q_anomalous_days(spark, sf_dir):
    """Per-event-type anomalous days (stats.anomalous_bins): daily counts
    flagged when (x - mu)^2 > 4 sigma^2, decided in exact integer
    arithmetic ((D*x - S)^2 > 4*(D*Q - S^2)) so no float variance enters
    the compare. z^2 = 4 here because population stats bound a single
    spike's z^2 by D-1 (masking) and the fixture spans 30 days — both
    branches of the flag are exercised (4/150 rows flag at sf0.01).
    Oracle re-derives counts and moments independently."""
    from ..operators import stats as st

    ev = _t(spark, sf_dir, "events")
    return st.anomalous_bins(ev, z_sq_threshold=4)


SQL_ANOMALOUS_DAYS = """
WITH b AS (
  SELECT event_type AS key, date_trunc('day', ts) AS bin_ts,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
m AS (
  SELECT key, CAST(count(*) AS BIGINT) AS d, CAST(sum(n) AS BIGINT) AS s,
         CAST(sum(n * n) AS BIGINT) AS q
  FROM b GROUP BY 1)
SELECT b.key AS event_type, b.bin_ts, b.n,
       (m.d * b.n - m.s) * (m.d * b.n - m.s) > 4 * (m.d * m.q - m.s * m.s)
           AS is_anomaly
FROM b JOIN m USING (key)
"""


def q_stream_sessions(spark, sf_dir):
    """Streaming SESSION windows (streaming/pipeline.streaming_sessionize)
    driven as a gate: file stream over the events parquet, per-user
    session_window(30 min) with a 1-hour watermark, append mode,
    availableNow, memory sink — the built-in MERGING-window state path
    (fourth streaming-engine gate; tumbling/first-seen/dirty-tiles cover
    the others). Emitted set = sessions whose end (last event + gap) is
    <= ms_floor(max ts) - 1h (inclusive — probed); the oracle re-derives
    sessions with the batch islands rule (break iff gap > 30 min, the
    probed merge semantics) and applies the same emission cut. Null
    user_ids are filtered on both sides (cross-engine null-key
    canonicalization differs)."""
    import tempfile

    from ..streaming import pipeline as sp

    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = (spark.readStream.schema(static.schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir)
              .where(F.col("user_id").isNotNull()))
    out = sp.streaming_sessionize(stream, gap="30 minutes",
                                  watermark="1 hour")
    _STREAM_GATE_SEQ[0] += 1
    qname = f"stream_sessions_gate_{_STREAM_GATE_SEQ[0]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_sessions_")
    q = (out.writeStream.format("memory").queryName(qname)
         .outputMode("append").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.sql(
        f"SELECT session_start, session_end, user_id, n_events, "
        f"sum_value_cents FROM {qname}")


SQL_STREAM_SESSIONS = """
WITH m AS (SELECT epoch_ms(max(ts)) AS mxms FROM events),
s AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM events WHERE user_id IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s2 AS (
  SELECT user_id, ts, value,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM s),
g AS (
  SELECT user_id, min(ts) AS session_start,
         max(ts) + INTERVAL 30 MINUTE AS session_end,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_value_cents
  FROM s2 GROUP BY user_id, sess_id)
SELECT session_start, session_end, user_id, n_events, sum_value_cents
FROM g, m
WHERE epoch_ms(session_end) <= m.mxms - 3600000
"""


def q_pii_redact(spark, sf_dir):
    """PII redaction (operators/pii.py): emails, IPv4s and hyphenated
    phone numbers replaced with typed tokens, counts per kind, redacted
    text md5'd for byte-identity. PII is injected deterministically from
    doc_id (identical concat in both engines — the fixture corpus itself
    is PII-free). The oracle mirrors the staged email->ipv4->phone
    pipeline with RE2 regexes semantically identical to the Java ones
    (no lookaround/backrefs; see the module header)."""
    from ..operators import pii

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    s = [F.col("text"), F.lit(" contact user"), d.cast("string"),
         F.lit("@ex"), (d % 7).cast("string"), F.lit(".org or 10."),
         (d % 256).cast("string"), F.lit("."),
         ((d * 3) % 256).cast("string"), F.lit("."),
         ((d * 7) % 256).cast("string"), F.lit(" tel 03-"),
         (F.lit(1000) + d % 9000).cast("string"), F.lit("-"),
         (F.lit(1000) + (d * 13) % 9000).cast("string")]
    aug = docs.select("doc_id", F.concat(*s).alias("text"))
    return pii.pii_document_summary(aug)


_PII_EMAIL = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\b\d{2,4}-\d{3,4}-\d{4}\b"

SQL_PII_REDACT = f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@ex' || CAST(doc_id % 7 AS VARCHAR)
              || '.org or 10.' || CAST(doc_id % 256 AS VARCHAR)
              || '.' || CAST((doc_id * 3) % 256 AS VARCHAR)
              || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
              || ' tel 03-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
              || '-' || CAST(1000 + (doc_id * 13) % 9000 AS VARCHAR) AS t0
  FROM documents),
s1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(t0, '{_PII_EMAIL}')) AS BIGINT)
             AS n_email,
         regexp_replace(t0, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t1
  FROM aug),
s2 AS (
  SELECT doc_id, n_email,
         CAST(len(regexp_extract_all(t1, '{_PII_IPV4}')) AS BIGINT)
             AS n_ipv4,
         regexp_replace(t1, '{_PII_IPV4}', '<IP>', 'g') AS t2
  FROM s1),
s3 AS (
  SELECT doc_id, n_email, n_ipv4,
         CAST(len(regexp_extract_all(t2, '{_PII_PHONE}')) AS BIGINT)
             AS n_phone,
         regexp_replace(t2, '{_PII_PHONE}', '<PHONE>', 'g') AS t3
  FROM s2)
SELECT doc_id, n_email, n_ipv4, n_phone, md5(t3) AS redacted_md5,
       CAST(length(t3) AS BIGINT) AS n_chars_red
FROM s3
"""


def q_focal_stats(spark, sf_dir):
    """Focal box-filter sum (raster.focal_stats): rasterize the synthetic
    points at z=8 (16 px/tile, 4096-pixel world — coarse enough that
    neighborhoods genuinely overlap at sf0.01), then the 3x3 moving-
    window sum in sparse scatter form: two map-side explodes + ONE
    partial-agg groupBy. x wraps, y clamps (drop past the poles) —
    exactly rasterize's edge rule. Oracle = neighbor-offset cross join
    over the same raster CTE."""
    from ..operators import raster as ra

    pts = _points_df(spark, sf_dir)
    r = ra.rasterize_points(pts, zoom=8, tile_px=16)
    return ra.focal_stats(r, zoom=8, tile_px=16, radius=1)


SQL_FOCAL_STATS = f"""
WITH {POINTS_CTE},
g AS (
  SELECT
    ((CAST(floor({MX_SQL} * 4096.0) AS BIGINT) % 4096 + 4096) % 4096)
        AS gx,
    GREATEST(CAST(0 AS BIGINT),
             LEAST(CAST(floor({MY_SQL} * 4096.0) AS BIGINT), 4095)) AS gy
  FROM pts),
r AS (SELECT gx, gy, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1, 2),
c AS (
  SELECT ((gx + dx.i) % 4096 + 4096) % 4096 AS tx, gy + dy.i AS ty, n
  FROM r, UNNEST(range(-1, 2)) AS dx(i), UNNEST(range(-1, 2)) AS dy(i)
  WHERE gy + dy.i >= 0 AND gy + dy.i < 4096)
SELECT CAST(8 AS INT) AS z, tx // 16 AS x, ty // 16 AS y,
       tx % 16 AS px, ty % 16 AS py, CAST(sum(n) AS BIGINT) AS focal_sum
FROM c GROUP BY 2, 3, 4, 5
"""


def q_triangle_listing(spark, sf_dir):
    """Triangle listing (graph.triangle_listing): degree-ordered
    orientation (Suri & Vassilvitskii WWW'11) over the deterministic
    link graph plus a guaranteed triangle family (i, i+1, i+2 for
    17 | i) so the gate always has rows. Spark builds wedges only at the
    lowest-degree apex (hub-safe, O(sqrt(m)) fan-out); the oracle is the
    independent id-ordered 3-way self-join over the canonical
    undirected edge list."""
    from ..operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    i = F.col("doc_id")
    tri_extra = None
    for a_off, b_off in ((0, 1), (0, 2), (1, 2)):
        part = (docs.where(i % 17 == 0)
                .select(((i + a_off) % n).alias("src"),
                        ((i + b_off) % n).alias("dst")))
        tri_extra = part if tri_extra is None else tri_extra.unionAll(part)
    edges = gr.synthetic_link_edges(docs, n).unionAll(tri_extra)
    return gr.triangle_listing(edges)


SQL_TRIANGLES = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
  UNION
  SELECT doc_id % nn.n, (doc_id + 1) % nn.n FROM documents, nn
  WHERE doc_id % 17 = 0
  UNION
  SELECT doc_id % nn.n, (doc_id + 2) % nn.n FROM documents, nn
  WHERE doc_id % 17 = 0
  UNION
  SELECT (doc_id + 1) % nn.n, (doc_id + 2) % nn.n FROM documents, nn
  WHERE doc_id % 17 = 0
),
u AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM e0 WHERE src <> dst)
SELECT CAST(e1.a AS BIGINT) AS ta, CAST(e1.b AS BIGINT) AS tb,
       CAST(e2.b AS BIGINT) AS tc
FROM u e1
JOIN u e2 ON e2.a = e1.a AND e2.b > e1.b
JOIN u e3 ON e3.a = e1.b AND e3.b = e2.b
"""


def q_session_transitions(spark, sf_dir):
    """Markov transition counts between consecutive in-session events
    (temporal.session_transitions): gap-based sessions (30 min), ordered
    (ts, event_id), one (prev, next) groupBy + per-source ppm share via
    integer DIV. Oracle re-derives the session ids and lags with the
    same windows."""
    from ..operators import temporal as tp

    ev = _t(spark, sf_dir, "events")
    return tp.session_transitions(ev)


SQL_SESSION_TRANSITIONS = """
WITH f AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM f),
t AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id, sess_id
                               ORDER BY ts, event_id) AS prev_state,
         event_type AS next_state
  FROM s),
c AS (
  SELECT prev_state, next_state, CAST(count(*) AS BIGINT) AS n
  FROM t WHERE prev_state IS NOT NULL GROUP BY 1, 2)
SELECT prev_state, next_state, n,
       CAST((1000000 * n) // SUM(n) OVER (PARTITION BY prev_state)
            AS BIGINT) AS prob_ppm
FROM c
"""


def q_tfidf_terms(spark, sf_dir):
    """Per-document top-3 TF-IDF terms (retrieval.tfidf_topk_terms):
    keyword extraction over the bigram postings; idf quantized per term
    (floor(1e6*ln((N+1)/(df+1)) + 0.5)) so scores and ranking are
    integer-exact; deterministic (score desc, term) tie-break. Oracle
    re-derives postings/df/idf/window independently."""
    from ..operators import retrieval as rt

    docs = _t(spark, sf_dir, "documents")
    return rt.tfidf_topk_terms(docs, k=3)


SQL_TFIDF_TERMS = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)),
                                        '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents),
occ AS (
  SELECT doc_id, t[i+1] || ' ' || t[i+2] AS term
  FROM toks, UNNEST(range(greatest(len(t) - 1, 0))) AS u(i)),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM occ GROUP BY 1, 2),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
         tf.tf * CAST(floor(ln((nn.n + 1.0) / (dfq.df + 1.0)) * 1000000.0
                            + 0.5) AS BIGINT) AS score_e6
  FROM tf JOIN dfq USING (term) CROSS JOIN nn)
SELECT doc_id, term, tf, df, score_e6, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY score_e6 DESC, term) AS rank
  FROM scored)
WHERE rank <= 3
"""


def q_wand_topk(spark, sf_dir):
    """MaxScore-pruned BM25 top-k (retrieval.maxscore_topk): θ seeded
    from the conjunctive-match subset, non-essential terms cut by the
    ascending-ub inclusive-prefix rule, candidates exact-scored. The
    oracle is the FULL exact BM25 ranking over every matching doc, so
    the gate is a pruning-LOSSLESSNESS proof (the heavy_hitters /
    decontaminate_bloom pattern). 6 corpus-derived two-term queries at
    skip=11 — a disjoint fixture from the bm25_topk gate."""
    from ..operators import retrieval as rt

    docs = _t(spark, sf_dir, "documents")
    post = rt.postings(docs).localCheckpoint(eager=True)
    qs = rt.corpus_queries(docs, n_queries=6, skip=11, post=post)
    return rt.maxscore_topk(docs, qs, k=10, post=post)


SQL_WAND_TOPK = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)),
                                        '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents),
occ AS (
  SELECT doc_id, t[i+1] || ' ' || t[i+2] AS term
  FROM toks, UNNEST(range(greatest(len(t) - 1, 0))) AS u(i)),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM occ GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
       FROM occ GROUP BY 1),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(dl) AS BIGINT) AS t FROM dl),
dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        FROM tf GROUP BY 1),
ranked AS (
  SELECT term, row_number() OVER (ORDER BY df DESC, term) AS r
  FROM dfq),
queries AS (
  SELECT CAST((r - 12) // 2 AS BIGINT) AS query_id, term
  FROM ranked WHERE r > 11 AND r <= 23),
score AS (
  SELECT q.query_id, tf.doc_id,
    CAST(sum(
      ((((s.n - dfq.df) * 1000000) // dfq.df + 1000000)
       * ((22 * tf.tf * s.t * 1000000)
          // (10 * tf.tf * s.t + 3 * s.t + 9 * dl.dl * s.n)))
      // 1000000) AS BIGINT) AS score_micro
  FROM tf
  JOIN queries q USING (term)
  JOIN dfq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY 1, 2)
SELECT query_id, rank, doc_id, score_micro FROM (
  SELECT query_id, doc_id, score_micro,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
  FROM score)
WHERE rank <= 10
"""


def q_morans_i(spark, sf_dir):
    """Global Moran's I spatial autocorrelation (raster.morans_i) of the
    z=8 point-density raster: rook adjacency between non-empty pixels,
    integer-exact moments (d_i = n·x_i − S), the ratio via one
    fixed-order scalar double chain. Oracle re-derives the raster, the
    adjacency via per-axis equi-joins with an abs()=1 filter (an
    independent formulation of rook neighbours vs Spark's 4-offset
    explode), and the same exact integer moments."""
    from ..operators import raster as ra

    pts = _points_df(spark, sf_dir)
    r = ra.rasterize_points(pts, zoom=8, tile_px=16)
    return ra.morans_i(r, tile_px=16)


SQL_MORANS_I = f"""
WITH {POINTS_CTE},
g AS (
  SELECT
    ((CAST(floor({MX_SQL} * 4096.0) AS BIGINT) % 4096 + 4096) % 4096)
        AS gx,
    GREATEST(CAST(0 AS BIGINT),
             LEAST(CAST(floor({MY_SQL} * 4096.0) AS BIGINT), 4095)) AS gy
  FROM pts),
c AS (SELECT gx, gy, CAST(count(*) AS BIGINT) AS v FROM g GROUP BY 1, 2),
st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS s
       FROM c),
d AS (SELECT gx, gy, st.n * c.v - st.s AS d FROM c, st),
pr AS (
  SELECT a.d AS da, b.d AS db
  FROM d a JOIN d b ON a.gx = b.gx AND abs(a.gy - b.gy) = 1
  UNION ALL
  SELECT a.d, b.d
  FROM d a JOIN d b ON a.gy = b.gy AND abs(a.gx - b.gx) = 1),
nm AS (SELECT CAST(count(*) AS BIGINT) AS w_sum,
              CAST(coalesce(sum(da * db), 0) AS BIGINT) AS num FROM pr),
dn AS (SELECT CAST(sum(d * d) AS BIGINT) AS den FROM d)
SELECT st.n, nm.w_sum, nm.num, dn.den,
  CASE WHEN dn.den > 0 AND nm.w_sum > 0 THEN
    CAST(floor(CAST(nm.num AS DOUBLE) / CAST(dn.den AS DOUBLE)
               * CAST(st.n AS DOUBLE) / CAST(nm.w_sum AS DOUBLE)
               * 1000.0 + 0.5) AS BIGINT)
  ELSE NULL END AS i_milli
FROM st, nm, dn
"""


def q_rolling_activity(spark, sf_dir):
    """Trailing 7-day rolling daily activity per event type
    (temporal.rolling_daily_stats) — the one RANGE-frame window gate
    (rangeBetween over the integer day index; calendar gaps contribute
    nothing, which a rows frame would get wrong). value quantized to
    milli-units per row before any sum. Oracle is the independent
    self-join formulation (b.day BETWEEN a.day-6 AND a.day)."""
    from ..operators import temporal as tp

    ev = _t(spark, sf_dir, "events")
    return tp.rolling_daily_stats(ev, days=7)


SQL_ROLLING_ACTIVITY = """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day_num,
         CAST(count(*) AS BIGINT) AS n_day,
         CAST(sum(CAST(floor(value * 1000.0) AS BIGINT)) AS BIGINT)
             AS v_milli_day
  FROM events GROUP BY 1, 2)
SELECT a.event_type, a.day_num, a.n_day, a.v_milli_day,
       CAST(sum(b.n_day) AS BIGINT) AS n_win,
       CAST(sum(b.v_milli_day) AS BIGINT) AS v_milli_win,
       CAST(sum(b.v_milli_day) // sum(b.n_day) AS BIGINT) AS mean_milli_win
FROM daily a JOIN daily b
  ON a.event_type = b.event_type
 AND b.day_num BETWEEN a.day_num - 6 AND a.day_num
GROUP BY 1, 2, 3, 4
"""


def q_html_depth(spark, sf_dir):
    """Max DOM nesting depth per page (html.html_tag_depth): the depth
    prefix-scan runs INSIDE the tag array via one higher-order aggregate
    fold — a sequential per-doc scan as a map-side Catalyst projection,
    zero shuffle. Fixture wraps each doc in doc_id%5 nested divs so
    depths vary 2..6. Oracle unnests the same tag stream and replays the
    scan as a window cumulative sum + max (independent formulation)."""
    from ..operators import html as ht

    docs = _t(spark, sf_dir, "documents")
    page = F.concat(
        F.lit("<html><body>"),
        F.expr("repeat('<div>', CAST(doc_id % 5 AS INT))"),
        F.col("text"),
        F.expr("repeat('</div>', CAST(doc_id % 5 AS INT))"),
        F.lit("</body></html>"))
    pages = docs.select("doc_id", page.alias("html"))
    return (ht.html_tag_depth(pages)
            .select("doc_id", "n_tags", "max_depth"))


SQL_HTML_DEPTH = """
WITH pages AS (
  SELECT doc_id,
         '<html><body>' || repeat('<div>', CAST(doc_id % 5 AS INT))
         || text || repeat('</div>', CAST(doc_id % 5 AS INT))
         || '</body></html>' AS page
  FROM documents),
tg AS (SELECT doc_id,
              regexp_extract_all(page, '</?[a-z][a-z0-9]*[^>]*>', 0) AS tags
       FROM pages),
ex AS (SELECT doc_id, CAST(i AS BIGINT) AS i,
              CASE WHEN tags[i+1] LIKE '</%' THEN -1 ELSE 1 END AS delta
       FROM tg, UNNEST(range(len(tags))) AS u(i)),
cum AS (SELECT doc_id,
               sum(delta) OVER (PARTITION BY doc_id ORDER BY i) AS depth
        FROM ex),
mx AS (SELECT doc_id, max(depth) AS md FROM cum GROUP BY 1)
SELECT t.doc_id, CAST(len(t.tags) AS BIGINT) AS n_tags,
       CAST(GREATEST(coalesce(m.md, 0), 0) AS BIGINT) AS max_depth
FROM tg t LEFT JOIN mx m USING (doc_id)
"""


def q_segment_intersections(spark, sf_dir):
    """Exact integer line-line intersection join
    (geometry.segment_intersections): deterministic µdeg segments grown
    from each synthetic point (even doc_ids = set A, odd = set B), paired
    through the covering-grid cell index, refined by the CLRS four-
    orientation integer predicate. The oracle brute-forces ALL A×B pairs
    with the identical predicate restated independently — the gate proves
    the cell index LOSSLESS (bbox overlap ⇒ shared cell) and the
    predicate exact, the spatial_join_holes pattern for lines."""
    from ..operators import geometry as gm

    pts = _points_df(spark, sf_dir)
    seg = pts.select(
        F.col("doc_id").alias("seg_id"),
        F.col("lng_udeg").cast("bigint").alias("x1"),
        F.col("lat_udeg").cast("bigint").alias("y1"),
        (F.col("lng_udeg") + (F.col("doc_id") * 48611) % 24001
         - 12000).cast("bigint").alias("x2"),
        (F.col("lat_udeg") + (F.col("doc_id") * 51347) % 24001
         - 12000).cast("bigint").alias("y2"))
    a = seg.where(F.col("seg_id") % 2 == 0)
    b = seg.where(F.col("seg_id") % 2 == 1)
    return gm.segment_intersections(a, b, cell_udeg=32768)


SQL_SEGMENT_INTERSECTIONS = f"""
WITH {POINTS_CTE},
seg AS (
  SELECT doc_id AS seg_id, lng_udeg AS x1, lat_udeg AS y1,
         lng_udeg + (doc_id * 48611) % 24001 - 12000 AS x2,
         lat_udeg + (doc_id * 51347) % 24001 - 12000 AS y2
  FROM pts),
dd AS (
  SELECT a.seg_id AS a_id, b.seg_id AS b_id,
         a.x1 AS ax1, a.y1 AS ay1, a.x2 AS ax2, a.y2 AS ay2,
         b.x1 AS bx1, b.y1 AS by1, b.x2 AS bx2, b.y2 AS by2,
         (b.x2 - b.x1) * (a.y1 - b.y1)
           - (b.y2 - b.y1) * (a.x1 - b.x1) AS d1,
         (b.x2 - b.x1) * (a.y2 - b.y1)
           - (b.y2 - b.y1) * (a.x2 - b.x1) AS d2,
         (a.x2 - a.x1) * (b.y1 - a.y1)
           - (a.y2 - a.y1) * (b.x1 - a.x1) AS d3,
         (a.x2 - a.x1) * (b.y2 - a.y1)
           - (a.y2 - a.y1) * (b.x2 - a.x1) AS d4
  FROM seg a, seg b
  WHERE a.seg_id % 2 = 0 AND b.seg_id % 2 = 1),
cls AS (
  SELECT a_id, b_id,
         (((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0))
          AND ((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0))) AS proper_b,
         ((d1 = 0 AND ax1 BETWEEN least(bx1, bx2) AND greatest(bx1, bx2)
                  AND ay1 BETWEEN least(by1, by2) AND greatest(by1, by2))
          OR (d2 = 0 AND ax2 BETWEEN least(bx1, bx2) AND greatest(bx1, bx2)
                     AND ay2 BETWEEN least(by1, by2) AND greatest(by1, by2))
          OR (d3 = 0 AND bx1 BETWEEN least(ax1, ax2) AND greatest(ax1, ax2)
                     AND by1 BETWEEN least(ay1, ay2) AND greatest(ay1, ay2))
          OR (d4 = 0 AND bx2 BETWEEN least(ax1, ax2) AND greatest(ax1, ax2)
                     AND by2 BETWEEN least(ay1, ay2) AND greatest(ay1, ay2))
         ) AS touch_b
  FROM dd)
SELECT a_id, b_id,
       CAST(CASE WHEN proper_b THEN 1 ELSE 0 END AS BIGINT) AS proper
FROM cls WHERE proper_b OR touch_b
"""


def q_dag_layers(spark, sf_dir):
    """DAG topological layers (graph.dag_layers): longest-path depth per
    node over a deterministic 6-level dependency graph derived from
    doc_ids (edges only go level l -> l+1, so acyclicity is by
    construction and the true depth is <= 5 — but a node's LAYER is its
    longest incoming chain, 0 for the many mid-level nodes nothing
    points at, which the fixture exercises). Oracle = the max-plus
    Bellman iteration unrolled as 6 chained CTEs (the kmeans_geo
    pattern)."""
    from ..operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    m = max(n // 6, 1)
    base = docs.select("doc_id").where(F.col("doc_id") < 6 * m)
    nodes = base.select(F.col("doc_id").alias("id"))
    lvl = F.col("doc_id") % 6
    grp = F.expr("doc_id div 6")
    e1 = (base.where(lvl < 5)
          .select(F.col("doc_id").alias("src"),
                  (6 * ((grp * 31 + 7) % m) + lvl + 1).alias("dst")))
    e2 = (base.where((lvl < 5) & (F.col("doc_id") % 2 == 0))
          .select(F.col("doc_id").alias("src"),
                  (6 * ((grp * 17 + 3) % m) + lvl + 1).alias("dst")))
    return gr.dag_layers(nodes, e1.unionByName(e2), max_rounds=8)


def _dag_layers_sql() -> str:
    rounds = []
    for k in range(1, 6):
        rounds.append(f"""
l{k} AS (
  SELECT nd.id, coalesce(max(q.layer + 1), 0) AS layer
  FROM nd LEFT JOIN (
    SELECT e.dst, p.layer FROM edg e JOIN l{k - 1} p ON p.id = e.src) q
    ON q.dst = nd.id
  GROUP BY nd.id)""")
    return f"""
WITH cnt AS (SELECT count(*) // 6 AS m FROM documents),
nd AS (SELECT doc_id AS id FROM documents, cnt WHERE doc_id < 6 * m),
edg AS (
  SELECT doc_id AS src,
         6 * (((doc_id // 6) * 31 + 7) % m) + doc_id % 6 + 1 AS dst
  FROM documents, cnt WHERE doc_id < 6 * m AND doc_id % 6 < 5
  UNION ALL
  SELECT doc_id,
         6 * (((doc_id // 6) * 17 + 3) % m) + doc_id % 6 + 1
  FROM documents, cnt
  WHERE doc_id < 6 * m AND doc_id % 6 < 5 AND doc_id % 2 = 0),
l0 AS (SELECT id, CAST(0 AS BIGINT) AS layer FROM nd),
{",".join(rounds)}
SELECT id, CAST(layer AS BIGINT) AS layer FROM l5
"""


SQL_DAG_LAYERS = _dag_layers_sql()


def q_contour_cases(spark, sf_dir):
    """Marching-squares contour classification (raster.contour_cases) of
    the z=11 occupancy raster at iso-level 1: per 2x2 block the 4-bit
    case id and segment count, computed by a map-side bit-weight scatter
    + one sum agg over ONLY the set pixels. Oracle recomputes set pixels
    and classifies blocks via four LEFT JOIN corner probes — an
    independent join-based formulation of the same case table."""
    from ..operators import raster as ra

    pts = _points_df(spark, sf_dir)
    r = ra.rasterize_points(pts, zoom=11, tile_px=16)
    out = ra.contour_cases(r, thr=1, tile_px=16)
    return out.select(F.col("bx").alias("cell_x"),
                      F.col("by").alias("cell_y"),
                      "case_id", "n_segments")


SQL_CONTOUR_CASES = f"""
WITH {POINTS_CTE},
g AS (
  SELECT
    ((CAST(floor({MX_SQL} * 32768.0) AS BIGINT) % 32768 + 32768) % 32768)
        AS gx,
    GREATEST(CAST(0 AS BIGINT),
             LEAST(CAST(floor({MY_SQL} * 32768.0) AS BIGINT), 32767)) AS gy
  FROM pts),
c AS (SELECT gx, gy FROM g GROUP BY gx, gy HAVING count(*) >= 1),
blocks AS (
  SELECT DISTINCT c.gx - o.dx AS cell_x, c.gy - o.dy AS cell_y
  FROM c, (VALUES (0, 0), (1, 0), (0, 1), (1, 1)) o(dx, dy)),
cl AS (
  SELECT b.cell_x, b.cell_y,
         CASE WHEN p00.gx IS NOT NULL THEN 1 ELSE 0 END
       + CASE WHEN p10.gx IS NOT NULL THEN 2 ELSE 0 END
       + CASE WHEN p01.gx IS NOT NULL THEN 4 ELSE 0 END
       + CASE WHEN p11.gx IS NOT NULL THEN 8 ELSE 0 END AS case_id
  FROM blocks b
  LEFT JOIN c p00 ON p00.gx = b.cell_x     AND p00.gy = b.cell_y
  LEFT JOIN c p10 ON p10.gx = b.cell_x + 1 AND p10.gy = b.cell_y
  LEFT JOIN c p01 ON p01.gx = b.cell_x     AND p01.gy = b.cell_y + 1
  LEFT JOIN c p11 ON p11.gx = b.cell_x + 1 AND p11.gy = b.cell_y + 1)
SELECT cell_x, cell_y, CAST(case_id AS BIGINT) AS case_id,
       CAST(CASE WHEN case_id IN (6, 9) THEN 2 ELSE 1 END AS BIGINT)
           AS n_segments
FROM cl WHERE case_id <> 15
"""


def q_morton_bbox_scan(spark, sf_dir):
    """Z-order range scan (zorder.morton_bbox_scan): the query bbox is
    compiled on the driver into maximal Morton-code ranges (IVF-centroid
    pattern — bounded, zero table data), applied as an OR-of-BETWEEN
    coarse predicate over each row's interleaved-bit code, then the
    exact coordinate refine. The oracle is the PLAIN bbox filter — the
    gate proves the decomposition covers every bbox cell and the refine
    drops boundary-cell overhang (pruning losslessness, the
    decontaminate_bloom pattern for spatial keys)."""
    from ..operators import zorder as zo

    pts = _points_df(spark, sf_dir)
    df = pts.select("doc_id",
                    F.col("lng_udeg").cast("bigint").alias("x"),
                    F.col("lat_udeg").cast("bigint").alias("y"))
    out = zo.morton_bbox_scan(df, "x", "y",
                              139_720_000, 139_780_000,
                              35_600_000, 35_700_000)
    return out.select("doc_id", "x", "y")


SQL_MORTON_BBOX_SCAN = f"""
WITH {POINTS_CTE}
SELECT doc_id, lng_udeg AS x, lat_udeg AS y
FROM pts
WHERE lng_udeg BETWEEN 139720000 AND 139780000
  AND lat_udeg BETWEEN 35600000 AND 35700000
"""


def q_golden_record(spark, sf_dir):
    """Golden-record consensus merge (dedup.golden_record): entities =
    doc_id % 97 buckets; per entity and per field (lang, source, and the
    n_chars kilo-band) the majority value with deterministic min-value
    tie-break, long-form output. Oracle melts the same fields via UNION
    ALL and replays the vote as a window rank."""
    from ..operators import dedup as dd

    docs = _t(spark, sf_dir, "documents")
    members = docs.select(
        (F.col("doc_id") % 97).alias("entity"), "lang", "source",
        F.expr("n_chars div 1000").alias("band"))
    out = dd.golden_record(members, "entity", ["lang", "source", "band"])
    return out.select(F.col("cluster").alias("entity"),
                      "field", "value", "n_votes")


SQL_GOLDEN_RECORD = """
WITH m AS (
  SELECT doc_id % 97 AS entity, 'lang' AS field, lang AS value
  FROM documents WHERE lang IS NOT NULL
  UNION ALL
  SELECT doc_id % 97, 'source', source
  FROM documents WHERE source IS NOT NULL
  UNION ALL
  SELECT doc_id % 97, 'band', CAST(n_chars // 1000 AS VARCHAR)
  FROM documents WHERE n_chars IS NOT NULL),
v AS (SELECT entity, field, value, CAST(count(*) AS BIGINT) AS n_votes
      FROM m GROUP BY 1, 2, 3)
SELECT entity, field, value, n_votes FROM (
  SELECT *, row_number() OVER (PARTITION BY entity, field
                               ORDER BY n_votes DESC, value) AS rn
  FROM v) WHERE rn = 1
"""


def q_lag_autocorr(spark, sf_dir):
    """Weekly-rhythm detector (stats.lag_autocorrelation): lag-7
    autocorrelation of daily counts per event type over each key's own
    calendar span with missing days as TRUE ZEROS (sequence-explode
    grid), integer n-scaled moments (the morans_i discipline in 1-D),
    one fixed-order scalar double for r_milli."""
    from ..operators import stats as st

    ev = _t(spark, sf_dir, "events")
    return st.lag_autocorrelation(ev, lag_days=7)


SQL_LAG_AUTOCORR = """
WITH daily AS (
  SELECT event_type AS k, epoch_us(ts) // 86400000000 AS d,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
sp AS (SELECT k, min(d) AS d0, max(d) AS d1, sum(c) AS s
       FROM daily GROUP BY 1),
grid AS (SELECT k, s, d1 - d0 + 1 AS n, d0 + u.i AS d
         FROM sp, UNNEST(range(d1 - d0 + 1)) AS u(i)),
cd AS (SELECT g.k, g.n, g.s, g.d,
              g.n * coalesce(dl.c, 0) - g.s AS dev
       FROM grid g LEFT JOIN daily dl ON dl.k = g.k AND dl.d = g.d),
nm AS (SELECT a.k, CAST(sum(a.dev * b.dev) AS BIGINT) AS num
       FROM cd a JOIN cd b ON a.k = b.k AND b.d = a.d - 7 GROUP BY 1),
dn AS (SELECT k, CAST(max(n) AS BIGINT) AS n_days,
              CAST(sum(dev * dev) AS BIGINT) AS den
       FROM cd GROUP BY 1)
SELECT dn.k AS event_type, n_days,
       CAST(coalesce(num, 0) AS BIGINT) AS num, den,
       CASE WHEN den > 0 AND num IS NOT NULL THEN
         CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                    * 1000.0 + 0.5) AS BIGINT)
       END AS r_milli
FROM dn LEFT JOIN nm ON nm.k = dn.k
"""


# Wave 29 — CIDR longest-prefix routing fixture: nested prefixes exercise
# every cascade branch (a /5 supernet over a /6 over a /8 over a /15; a
# /8 -> /9 -> /18 chain; a /8 -> /16 -> /24 chain; four first octets
# deliberately uncovered so the unrouted LEFT path provably fires).
# Shared config between engines (the PSL-gate pattern); the ORACLE
# re-derives matching from RANGE CONTAINMENT + max-plen — an independent
# formulation of the rule, so a shift/key bug on the Spark side fails.
_CIDR_PREFIXES: list[tuple[int, int, int, int, int, str]] = [
    (1, 0, 0, 0, 8, "net-a"),
    (1, 128, 0, 0, 9, "net-a-hi"),
    (1, 128, 64, 0, 18, "net-a-deep"),
    (2, 0, 0, 0, 7, "net-b"),
    (5, 0, 0, 0, 8, "net-c"),
    (5, 37, 0, 0, 16, "net-c-16"),
    (5, 37, 129, 0, 24, "net-c-24"),
    (8, 0, 0, 0, 5, "net-wide"),
    (12, 0, 0, 0, 6, "net-mid"),
    (14, 0, 0, 0, 8, "net-deep8"),
    (14, 214, 0, 0, 15, "net-deep15"),
]

# deterministic server IP per doc: 32-bit md5 slice, first octet folded
# into 1..16 so every prefix branch (and the unrouted gaps) gets traffic
_CIDR_H = ("CAST(conv(substring(md5(concat('ip', CAST(doc_id AS STRING))),"
           " 1, 8), 16, 10) AS BIGINT)")


def q_cidr_lpm(spark, sf_dir):
    """CIDR longest-prefix-match enrichment (network.lpm_join): every
    doc's deterministic server IP routed to its most-specific covering
    prefix via one broadcast hash probe per prefix length, folded
    longest-first (the PSL per-label cascade in the bit domain — zero
    shuffle, zero fan-out). Oracle: range-containment join (ip BETWEEN
    lo AND hi) + max-plen window — independent matching semantics."""
    from ..operators import network as nw

    docs = _t(spark, sf_dir, "documents")
    ips = docs.selectExpr(
        "doc_id",
        f"(1 + (({_CIDR_H}) div 16777216) % 16) * 16777216"
        f" + ({_CIDR_H}) % 16777216 AS ip")
    pfx = spark.createDataFrame(
        [(o1 * 16777216 + o2 * 65536 + o3 * 256 + o4, plen, label)
         for o1, o2, o3, o4, plen, label in _CIDR_PREFIXES],
        "net bigint, plen int, label string")
    out = nw.lpm_join(ips, pfx, "ip", ["label"])
    return out.select(
        "doc_id", "ip",
        F.coalesce(F.col("matched_plen").cast("bigint"), F.lit(-1))
        .alias("plen"),
        F.coalesce(F.col("label"), F.lit("unrouted")).alias("label"))


_CIDR_H_SQL = ("CAST(concat('0x', substr(md5(concat('ip',"
               " CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)")

SQL_CIDR_LPM = f"""
WITH ips AS (
  SELECT doc_id,
         (1 + (({_CIDR_H_SQL}) // 16777216) % 16) * 16777216
           + ({_CIDR_H_SQL}) % 16777216 AS ip
  FROM documents),
pfx AS (SELECT * FROM (VALUES
  {", ".join(f"({o1 * 16777216 + o2 * 65536 + o3 * 256 + o4}, {plen},"
             f" '{label}')"
             for o1, o2, o3, o4, plen, label in _CIDR_PREFIXES)}
) AS t(net, plen, label)),
rng AS (SELECT net AS lo,
               net + (CAST(1 AS BIGINT) << (32 - plen)) - 1 AS hi,
               plen, label
        FROM pfx),
m AS (SELECT i.doc_id, r.plen, r.label,
             row_number() OVER (PARTITION BY i.doc_id
                                ORDER BY r.plen DESC) AS rn
      FROM ips i JOIN rng r ON i.ip BETWEEN r.lo AND r.hi)
SELECT i.doc_id, i.ip,
       CAST(coalesce(m.plen, -1) AS BIGINT) AS plen,
       coalesce(m.label, 'unrouted') AS label
FROM ips i LEFT JOIN m ON m.doc_id = i.doc_id AND m.rn = 1
"""


def q_bitmap_overlap(spark, sf_dir):
    """Exact audience overlap via packed bitmaps (bitmap.segment_overlap):
    every event-type pair's exact shared/total distinct-user counts from
    64-bit-word bitmap relations (bit_or partial agg -> word-aligned AND
    + popcount), never a per-pair COUNT(DISTINCT) rescan. Oracle: the
    naive distinct-pair self-join the bitmaps replace."""
    from ..operators import bitmap as bmp

    ev = _t(spark, sf_dir, "events")
    return bmp.segment_overlap(ev, "event_type", "user_id")


SQL_BITMAP_OVERLAP = """
WITH d AS (SELECT DISTINCT event_type AS seg, user_id AS m
           FROM events
           WHERE event_type IS NOT NULL AND user_id IS NOT NULL
             AND user_id >= 0),
s AS (SELECT seg, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
i AS (SELECT a.seg AS sa, b.seg AS sb, CAST(count(*) AS BIGINT) AS c
      FROM d a JOIN d b ON a.m = b.m AND a.seg < b.seg GROUP BY 1, 2)
SELECT sa.seg AS seg_a, sb.seg AS seg_b, sa.n AS n_a, sb.n AS n_b,
       CAST(coalesce(i.c, 0) AS BIGINT) AS n_common,
       sa.n + sb.n - CAST(coalesce(i.c, 0) AS BIGINT) AS n_union
FROM s sa JOIN s sb ON sa.seg < sb.seg
LEFT JOIN i ON i.sa = sa.seg AND i.sb = sb.seg
"""


# Wave 30 — deterministic street-grid fixture for the map-matching snap:
# short (10 km .. no, 10_000 µdeg ≈ 1 km) horizontal/vertical pieces
# scattered over the point extent by integer LCG arithmetic both engines
# state verbatim. Pieces are SHORT on purpose: the operator's overflow
# guard requires bounded extents (real road networks are piecewise
# short for the same reason).
_SEG_X1 = "139560000 + ((doc_id * 7919) % 36) * 10000"
_SEG_Y1 = "35520000 + ((doc_id * 104729) % 30) * 10000"


def q_snap_points(spark, sf_dir):
    """Map-matching snap (geometry.snap_points_to_segments): every page
    point within 3000 µdeg of the synthetic street grid gets its
    NEAREST segment (exact three-case integer point-segment distance;
    arg-min as a partial-aggregable min(struct), no row window). The
    oracle brute-forces all points x all segments with the identical
    integer predicate and a window arg-min — one gate proves the
    covering-cell candidate recall is lossless AND the distance math
    matches bit-for-bit."""
    from ..operators import geometry as gm

    pts = _points_df(spark, sf_dir).select(
        F.col("doc_id").alias("pt_id"),
        F.col("lng_udeg").alias("x"), F.col("lat_udeg").alias("y"))
    docs = _t(spark, sf_dir, "documents")
    segs = docs.selectExpr(
        "doc_id AS seg_id",
        f"CAST({_SEG_X1} AS BIGINT) AS x1",
        f"CAST({_SEG_Y1} AS BIGINT) AS y1",
        f"CAST({_SEG_X1} AS BIGINT) + (1 - doc_id % 2) * 10000 AS x2",
        f"CAST({_SEG_Y1} AS BIGINT) + (doc_id % 2) * 10000 AS y2")
    return gm.snap_points_to_segments(pts, segs, radius_udeg=3000)


SQL_SNAP_POINTS = f"""
WITH {POINTS_CTE},
segs AS (
  SELECT doc_id AS seg_id,
         CAST({_SEG_X1} AS BIGINT) AS x1,
         CAST({_SEG_Y1} AS BIGINT) AS y1,
         CAST({_SEG_X1} AS BIGINT) + (1 - doc_id % 2) * 10000 AS x2,
         CAST({_SEG_Y1} AS BIGINT) + (doc_id % 2) * 10000 AS y2
  FROM documents),
cand AS (
  SELECT p.doc_id AS pt_id, s.seg_id,
         p.lng_udeg - s.x1 AS apx, p.lat_udeg - s.y1 AS apy,
         s.x2 - s.x1 AS abx, s.y2 - s.y1 AS aby,
         p.lng_udeg - s.x2 AS bpx, p.lat_udeg - s.y2 AS bpy
  FROM pts p, segs s
  -- chebyshev prefilter: a NECESSARY condition of euclid <= r (keeps
  -- the far-pair cross products inside int64; not the cell index)
  WHERE p.lng_udeg BETWEEN least(s.x1, s.x2) - 3000
                       AND greatest(s.x1, s.x2) + 3000
    AND p.lat_udeg BETWEEN least(s.y1, s.y2) - 3000
                       AND greatest(s.y1, s.y2) + 3000),
d AS (
  SELECT pt_id, seg_id,
         apx * abx + apy * aby AS dot,
         abx * abx + aby * aby AS den,
         apx * apx + apy * apy AS ap2,
         bpx * bpx + bpy * bpy AS bp2,
         apx * aby - apy * abx AS crs
  FROM cand),
hits AS (
  SELECT pt_id, seg_id,
         CASE WHEN dot <= 0 THEN CAST(ap2 AS DOUBLE)
              WHEN dot >= den THEN CAST(bp2 AS DOUBLE)
              ELSE CAST(crs * crs AS DOUBLE) / CAST(den AS DOUBLE)
         END AS d2
  FROM d
  WHERE CASE WHEN dot <= 0 THEN ap2 <= 9000000
             WHEN dot >= den THEN bp2 <= 9000000
             ELSE crs * crs <= 9000000 * den END),
best AS (
  SELECT pt_id, seg_id, d2,
         row_number() OVER (PARTITION BY pt_id
                            ORDER BY d2, seg_id) AS rn
  FROM hits)
SELECT pt_id, seg_id, d2 FROM best WHERE rn = 1
"""


def q_trimmed_stats(spark, sf_dir):
    """Robust per-type value stats (stats.trimmed_group_stats): 10%
    two-sided trimmed mean of the cent-quantized event value — computed
    over the (group, value) COUNT relation (no row-level window; any
    tie order keeps the same value multiset). Oracle: per-ROW
    row_number trimming, the formulation the operator avoids."""
    from ..operators import stats as st

    ev = _t(spark, sf_dir, "events").select(
        "event_type", _cents("value").alias("v_cents"))
    return st.trimmed_group_stats(ev, "event_type", "v_cents",
                                  trim_ppm=100_000)


SQL_TRIMMED_STATS = f"""
WITH r AS (SELECT event_type, {_cents_sql('value')} AS v FROM events),
rk AS (SELECT event_type, v,
              row_number() OVER (PARTITION BY event_type ORDER BY v)
                  AS rn,
              count(*) OVER (PARTITION BY event_type) AS n
       FROM r),
f AS (SELECT event_type, v, n, n * 100000 // 1000000 AS k
      FROM rk
      WHERE rn > n * 100000 // 1000000
        AND rn <= n - n * 100000 // 1000000)
SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       CAST(max(k) AS BIGINT) AS n_trim,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(v) AS BIGINT) AS sum_kept,
       CAST(1000 * sum(v) // count(*) AS BIGINT) AS mean_milli
FROM f GROUP BY 1
"""


def q_od_matrix(spark, sf_dir):
    """Origin-destination flows (temporal.od_matrix): each user's
    consecutive located events contribute one trip between 120k-µdeg
    grid cells (the stay_points grid, so dwells vs moves partition the
    same trajectory); stationary pairs dropped. Oracle re-derives the
    hops with the same per-user lag window."""
    from ..operators import temporal as tp

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull()))
    lng, lat = geo.point_udeg_cols(F.col("event_id"))
    track = (ev.select("user_id", "ts", "event_id", lng, lat)
             .withColumn("cx", F.floor(F.col("lng_udeg") / 120000)
                         .cast("bigint"))
             .withColumn("cy", F.floor(F.col("lat_udeg") / 120000)
                         .cast("bigint")))
    return tp.od_matrix(track)


SQL_OD_MATRIX = f"""
WITH trk AS (
  SELECT user_id, ts, event_id,
         CAST(floor({_EV_LNG_SQL} / 120000.0) AS BIGINT) AS cx,
         CAST(floor({_EV_LAT_SQL} / 120000.0) AS BIGINT) AS cy
  FROM events WHERE user_id IS NOT NULL),
hops AS (
  SELECT lag(cx) OVER w AS o_cx, lag(cy) OVER w AS o_cy,
         cx AS d_cx, cy AS d_cy
  FROM trk WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT o_cx, o_cy, d_cx, d_cy, CAST(count(*) AS BIGINT) AS n_trips
FROM hops
WHERE o_cx IS NOT NULL AND (o_cx <> d_cx OR o_cy <> d_cy)
GROUP BY 1, 2, 3, 4
"""


def q_resource_alloc(spark, sf_dir):
    """Resource-Allocation link prediction (graph.
    resource_allocation_pairs): co-cited pairs scored by the sum of
    1e6 div out_degree(source) over common sources — the integer-exact
    Adamic-Adar sibling (1/deg instead of 1/ln(deg): no float ln whose
    last ulp differs across engines). Same deterministic link graph as
    the cocitation gate; oracle = brute-force weighted self-join."""
    from ..operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    edges = gr.synthetic_link_edges(docs, n)
    return gr.resource_allocation_pairs(edges, min_count=2)


SQL_RESOURCE_ALLOC = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
dw AS (SELECT src, 1000000 // count(*) AS w FROM e GROUP BY 1),
ew AS (SELECT e.src, e.dst, dw.w FROM e JOIN dw USING (src))
SELECT a.dst AS page_a, b.dst AS page_b,
       CAST(count(*) AS BIGINT) AS n_common,
       CAST(sum(a.w) AS BIGINT) AS ra_e6
FROM ew a JOIN ew b ON a.src = b.src AND a.dst < b.dst
GROUP BY 1, 2
HAVING count(*) >= 2
"""


def q_mann_kendall(spark, sf_dir):
    """Distribution-free trend test (stats.mann_kendall): per-key S
    statistic + tie-corrected 18·Var(S) + 95% trend flag over daily
    counts on each key's own zero-filled calendar span. The natural
    event types are stationary (trend 0); two derived keys keep events
    with a deterministic day-ramped modulus filter — ramp_up's keep
    fraction grows ~6.7%/day, ramp_down's shrinks — so +1, -1 AND 0
    all provably fire. Oracle re-derives the grid, the pairwise sign
    sum, and the integer significance test independently."""
    from ..operators import stats as st

    ev = _t(spark, sf_dir, "events")
    d = F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000")
    evd = ev.select("event_type", "ts", "event_id", d.alias("d"))
    mm = evd.agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    evm = evd.crossJoin(F.broadcast(mm))
    base = evm.select(F.col("event_type").alias("k"), "ts")
    up = (evm.where((F.col("event_id") % 60)
                    < 2 * (F.col("d") - F.col("dmin")))
          .select(F.lit("ramp_up").alias("k"), "ts"))
    down = (evm.where((F.col("event_id") % 60)
                      < 2 * (F.col("dmax") - F.col("d")))
            .select(F.lit("ramp_down").alias("k"), "ts"))
    return st.mann_kendall(base.unionAll(up).unionAll(down), key_col="k")


SQL_MANN_KENDALL = """
WITH mm AS (SELECT min(epoch_us(ts) // 86400000000) AS dmin,
                   max(epoch_us(ts) // 86400000000) AS dmax FROM events),
src AS (
  SELECT event_type AS k, ts FROM events
  UNION ALL
  SELECT 'ramp_up', ts FROM events, mm
  WHERE event_id % 60 < 2 * (epoch_us(ts) // 86400000000 - dmin)
  UNION ALL
  SELECT 'ramp_down', ts FROM events, mm
  WHERE event_id % 60 < 2 * (dmax - epoch_us(ts) // 86400000000)),
daily AS (SELECT k, epoch_us(ts) // 86400000000 AS d,
                 CAST(count(*) AS BIGINT) AS c
          FROM src GROUP BY 1, 2),
sp AS (SELECT k, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
grid AS (SELECT sp.k, d1 - d0 + 1 AS n, d0 + u.i AS d
         FROM sp, UNNEST(range(d1 - d0 + 1)) AS u(i)),
cd AS (SELECT g.k, g.n, g.d, coalesce(dl.c, 0) AS c
       FROM grid g LEFT JOIN daily dl ON dl.k = g.k AND dl.d = g.d),
s AS (SELECT a.k,
             CAST(sum(CASE WHEN b.c > a.c THEN 1
                           WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT)
                 AS s_stat
      FROM cd a JOIN cd b ON a.k = b.k AND b.d > a.d GROUP BY 1),
tg AS (SELECT k, n, c, CAST(count(*) AS BIGINT) AS t
       FROM cd GROUP BY 1, 2, 3),
v AS (SELECT k, CAST(max(n) AS BIGINT) AS n_days,
             CAST(max(n) * (max(n) - 1) * (2 * max(n) + 5)
                  - sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS var18
      FROM tg GROUP BY 1)
SELECT v.k, n_days, s_stat, var18,
       CAST(CASE WHEN s_stat <> 0
                  AND 180000 * (abs(s_stat) - 1) * (abs(s_stat) - 1)
                      > 38416 * var18
                 THEN CASE WHEN s_stat > 0 THEN 1 ELSE -1 END
            ELSE 0 END AS BIGINT) AS trend
FROM v JOIN s USING (k)
"""


def q_clustering_coef(spark, sf_dir):
    """Local clustering coefficients (graph.clustering_coefficients):
    per-page cohesion ppm = 2e6 * triangles div (deg * (deg-1)) over the
    deterministic link graph — triangles via the hub-safe degree-ordered
    orientation. Oracle closes wedges directly (neighbor-pair join
    against the canonical edge set), an independent formulation of the
    same count."""
    from ..operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    edges = gr.synthetic_link_edges(docs, n)
    return gr.clustering_coefficients(edges)


SQL_CLUSTERING_COEF = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
und AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b
        FROM e GROUP BY 1, 2),
sym AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
deg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS degree
        FROM sym GROUP BY 1),
tr AS (SELECT x.a AS id, CAST(count(*) AS BIGINT) AS t
       FROM sym x
       JOIN sym y ON x.a = y.a AND x.b < y.b
       JOIN und z ON z.a = x.b AND z.b = y.b
       GROUP BY 1)
SELECT CAST(d.id AS BIGINT) AS id, d.degree,
       CAST(coalesce(t, 0) AS BIGINT) AS n_tri,
       CAST(CASE WHEN degree >= 2
                 THEN 2000000 * coalesce(t, 0) // (degree * (degree - 1))
            END AS BIGINT) AS cc_ppm
FROM deg d LEFT JOIN tr USING (id)
"""


def q_pettitt_shift(spark, sf_dir):
    """Change-point detection (stats.pettitt_shift): rank-based Pettitt
    U statistic over zero-filled daily counts — the natural event types
    are level-stable; a derived step key keeps 1-in-8 events in the
    first half of the span and 1-in-2 in the second, a provable level
    shift, so both shifted branches fire. The operator computes U via
    the V-recurrence + cumsum; the oracle computes U_t from the
    DEFINITION (sum over pairs i <= t < j) — an independent
    formulation whose agreement proves the recurrence."""
    from ..operators import stats as st

    ev = _t(spark, sf_dir, "events")
    d = F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000")
    evd = ev.select("event_type", "ts", "event_id", d.alias("d"))
    mm = evd.agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    evm = evd.crossJoin(F.broadcast(mm))
    base = evm.select(F.col("event_type").alias("k"), "ts")
    step = (evm.where(
        F.when(2 * (F.col("d") - F.col("dmin"))
               >= F.col("dmax") - F.col("dmin"),
               (F.col("event_id") % 2) == 0)
        .otherwise((F.col("event_id") % 8) == 0))
        .select(F.lit("step_up").alias("k"), "ts"))
    return st.pettitt_shift(base.unionAll(step), key_col="k")


SQL_PETTITT_SHIFT = """
WITH mm AS (SELECT min(epoch_us(ts) // 86400000000) AS dmin,
                   max(epoch_us(ts) // 86400000000) AS dmax FROM events),
src AS (
  SELECT event_type AS k, ts FROM events
  UNION ALL
  SELECT 'step_up', ts FROM events, mm
  WHERE CASE WHEN 2 * (epoch_us(ts) // 86400000000 - dmin) >= dmax - dmin
             THEN event_id % 2 = 0 ELSE event_id % 8 = 0 END),
daily AS (SELECT k, epoch_us(ts) // 86400000000 AS d,
                 CAST(count(*) AS BIGINT) AS c
          FROM src GROUP BY 1, 2),
sp AS (SELECT k, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
grid AS (SELECT sp.k, d0 + u.i AS d
         FROM sp, UNNEST(range(d1 - d0 + 1)) AS u(i)),
cd AS (SELECT g.k, g.d, coalesce(dl.c, 0) AS c
       FROM grid g LEFT JOIN daily dl ON dl.k = g.k AND dl.d = g.d),
u AS (SELECT t.k, t.d,
             CAST(sum(CASE WHEN a.c > b.c THEN 1
                           WHEN a.c < b.c THEN -1 ELSE 0 END) AS BIGINT)
                 AS u
      FROM cd t
      JOIN cd a ON a.k = t.k AND a.d <= t.d
      JOIN cd b ON b.k = t.k AND b.d > t.d
      GROUP BY 1, 2),
pick AS (SELECT k, d, u, abs(u) AS a FROM u
         QUALIFY row_number() OVER (PARTITION BY k
                                    ORDER BY abs(u) DESC, d) = 1)
SELECT p.k, CAST(sp.d1 - sp.d0 + 1 AS BIGINT) AS n_days,
       p.u AS u_stat, p.a AS k_stat, CAST(p.d AS BIGINT) AS change_day,
       CAST(CASE WHEN 6000000 * p.a * p.a
                      > 3688879 * ((sp.d1 - sp.d0 + 1)
                                   * (sp.d1 - sp.d0 + 1)
                                   * (sp.d1 - sp.d0 + 1)
                                   + (sp.d1 - sp.d0 + 1)
                                   * (sp.d1 - sp.d0 + 1))
                 THEN 1 ELSE 0 END AS BIGINT) AS shifted
FROM pick p JOIN sp ON sp.k = p.k
"""


def q_ams_f2(spark, sf_dir):
    """AMS tug-of-war F2 sketch (cms.ams_f2_registers): 32 integer
    registers of md5-Rademacher-signed user_id counts — the self-join-
    size / key-skew diagnostic, sketch family #6. Bit-for-bit register
    gate (the cms_registers pattern); oracle recomputes each register's
    sign sum with the same md5-salt arithmetic."""
    from ..operators import cms

    ev = _t(spark, sf_dir, "events")
    return cms.ams_f2_registers(ev, "user_id", n_reg=32)


SQL_AMS_F2 = """
SELECT CAST(r.i AS BIGINT) AS reg,
       CAST(sum(1 - 2 * (CAST(concat('0x',
                substr(md5(CAST(user_id AS VARCHAR) || ':ams' || r.i),
                       1, 15)) AS BIGINT) % 2)) AS BIGINT) AS z
FROM events, UNNEST(range(32)) AS r(i)
WHERE user_id IS NOT NULL
GROUP BY 1
"""


def q_anchor_terms(spark, sf_dir):
    """Anchor-text target profiles (links.anchor_term_counts): per-
    destination top-3 anchor terms over pages carrying absolute,
    root-relative (uppercase, single-quoted), fragment-only (never
    extracted) and mailto (resolved to NULL, dropped) anchors with
    punctuated inner text. Oracle re-derives extraction with DuckDB's
    zipped parallel unnest + an independent window rank."""
    from ..operators import links as lk

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(F.lit("https://site"), (did % 10).cast("string"),
                   F.lit(".example.com/page/"), did.cast("string"))
    page = F.concat(
        F.lit('<html><a href="https://hub.example.com/t/'),
        (did % 7).cast("string"),
        F.lit('">w'), ((did * 3) % 17).cast("string"),
        F.lit(" w"), ((did * 5) % 17).cast("string"),
        F.lit("</a><A HREF='/local/"), (did % 5).cast("string"),
        F.lit("'>w"), ((did * 7) % 17).cast("string"),
        F.lit('!</A><a href="#skip">w99</a>'
              '<a href="mailto:x@y.z">w98</a></html>'))
    pages = docs.select(url.alias("url"), page.alias("html"))
    return lk.anchor_term_counts(pages, top_k=3)


SQL_ANCHOR_TERMS = """
WITH pages AS (
  SELECT
    'https://site' || CAST(doc_id % 10 AS VARCHAR)
      || '.example.com/page/' || CAST(doc_id AS VARCHAR) AS url,
    '<html><a href="https://hub.example.com/t/'
      || CAST(doc_id % 7 AS VARCHAR)
      || '">w' || CAST((doc_id * 3) % 17 AS VARCHAR)
      || ' w' || CAST((doc_id * 5) % 17 AS VARCHAR)
      || '</a><A HREF=''/local/' || CAST(doc_id % 5 AS VARCHAR)
      || '''>w' || CAST((doc_id * 7) % 17 AS VARCHAR)
      || '!</A><a href="#skip">w99</a>'
      || '<a href="mailto:x@y.z">w98</a></html>' AS html
  FROM documents),
anch AS (
  SELECT url,
    unnest(regexp_extract_all(html,
      '(?is)<a\\s[^>]*href\\s*=\\s*["'']([^"''#]+)["''][^>]*>([^<]*)</a\\s*>',
      1)) AS href,
    unnest(regexp_extract_all(html,
      '(?is)<a\\s[^>]*href\\s*=\\s*["'']([^"''#]+)["''][^>]*>([^<]*)</a\\s*>',
      2)) AS txt
  FROM pages),
res AS (
  SELECT CASE
           WHEN regexp_matches(href, '(?i)^https?://') THEN href
           WHEN href LIKE '//%' THEN
             regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*):', 1)
             || ':' || href
           WHEN href LIKE '/%' THEN
             regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*://[^/]+)', 1)
             || href
         END AS dst_url, txt
  FROM anch),
terms AS (
  SELECT dst_url,
         unnest(regexp_split_to_array(lower(txt), '[^a-z0-9]+')) AS term
  FROM res WHERE dst_url IS NOT NULL),
counts AS (
  SELECT dst_url, term, CAST(count(*) AS BIGINT) AS n
  FROM terms WHERE term <> '' GROUP BY 1, 2)
SELECT dst_url, term, n,
       CAST(row_number() OVER (PARTITION BY dst_url
                               ORDER BY n DESC, term) AS BIGINT) AS rank
FROM counts
QUALIFY row_number() OVER (PARTITION BY dst_url
                           ORDER BY n DESC, term) <= 3
"""


def q_spearman_corr(spark, sf_dir):
    """Spearman rank correlation (stats.spearman_group_corr): per
    event type between cent-quantized value and the event's microsecond
    timestamp, plus two derived keys pinning the spec — mono_up (y = x,
    r exactly +1000 even under ties) and mono_down (y = -x, -1000).
    The operator ranks through the (group, value) COUNT relation; the
    oracle ranks each ROW via rank() + tie-count windows — independent
    mechanics for the same doubled average rank."""
    from ..operators import stats as st

    ev = _t(spark, sf_dir, "events")
    cents = _cents("value")
    base = (ev.where(F.col("value").isNotNull() & F.col("ts").isNotNull())
            .select(F.col("event_type").alias("k"),
                    cents.alias("x"),
                    F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
                    .alias("y")))
    up = (ev.where(F.col("value").isNotNull())
          .select(F.lit("mono_up").alias("k"), cents.alias("x"),
                  cents.alias("y")))
    down = (ev.where(F.col("value").isNotNull())
            .select(F.lit("mono_down").alias("k"), cents.alias("x"),
                    (-cents).alias("y")))
    return st.spearman_group_corr(base.unionAll(up).unionAll(down),
                                  "k", "x", "y")


SQL_SPEARMAN_CORR = f"""
WITH base AS (
  SELECT event_type AS k, {_cents_sql('value')} AS x,
         epoch_us(ts) AS y
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
  UNION ALL
  SELECT 'mono_up', {_cents_sql('value')}, {_cents_sql('value')}
  FROM events WHERE value IS NOT NULL
  UNION ALL
  SELECT 'mono_down', {_cents_sql('value')}, -{_cents_sql('value')}
  FROM events WHERE value IS NOT NULL),
rk AS (
  SELECT k,
         2 * rank() OVER (PARTITION BY k ORDER BY x)
           + count(*) OVER (PARTITION BY k, x) - 1 AS r2x,
         2 * rank() OVER (PARTITION BY k ORDER BY y)
           + count(*) OVER (PARTITION BY k, y) - 1 AS r2y
  FROM base),
m AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(r2x) AS BIGINT) AS sx, CAST(sum(r2y) AS BIGINT) AS sy,
         CAST(sum(r2x * r2y) AS BIGINT) AS sxy,
         CAST(sum(r2x * r2x) AS BIGINT) AS sxx,
         CAST(sum(r2y * r2y) AS BIGINT) AS syy
  FROM rk GROUP BY 1)
SELECT k, n,
       CAST(n * sxy - sx * sy AS BIGINT) AS num,
       CAST(n * sxx - sx * sx AS BIGINT) AS den1,
       CAST(n * syy - sy * sy AS BIGINT) AS den2,
       CAST(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                  AND n <= 1300000
                 THEN floor(CAST(n * sxy - sx * sy AS DOUBLE)
                            / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                   * CAST(n * syy - sy * sy AS DOUBLE))
                            * 1000.0 + 0.5)
            END AS BIGINT) AS r_milli
FROM m
"""


def q_sitemap_parse(spark, sf_dir):
    """Sitemap protocol parsing (frontier.sitemap_entries): per-document
    synthetic sitemaps carry one full <url> block (loc + lastmod +
    priority), one minimal block (defaults: NULL lastmod, priority 500)
    and one malformed block with no <loc> (dropped per protocol).
    Oracle re-derives blocks/fields with DuckDB RE2 regexes and the
    shared priority quantization."""
    from ..operators import frontier as fr

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    sm_url = F.concat(F.lit("https://s"), (did % 10).cast("string"),
                      F.lit(".example.com/sitemap_"), did.cast("string"),
                      F.lit(".xml"))
    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset><url><loc> https://s'),
        (did % 10).cast("string"),
        F.lit(".example.com/p/"), did.cast("string"),
        F.lit(" </loc><lastmod>2024-01-"),
        F.lpad(((did % 28) + 1).cast("string"), 2, "0"),
        F.lit("</lastmod><priority>0."), (did % 10).cast("string"),
        F.lit("</priority></url>\n<url>\n<loc>https://s"),
        (did % 10).cast("string"),
        F.lit(".example.com/alt/"), did.cast("string"),
        F.lit("</loc>\n</url><url><priority>0.9</priority></url>"
              "</urlset>"))
    sitemaps = docs.select(sm_url.alias("sitemap_url"), xml.alias("xml"))
    return fr.sitemap_entries(sitemaps)


SQL_SITEMAP_PARSE = """
WITH sm AS (
  SELECT
    'https://s' || CAST(doc_id % 10 AS VARCHAR) || '.example.com/sitemap_'
      || CAST(doc_id AS VARCHAR) || '.xml' AS sitemap_url,
    '<?xml version="1.0"?><urlset><url><loc> https://s'
      || CAST(doc_id % 10 AS VARCHAR) || '.example.com/p/'
      || CAST(doc_id AS VARCHAR) || ' </loc><lastmod>2024-01-'
      || lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0')
      || '</lastmod><priority>0.' || CAST(doc_id % 10 AS VARCHAR)
      || '</priority></url>' || chr(10) || '<url>' || chr(10)
      || '<loc>https://s' || CAST(doc_id % 10 AS VARCHAR)
      || '.example.com/alt/' || CAST(doc_id AS VARCHAR)
      || '</loc>' || chr(10)
      || '</url><url><priority>0.9</priority></url></urlset>' AS xml
  FROM documents),
blk AS (
  SELECT sitemap_url,
         unnest(regexp_extract_all(xml, '(?is)<url\\s*>.*?</url\\s*>', 0))
             AS b
  FROM sm),
fld AS (
  SELECT sitemap_url,
    regexp_extract(b, '(?is)<loc\\s*>\\s*([^<\\s][^<]*?)\\s*</loc\\s*>', 1)
        AS loc,
    regexp_extract(b,
        '(?is)<lastmod\\s*>\\s*([^<\\s][^<]*?)\\s*</lastmod\\s*>', 1)
        AS lastmod,
    regexp_extract(b, '(?is)<priority\\s*>\\s*([0-9.]+)\\s*</priority\\s*>',
        1) AS prio
  FROM blk)
SELECT sitemap_url, loc,
       nullif(lastmod, '') AS lastmod,
       CAST(CASE WHEN prio <> ''
                 THEN floor(CAST(prio AS DOUBLE) * 1000.0 + 0.5)
                 ELSE 500 END AS BIGINT) AS priority_pm
FROM fld WHERE loc <> ''
"""


def q_wkt_parse(spark, sf_dir):
    """WKT ingestion bridge (geometry.wkt_vertices): POINT / LINESTRING
    (with a Z ordinate to ignore) / POLYGON-with-hole text parsed into
    the integer µdeg vertex relation the geometry operators consume.
    Oracle re-derives rings/vertices via list indexing over the same
    lookaround-free regexes and the shared quantization."""
    from ..operators import geometry as gm

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")

    def frac(mult):
        return F.lpad(((did * mult) % 1000).cast("string"), 3, "0")

    a, b, c = frac(7), frac(13), frac(29)
    point = F.concat(F.lit("POINT (139."), a, F.lit(" 35."), b,
                     F.lit(")"))
    line = F.concat(F.lit("LINESTRING (139."), a, F.lit(" 35."), b,
                    F.lit(" 10.5, 139."), b, F.lit(" 35."), c,
                    F.lit(", 139."), c, F.lit(" 35."), a, F.lit(")"))
    poly = F.concat(
        F.lit("POLYGON ((139."), a, F.lit(" 35."), a,
        F.lit(", 139."), b, F.lit(" 35."), a,
        F.lit(", 139."), b, F.lit(" 35."), b,
        F.lit(", 139."), a, F.lit(" 35."), a,
        F.lit("), (139."), c, F.lit(" 35."), c,
        F.lit(", 139."), c, F.lit(" 35."), a,
        F.lit(", 139."), a, F.lit(" 35."), c,
        F.lit(", 139."), c, F.lit(" 35."), c, F.lit("))"))
    wkt = (F.when(did % 3 == 0, point)
           .when(did % 3 == 1, line).otherwise(poly))
    geoms = docs.select(did.alias("geom_id"), wkt.alias("wkt"))
    return gm.wkt_vertices(geoms)


SQL_WKT_PARSE = """
WITH w AS (
  SELECT doc_id,
    CASE
      WHEN doc_id % 3 = 0 THEN
        'POINT (139.' || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0')
        || ' 35.' || lpad(CAST((doc_id * 13) % 1000 AS VARCHAR), 3, '0')
        || ')'
      WHEN doc_id % 3 = 1 THEN
        'LINESTRING (139.'
        || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0')
        || ' 35.' || lpad(CAST((doc_id * 13) % 1000 AS VARCHAR), 3, '0')
        || ' 10.5, 139.'
        || lpad(CAST((doc_id * 13) % 1000 AS VARCHAR), 3, '0')
        || ' 35.' || lpad(CAST((doc_id * 29) % 1000 AS VARCHAR), 3, '0')
        || ', 139.' || lpad(CAST((doc_id * 29) % 1000 AS VARCHAR), 3, '0')
        || ' 35.' || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0')
        || ')'
      ELSE
        'POLYGON ((139.'
        || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0')
        || ' 35.' || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0')
        || ', 139.' || lpad(CAST((doc_id * 13) % 1000 AS VARCHAR), 3, '0')
        || ' 35.' || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0')
        || ', 139.' || lpad(CAST((doc_id * 13) % 1000 AS VARCHAR), 3, '0')
        || ' 35.' || lpad(CAST((doc_id * 13) % 1000 AS VARCHAR), 3, '0')
        || ', 139.' || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0')
        || ' 35.' || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0')
        || '), (139.' || lpad(CAST((doc_id * 29) % 1000 AS VARCHAR), 3, '0')
        || ' 35.' || lpad(CAST((doc_id * 29) % 1000 AS VARCHAR), 3, '0')
        || ', 139.' || lpad(CAST((doc_id * 29) % 1000 AS VARCHAR), 3, '0')
        || ' 35.' || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0')
        || ', 139.' || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0')
        || ' 35.' || lpad(CAST((doc_id * 29) % 1000 AS VARCHAR), 3, '0')
        || ', 139.' || lpad(CAST((doc_id * 29) % 1000 AS VARCHAR), 3, '0')
        || ' 35.' || lpad(CAST((doc_id * 29) % 1000 AS VARCHAR), 3, '0')
        || '))'
    END AS wkt
  FROM documents),
t AS (SELECT doc_id,
             upper(regexp_extract(wkt, '^\\s*([A-Za-z]+)', 1)) AS gtype,
             regexp_extract_all(wkt, '\\(([^()]+)\\)', 1) AS rings
      FROM w),
r AS (SELECT doc_id, gtype, CAST(ri.i AS BIGINT) AS ring,
             rings[ri.i + 1] AS txt
      FROM t, UNNEST(range(len(rings))) ri(i)),
p AS (SELECT doc_id, gtype, ring, CAST(pi.i AS BIGINT) AS idx,
             trim(string_split(txt, ',')[pi.i + 1]) AS pt
      FROM r, UNNEST(range(len(string_split(txt, ',')))) pi(i)),
s AS (SELECT doc_id, gtype, ring, idx,
             regexp_split_to_array(pt, '\\s+') AS toks FROM p)
SELECT doc_id AS geom_id, gtype, ring, idx,
       CAST(floor(CAST(toks[1] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
           AS x_udeg,
       CAST(floor(CAST(toks[2] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
           AS y_udeg
FROM s
"""


def q_hyperball_r2(spark, sf_dir):
    """HyperBall neighborhood function (graph.hyperball_registers):
    per-page HLL registers of the radius-2 out-ball over the
    deterministic link graph — radius rounds of union + elementwise-max
    partial aggs, the HyperANF linearization of a quadratic ball
    materialization. Registers compared bit-for-bit; the oracle derives
    the ball by 2-hop CLOSURE (self ∪ e ∪ e·e) and sketches the member
    set directly — set-based vs iterative-max, independent mechanics."""
    from ..operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    edges = gr.synthetic_link_edges(docs, n)
    nodes = docs.select(F.col("doc_id").alias("id"))
    return gr.hyperball_registers(nodes, edges, radius=2, p=6)


SQL_HYPERBALL_R2 = f"""
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
ball AS (
  SELECT doc_id AS v, doc_id AS u FROM documents
  UNION SELECT src, dst FROM e
  UNION SELECT a.src, b.dst FROM e a JOIN e b ON a.dst = b.src),
h AS (SELECT v, CAST(concat('0x', substr(md5(CAST(u AS VARCHAR) || 'hll'),
             1, 15)) AS BIGINT) AS hv
      FROM ball),
br AS (SELECT v, hv // {1 << 54} AS bucket, hv % {1 << 54} AS rest FROM h)
SELECT CAST(v AS BIGINT) AS id, CAST(bucket AS BIGINT) AS bucket,
       CAST(max(CASE WHEN rest = 0 THEN 55
                     ELSE 54 - (length(bin(rest)) - 1) END) AS BIGINT) AS r
FROM br GROUP BY 1, 2
"""


def q_theil_sen(spark, sf_dir):
    """Robust trend slope (stats.theil_sen_slope): per-key lower median
    of all pairwise daily slopes over the same ramp-extended event
    series as the mann_kendall gate (so up / down / flat medians all
    appear). Median selection orders by the computed-double quotient of
    exact int64 operands — identical in both engines — with the day
    pair as deterministic tiebreak; oracle re-ranks independently."""
    from ..operators import stats as st

    ev = _t(spark, sf_dir, "events")
    d = F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000")
    evd = ev.select("event_type", "ts", "event_id", d.alias("d"))
    mm = evd.agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    evm = evd.crossJoin(F.broadcast(mm))
    base = evm.select(F.col("event_type").alias("k"), "ts")
    up = (evm.where((F.col("event_id") % 60)
                    < 2 * (F.col("d") - F.col("dmin")))
          .select(F.lit("ramp_up").alias("k"), "ts"))
    down = (evm.where((F.col("event_id") % 60)
                      < 2 * (F.col("dmax") - F.col("d")))
            .select(F.lit("ramp_down").alias("k"), "ts"))
    return st.theil_sen_slope(base.unionAll(up).unionAll(down),
                              key_col="k")


SQL_THEIL_SEN = """
WITH mm AS (SELECT min(epoch_us(ts) // 86400000000) AS dmin,
                   max(epoch_us(ts) // 86400000000) AS dmax FROM events),
src AS (
  SELECT event_type AS k, ts FROM events
  UNION ALL
  SELECT 'ramp_up', ts FROM events, mm
  WHERE event_id % 60 < 2 * (epoch_us(ts) // 86400000000 - dmin)
  UNION ALL
  SELECT 'ramp_down', ts FROM events, mm
  WHERE event_id % 60 < 2 * (dmax - epoch_us(ts) // 86400000000)),
daily AS (SELECT k, epoch_us(ts) // 86400000000 AS d,
                 CAST(count(*) AS BIGINT) AS c
          FROM src GROUP BY 1, 2),
sp AS (SELECT k, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
grid AS (SELECT sp.k, d0 + u.i AS d
         FROM sp, UNNEST(range(d1 - d0 + 1)) AS u(i)),
cd AS (SELECT g.k, g.d, coalesce(dl.c, 0) AS c
       FROM grid g LEFT JOIN daily dl ON dl.k = g.k AND dl.d = g.d),
pr AS (SELECT a.k, a.d AS da, b.d AS db,
              b.c - a.c AS num, b.d - a.d AS den
       FROM cd a JOIN cd b ON a.k = b.k AND b.d > a.d),
rk AS (SELECT k, da, db, num, den,
              row_number() OVER (
                PARTITION BY k
                ORDER BY CAST(num AS DOUBLE) / CAST(den AS DOUBLE) ASC,
                         da, db) AS rn,
              count(*) OVER (PARTITION BY k) AS m
       FROM pr)
SELECT rk.k, CAST(sp.d1 - sp.d0 + 1 AS BIGINT) AS n_days,
       CAST(m AS BIGINT) AS n_pairs,
       CAST(num AS BIGINT) AS med_num, CAST(den AS BIGINT) AS med_den,
       CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1000.0
                  + 0.5) AS BIGINT) AS slope_milli
FROM rk JOIN sp ON sp.k = rk.k
WHERE rn = (m + 1) // 2
"""


def q_quadkey_tiles(spark, sf_dir):
    """Bing/Azure quadkey interop (functions/geo.quadkey_col): the z12
    tile of every page as the base-4 quadkey string (parent = prefix —
    pytest-pinned), alongside x/y. Engine-shared digit formula; zero
    shuffle."""
    pts = _points_df(spark, sf_dir)
    tiles = geo.with_point_tiles(pts, F.lit(12))
    return tiles.select(
        "doc_id", F.col("x").cast("bigint").alias("x"),
        F.col("y").cast("bigint").alias("y"),
        geo.quadkey_col(12, F.col("x"), F.col("y")).alias("qk"))


_QK_TX, _QK_TY = _tile_xy_sql("12")
_QK_DIGITS = " || ".join(
    f"substr('0123', CAST((x // {1 << (12 - i)}) % 2 "
    f"+ 2 * ((y // {1 << (12 - i)}) % 2) AS INT) + 1, 1)"
    for i in range(1, 13))
SQL_QUADKEY_TILES = f"""
WITH {POINTS_CTE},
t AS (SELECT doc_id, {_QK_TX} AS x, {_QK_TY} AS y FROM pts)
SELECT doc_id, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       {_QK_DIGITS} AS qk
FROM t
"""


def q_ring_thin(spark, sf_dir):
    """Map generalization (geometry.thin_ring_vertices): one-pass
    Visvalingam thinning of per-document octagon rings — big corners
    survive, 3-µdeg mid-edge bumps drop at the 100k-µdeg² threshold,
    every 5th document's 500-µdeg bumps survive, and every 11th
    document's micro-ring fires the keep-all degeneracy guard. Oracle
    re-derives neighbors and the raw-coordinate cross product with its
    own modular self-joins."""
    from ..operators import geometry as gm

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    lng, lat = geo.point_udeg_cols(did)
    r = (F.when(did % 11 == 0, 4).otherwise(2000)
         .cast("bigint"))
    b = (F.when(did % 11 == 0, 2)
         .when(did % 5 == 0, 500).otherwise(3).cast("bigint"))
    base = docs.select(did.alias("poly_id"), lng.alias("cx"),
                       lat.alias("cy"), r.alias("r"), b.alias("b"))
    cxs = [F.col("cx") - F.col("r"), F.col("cx"),
           F.col("cx") + F.col("r"), F.col("cx") + F.col("r")
           + F.col("b"), F.col("cx") + F.col("r"), F.col("cx"),
           F.col("cx") - F.col("r"),
           F.col("cx") - F.col("r") - F.col("b")]
    cys = [F.col("cy") - F.col("r"), F.col("cy") - F.col("r")
           - F.col("b"), F.col("cy") - F.col("r"), F.col("cy"),
           F.col("cy") + F.col("r"), F.col("cy") + F.col("r")
           + F.col("b"), F.col("cy") + F.col("r"), F.col("cy")]
    verts = F.array(*[F.struct(cxs[j].alias("x"), cys[j].alias("y"))
                      for j in range(8)])
    ring = base.select(
        "poly_id", F.lit(0).cast("bigint").alias("ring"),
        F.posexplode(verts).alias("idx", "v")).select(
        "poly_id", "ring", F.col("idx").cast("bigint").alias("idx"),
        F.col("v.x").alias("x_udeg"), F.col("v.y").alias("y_udeg"))
    return gm.thin_ring_vertices(ring, area2_min=100_000)


SQL_RING_THIN = f"""
WITH base AS (
  SELECT doc_id AS poly_id,
         {_POINTS_SQL_LNG} AS cx, {_POINTS_SQL_LAT} AS cy,
         CASE WHEN doc_id % 11 = 0 THEN 4 ELSE 2000 END AS r,
         CASE WHEN doc_id % 11 = 0 THEN 2
              WHEN doc_id % 5 = 0 THEN 500 ELSE 3 END AS b
  FROM documents),
v AS (
  SELECT poly_id, CAST(0 AS BIGINT) AS ring, CAST(u.i AS BIGINT) AS idx,
         CAST(CASE u.i
           WHEN 0 THEN cx - r  WHEN 1 THEN cx
           WHEN 2 THEN cx + r  WHEN 3 THEN cx + r + b
           WHEN 4 THEN cx + r  WHEN 5 THEN cx
           WHEN 6 THEN cx - r  ELSE cx - r - b END AS BIGINT) AS x,
         CAST(CASE u.i
           WHEN 0 THEN cy - r  WHEN 1 THEN cy - r - b
           WHEN 2 THEN cy - r  WHEN 3 THEN cy
           WHEN 4 THEN cy + r  WHEN 5 THEN cy + r + b
           WHEN 6 THEN cy + r  ELSE cy END AS BIGINT) AS y
  FROM base, UNNEST(range(8)) AS u(i)),
tri AS (
  SELECT c.poly_id, c.ring, c.idx, c.x, c.y,
         abs((c.x - p.x) * (n.y - p.y)
             - (n.x - p.x) * (c.y - p.y)) AS area2_tri
  FROM v c
  JOIN v p ON p.poly_id = c.poly_id AND p.idx = (c.idx + 7) % 8
  JOIN v n ON n.poly_id = c.poly_id AND n.idx = (c.idx + 1) % 8),
flg AS (
  SELECT *,
         sum(CASE WHEN area2_tri >= 100000 THEN 1 ELSE 0 END)
             OVER (PARTITION BY poly_id) AS n_keep
  FROM tri)
SELECT poly_id, ring, idx, x AS x_udeg, y AS y_udeg,
       CAST(area2_tri AS BIGINT) AS area2_tri
FROM flg
WHERE area2_tri >= 100000 OR n_keep < 3
"""


def q_pareto_front(spark, sf_dir):
    """2-D skyline (stats.pareto_front): per language, documents no
    other document beats on BOTH length and the derived score — the
    multi-objective shortlist. The operator runs the windowed
    (group, x)-relation algorithm; the ORACLE is the quadratic
    NOT-EXISTS dominance self-join the operator exists to avoid —
    independent formulations of the same set."""
    from ..operators import stats as st

    docs = _t(spark, sf_dir, "documents")
    d = (docs.where(F.col("lang").isNotNull())
         .select("lang", "doc_id",
                 F.col("n_chars").cast("bigint").alias("x"),
                 ((F.col("doc_id") * 37) % 1000).alias("y")))
    return st.pareto_front(d, "lang", "x", "y")


SQL_PARETO_FRONT = """
WITH d AS (
  SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS x,
         CAST((doc_id * 37) % 1000 AS BIGINT) AS y
  FROM documents WHERE lang IS NOT NULL)
SELECT lang, doc_id, x, y FROM d p
WHERE NOT EXISTS (
  SELECT 1 FROM d q
  WHERE q.lang = p.lang AND q.x >= p.x AND q.y >= p.y
    AND (q.x > p.x OR q.y > p.y))
"""


def q_negative_samples(spark, sf_dir):
    """Contrastive negative sampling (sampling.negative_samples): 5
    hash-ring negatives per query over 37 deterministic query groups
    (positives = the group's own documents) — candidates generated
    directly on the ring, NEVER a per-query corpus scan; positives
    removed by one anti-join. Oracle mirrors the ring arithmetic and
    re-derives exclusion/ranking with NOT EXISTS + an independent
    window."""
    from ..operators import sampling as sp

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    positives = docs.select((F.col("doc_id") % 37).alias("query_id"),
                            "doc_id")
    return sp.negative_samples(positives, k=5, n_docs=n)


SQL_NEGATIVE_SAMPLES = """
WITH nn AS (SELECT count(*) AS n FROM documents),
pos AS (SELECT doc_id % 37 AS q, doc_id AS d FROM documents),
qs AS (SELECT DISTINCT q FROM pos),
h AS (SELECT q, CAST(concat('0x', substr(md5(CAST(q AS VARCHAR)
             || ':neg'), 1, 15)) AS BIGINT) AS h
      FROM qs),
cand AS (SELECT q, CAST(j.i AS BIGINT) AS j,
                (h + j.i * 2654435761) % nn.n AS cand
         FROM h, nn, UNNEST(range(9)) AS j(i)),
dd AS (SELECT q, cand, min(j) AS j FROM cand GROUP BY 1, 2),
neg AS (SELECT * FROM dd
        WHERE NOT EXISTS (SELECT 1 FROM pos
                          WHERE pos.q = dd.q AND pos.d = dd.cand))
SELECT q AS query_id,
       CAST(row_number() OVER w AS BIGINT) AS rank,
       CAST(cand AS BIGINT) AS neg_id
FROM neg
WINDOW w AS (PARTITION BY q ORDER BY j, cand)
QUALIFY row_number() OVER w <= 5
"""


def q_prefix_completions(spark, sf_dir):
    """Autocomplete index (retrieval.prefix_completions): top-3
    completions per character prefix (1..8) of each document's leading
    bigram — distinct queries counted once before the bounded prefix
    explode. Oracle re-derives with UNNEST(range)+substr and an
    independent window."""
    from ..operators import retrieval as rt

    docs = _t(spark, sf_dir, "documents")
    q = F.regexp_extract(F.col("text"), r"^(\w+ \w+)", 1)
    return rt.prefix_completions(docs.select(q.alias("q")),
                                 min_len=1, max_len=8, top_k=3)


SQL_PREFIX_COMPLETIONS = """
WITH q0 AS (SELECT regexp_extract(text, '^(\\w+ \\w+)', 1) AS q
            FROM documents),
c AS (SELECT q, CAST(count(*) AS BIGINT) AS n
      FROM q0 WHERE q IS NOT NULL AND length(q) >= 1 GROUP BY 1),
p AS (SELECT substr(q, 1, CAST(u.i AS INT)) AS prefix, q, n
      FROM c, UNNEST(range(1, least(length(q), 8) + 1)) AS u(i))
SELECT prefix, q, n, CAST(row_number() OVER w AS BIGINT) AS rank
FROM p
WINDOW w AS (PARTITION BY prefix ORDER BY n DESC, q)
QUALIFY row_number() OVER w <= 3
"""


def q_snippet_extract(spark, sf_dir):
    """KWIC snippets (retrieval.snippet_extract): every non-overlapping
    'customer' occurrence with 12 chars of context — the search-results
    highlighter as one map-side regexp_extract_all + posexplode (zero
    shuffle, plan-asserted). Oracle shares the greedy leftmost-first
    pattern and indexes occurrences via range(len)."""
    from ..operators import retrieval as rt

    docs = _t(spark, sf_dir, "documents")
    return rt.snippet_extract(docs, term="customer", context=12)


SQL_SNIPPET_EXTRACT = """
WITH s AS (SELECT doc_id,
                  regexp_extract_all(text,
                      '(.{0,12}customer.{0,12})', 1) AS sn
           FROM documents)
SELECT doc_id, CAST(u.i AS BIGINT) AS idx, sn[u.i + 1] AS snippet
FROM s, UNNEST(range(len(sn))) AS u(i)
"""


_SDX_NAMES = ["Robert", "Rupert", "Ashcraft", "Ashcroft", "Tymczak",
              "Pfister", "Honeyman", "Smith", "Smyth", "Schmidt",
              "Johnson", "Jonson"]


def q_soundex_blocking(spark, sf_dir):
    """Phonetic ER blocking (dedup.soundex_col): American Soundex keys
    over a name column drawn from the canonical Archives examples —
    Smith/Smyth, Ashcraft/Ashcroft (h/w rule), Tymczak (vowel
    separation), Pfister (first-letter collapse) land in shared blocks.
    The identical translate/replace arithmetic runs in the oracle;
    pytest separately pins parity with Spark's BUILTIN soundex."""
    from ..operators import dedup as dd

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    name = F.element_at(F.array(*[F.lit(n) for n in _SDX_NAMES]),
                        (did % 12 + 1).cast("int"))
    return dd.soundex_blocking_keys(
        docs.select("doc_id", name.alias("name")))


def _soundex_sql_chain() -> str:
    from ..operators.dedup import _SOUNDEX_FROM, _SOUNDEX_TO

    collapsed = "digits"
    for _ in range(3):
        for d in "0123456":
            collapsed = f"replace({collapsed}, '{d + d}', '{d}')"
    names = ", ".join(f"'{n}'" for n in _SDX_NAMES)
    return f"""
WITH names AS (
  SELECT doc_id, ([{names}])[CAST(doc_id % 12 + 1 AS INT)] AS name
  FROM documents),
n1 AS (SELECT doc_id, name, upper(trim(name)) AS u FROM names),
n2 AS (SELECT doc_id, name, substr(u, 1, 1) AS first,
              translate(translate(u, 'HW', ''),
                        '{_SOUNDEX_FROM}', '{_SOUNDEX_TO}') AS digits
       FROM n1),
n3 AS (SELECT doc_id, name, first, {collapsed} AS collapsed FROM n2),
n4 AS (SELECT doc_id, name, first,
              CASE WHEN first IN ('H', 'W') THEN collapsed
                   ELSE substr(collapsed, 2, 64) END AS tail_src
       FROM n3)
SELECT doc_id, name,
       substr(rpad(first || translate(tail_src, '0', ''), 4, '0'),
              1, 4) AS sdx
FROM n4
"""


SQL_SOUNDEX_BLOCKING = _soundex_sql_chain()


def q_covisit_pairs(spark, sf_dir):
    """Session co-visitation (temporal.covisit_pairs): unordered event-
    type pairs by the number of distinct sessions containing both (gap
    rule shared with the sessionize gate), the item-item collaborative
    filtering primitive. Oracle re-derives sessions with split
    brk/cumsum CTEs and the distinct-pair self-join."""
    from ..operators import temporal as tp

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull()))
    return tp.covisit_pairs(ev, min_sessions=2)


SQL_COVISIT_PAIRS = """
WITH ev AS (SELECT user_id AS u, event_type AS item, ts, event_id
            FROM events WHERE user_id IS NOT NULL),
brk AS (SELECT u, item, ts, event_id,
        CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
               OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
             THEN 1 ELSE 0 END AS b
        FROM ev WINDOW w AS (PARTITION BY u ORDER BY ts, event_id)),
sess AS (SELECT u, item,
                sum(b) OVER (PARTITION BY u ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
         FROM brk),
items AS (SELECT DISTINCT u, sid, item FROM sess)
SELECT a.item AS item_a, b.item AS item_b,
       CAST(count(*) AS BIGINT) AS n_sessions
FROM items a
JOIN items b ON a.u = b.u AND a.sid = b.sid AND a.item < b.item
GROUP BY 1, 2
HAVING count(*) >= 2
"""


def q_rolling_distinct(spark, sf_dir):
    """Exact rolling 7-day active users (temporal.rolling_distinct):
    the cover-explode formulation (active day -> at most 7 covered
    window ends, two distincts, one count) vs the oracle's day-grid x
    BETWEEN count(DISTINCT) — the quadratic-rescan formulation the
    operator exists to avoid."""
    from ..operators import temporal as tp

    ev = _t(spark, sf_dir, "events")
    return tp.rolling_distinct(ev, key_col="event_type",
                               window_days=7)


SQL_ROLLING_DISTINCT = """
WITH act AS (SELECT DISTINCT event_type AS k, user_id AS usr,
                    epoch_us(ts) // 86400000000 AS d
             FROM events WHERE user_id IS NOT NULL),
sp AS (SELECT k, min(d) AS d0, max(d) AS d1 FROM act GROUP BY 1),
days AS (SELECT sp.k, d0 + u.i AS day
         FROM sp, UNNEST(range(d1 - d0 + 1)) AS u(i))
SELECT d.k AS event_type, CAST(d.day AS BIGINT) AS day,
       CAST(count(DISTINCT a.usr) AS BIGINT) AS n_users
FROM days d
JOIN act a ON a.k = d.k AND a.d BETWEEN d.day - 6 AND d.day
GROUP BY 1, 2
"""


def q_table_stats(spark, sf_dir):
    """Catalog column statistics (sources/layout.table_stats): one-pass
    ANALYZE over four event columns — exact NDV via Spark's Expand,
    min/max stringified into the uniform stats schema. Oracle is the
    per-column UNION ALL restatement."""
    from ..sources import layout as ly

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        _cents("value").alias("v_cents"))
    return ly.table_stats(ev, ["event_id", "user_id", "event_type",
                               "v_cents"])


def _table_stats_sql() -> str:
    parts = []
    for c in ["event_id", "user_id", "event_type", "v_cents"]:
        parts.append(f"""
SELECT '{c}' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count({c}) AS BIGINT) AS n_nonnull,
       CAST(count(DISTINCT {c}) AS BIGINT) AS ndv,
       CAST(min({c}) AS VARCHAR) AS vmin,
       CAST(max({c}) AS VARCHAR) AS vmax
FROM ev""")
    return (f"WITH ev AS (SELECT event_id, user_id, event_type, "
            f"{_cents_sql('value')} AS v_cents FROM events)"
            + " UNION ALL ".join(parts))


SQL_TABLE_STATS = _table_stats_sql()


def q_ring_orient(spark, sf_dir):
    """Winding normalization (geometry.orient_rings): per-document
    square exteriors and triangle holes built with mixed orientations
    (exterior reversed when doc_id is odd; hole left CCW — the WRONG
    hole winding — when doc_id % 3 = 0); the operator re-indexes to
    OGC convention (exterior CCW, holes CW). Oracle re-derives the
    shoelace sign and the reversal arithmetic independently."""
    from ..operators import geometry as gm

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    lng, lat = geo.point_udeg_cols(did)
    base = docs.select(did.alias("poly_id"), lng.alias("cx"),
                       lat.alias("cy"), (did % 2).alias("m2"),
                       (did % 3).alias("m3"))
    sq = [(0, 0), (1000, 0), (1000, 1000), (0, 1000)]
    tri = [(200, 200), (600, 200), (200, 600)]

    def ring_df(pts, ring_no, rev_when):
        n = len(pts)
        elems = []
        for j, (dx, dy) in enumerate(pts):
            idx = (F.when(rev_when, F.lit((n - j) % n))
                   .otherwise(F.lit(j)))
            elems.append(F.struct(
                idx.cast("bigint").alias("idx"),
                (F.col("cx") + dx).alias("x"),
                (F.col("cy") + dy).alias("y")))
        return base.select(
            "poly_id", F.lit(ring_no).cast("bigint").alias("ring"),
            F.explode(F.array(*elems)).alias("v")).select(
            "poly_id", "ring", F.col("v.idx").alias("idx"),
            F.col("v.x").alias("x_udeg"), F.col("v.y").alias("y_udeg"))

    outer = ring_df(sq, 0, F.col("m2") == 1)
    hole = ring_df(tri, 1, F.col("m3") != 0)
    return gm.orient_rings(outer.unionAll(hole))


SQL_RING_ORIENT = f"""
WITH base AS (
  SELECT doc_id AS poly_id, {_POINTS_SQL_LNG} AS cx,
         {_POINTS_SQL_LAT} AS cy,
         doc_id % 2 AS m2, doc_id % 3 AS m3
  FROM documents),
v AS (
  SELECT poly_id, CAST(0 AS BIGINT) AS ring,
         CAST(CASE WHEN m2 = 1 THEN (4 - u.i) % 4 ELSE u.i END
              AS BIGINT) AS idx,
         CAST(cx + CASE u.i WHEN 0 THEN 0 WHEN 1 THEN 1000
                            WHEN 2 THEN 1000 ELSE 0 END AS BIGINT) AS x,
         CAST(cy + CASE u.i WHEN 0 THEN 0 WHEN 1 THEN 0
                            WHEN 2 THEN 1000 ELSE 1000 END AS BIGINT) AS y
  FROM base, UNNEST(range(4)) AS u(i)
  UNION ALL
  SELECT poly_id, CAST(1 AS BIGINT),
         CAST(CASE WHEN m3 <> 0 THEN (3 - u.i) % 3 ELSE u.i END
              AS BIGINT),
         CAST(cx + CASE u.i WHEN 0 THEN 200 WHEN 1 THEN 600
                            ELSE 200 END AS BIGINT),
         CAST(cy + CASE u.i WHEN 0 THEN 200 WHEN 1 THEN 200
                            ELSE 600 END AS BIGINT)
  FROM base, UNNEST(range(3)) AS u(i)),
sh AS (SELECT poly_id, ring, idx, x, y,
              count(*) OVER (PARTITION BY poly_id, ring) AS n,
              x - min(x) OVER (PARTITION BY poly_id, ring) AS xl,
              y - min(y) OVER (PARTITION BY poly_id, ring) AS yl
       FROM v),
ar AS (SELECT a.poly_id, a.ring,
              CAST(sum(a.xl * b.yl - b.xl * a.yl) AS BIGINT) AS area2
       FROM sh a JOIN sh b
         ON b.poly_id = a.poly_id AND b.ring = a.ring
        AND b.idx = (a.idx + 1) % a.n
       GROUP BY 1, 2),
fl AS (SELECT sh.poly_id, sh.ring, sh.idx, sh.x, sh.y, sh.n,
              CASE WHEN sh.ring = 0 THEN ar.area2 < 0
                   ELSE ar.area2 > 0 END AS flipped
       FROM sh JOIN ar ON ar.poly_id = sh.poly_id AND ar.ring = sh.ring)
SELECT poly_id, ring,
       CAST(CASE WHEN flipped THEN (n - idx) % n ELSE idx END
            AS BIGINT) AS idx,
       x AS x_udeg, y AS y_udeg,
       CAST(CASE WHEN flipped THEN 1 ELSE 0 END AS INT) AS flipped
FROM fl
"""


def q_pair_eval(spark, sf_dir):
    """Dedup evaluation harness (dedup.pair_eval): precision / recall /
    F1 of simhash@hamming<=6 candidate pairs against exact 3-gram
    Jaccard>=0.5 truth — the threshold-tuning measurement loop. One
    full-outer pair join + one aggregate; oracle re-derives both pair
    relations with its own formulations (brute-force hamming self-join;
    capped-shingle Jaccard) and counts via independent CASE sums."""
    from ..operators import dedup as ddp

    docs = _t(spark, sf_dir, "documents")
    pred = ddp.simhash_near_pairs(docs, max_hamming=6)
    truth = ddp.ngram_jaccard_pairs(docs, n=3, threshold=0.5,
                                    max_df=NGRAM_MAX_DF)
    return ddp.pair_eval(pred, truth)


SQL_PAIR_EVAL = f"""
WITH pred AS (SELECT doc_a, doc_b FROM ({_simhash_near_sql(6)}) sp),
truth AS (SELECT doc_a, doc_b FROM ({SQL_NGRAM_JACCARD}) st),
m AS (SELECT p.doc_a IS NOT NULL AS in_p, t.doc_a IS NOT NULL AS in_t
      FROM pred p FULL OUTER JOIN truth t
        ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b),
agg AS (SELECT
  CAST(sum(CASE WHEN in_p THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
  CAST(sum(CASE WHEN in_t THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
  CAST(sum(CASE WHEN in_p AND in_t THEN 1 ELSE 0 END) AS BIGINT) AS tp,
  CAST(sum(CASE WHEN in_p AND NOT in_t THEN 1 ELSE 0 END) AS BIGINT)
      AS fp,
  CAST(sum(CASE WHEN NOT in_p AND in_t THEN 1 ELSE 0 END) AS BIGINT)
      AS fn
  FROM m)
SELECT n_pred, n_truth, tp, fp, fn,
       CAST(CASE WHEN n_pred > 0 THEN 1000000 * tp // n_pred END
            AS BIGINT) AS precision_ppm,
       CAST(CASE WHEN n_truth > 0 THEN 1000000 * tp // n_truth END
            AS BIGINT) AS recall_ppm,
       CAST(CASE WHEN n_pred > 0 AND n_truth > 0
                  AND (1000000 * tp // n_pred)
                      + (1000000 * tp // n_truth) > 0
                 THEN 2 * (1000000 * tp // n_pred)
                      * (1000000 * tp // n_truth)
                      // ((1000000 * tp // n_pred)
                          + (1000000 * tp // n_truth))
            END AS BIGINT) AS f1_ppm
FROM agg
"""


def q_sentence_chunks(spark, sf_dir):
    """RAG chunking (text.sentence_chunks): documents given
    deterministic sentence terminators (every 'value' ends a sentence,
    every 'fast' an exclamation), split on the consuming [^.!?]+[.!?]*
    pattern and packed into 16-token chunks by the end-position bucket
    rule. Oracle re-derives with range-indexed unnest + an ORDER
    BY-string_agg."""
    from ..operators import text as tx2

    docs = _t(spark, sf_dir, "documents")
    t2 = F.replace(F.replace(F.col("text"), F.lit("value"),
                             F.lit("value.")),
                   F.lit("fast"), F.lit("fast!"))
    return tx2.sentence_chunks(
        docs.select("doc_id", t2.alias("text")), chunk_tokens=16)


SQL_SENTENCE_CHUNKS = """
WITH d AS (SELECT doc_id,
                  replace(replace(text, 'value', 'value.'),
                          'fast', 'fast!') AS t
           FROM documents),
ar AS (SELECT doc_id,
              regexp_extract_all(t, '[^.!?]+[.!?]*', 0) AS arr
       FROM d),
se AS (SELECT doc_id, CAST(u.i AS BIGINT) AS sid,
              trim(arr[u.i + 1]) AS s
       FROM ar, UNNEST(range(len(arr))) AS u(i)),
tk AS (SELECT doc_id, sid, s,
              CAST(len(list_filter(regexp_split_to_array(s, '\\s+'),
                                   x -> x <> '')) AS BIGINT) AS nt
       FROM se WHERE s <> ''),
cm AS (SELECT doc_id, sid, s, nt,
              sum(nt) OVER (PARTITION BY doc_id ORDER BY sid
                            ROWS UNBOUNDED PRECEDING) AS cum
       FROM tk)
SELECT doc_id, CAST((cum - 1) // 16 AS BIGINT) AS chunk_id,
       CAST(count(*) AS BIGINT) AS n_sentences,
       CAST(sum(nt) AS BIGINT) AS n_tokens,
       string_agg(s, ' ' ORDER BY sid) AS chunk_text
FROM cm GROUP BY 1, 2
"""


def q_cell_stats(spark, sf_dir):
    """Grid-index tuning (skew.cell_occupancy_stats): occupancy
    distribution of the page points at three candidate cell sizes —
    exact p95 via the count-of-counts cumulative rule; the oracle ranks
    raw cells with row_number + a correlated min — independent
    mechanics for the same order statistic."""
    from ..operators import skew as sk

    pts = _points_df(spark, sf_dir)
    return sk.cell_occupancy_stats(pts, [15000, 60000, 240000])


SQL_CELL_STATS = f"""
WITH {POINTS_CTE},
sz AS (SELECT unnest([15000, 60000, 240000]) AS s),
oc AS (SELECT s, CAST(floor(lng_udeg / s) AS BIGINT) AS cx,
              CAST(floor(lat_udeg / s) AS BIGINT) AS cy,
              CAST(count(*) AS BIGINT) AS occ
       FROM pts, sz GROUP BY 1, 2, 3),
st AS (SELECT s, CAST(count(*) AS BIGINT) AS n_cells,
              CAST(sum(occ) AS BIGINT) AS n_points,
              CAST(max(occ) AS BIGINT) AS max_occ
       FROM oc GROUP BY 1),
rk AS (SELECT s, occ,
              row_number() OVER (PARTITION BY s ORDER BY occ) AS rn
       FROM oc)
SELECT CAST(st.s AS BIGINT) AS cell_udeg, n_points, n_cells, max_occ,
       CAST(1000 * n_points // n_cells AS BIGINT) AS mean_milli,
       CAST((SELECT min(occ) FROM rk
             WHERE rk.s = st.s
               AND rn >= (95 * st.n_cells + 99) // 100) AS BIGINT)
           AS p95_occ
FROM st
"""


def q_mi_assoc(spark, sf_dir):
    """Mutual information (stats.mutual_information): MI between
    language and the 200-char length bucket in integer micro-nats —
    each cell's c·ln(cN/(rs)) quantized BEFORE the sum (the
    token_entropy discipline) so the aggregate is associative. Oracle
    mirrors the fixed op order over its own contingency CTEs."""
    from ..operators import stats as st

    docs = _t(spark, sf_dir, "documents")
    d = (docs.where(F.col("lang").isNotNull()
                    & F.col("n_chars").isNotNull())
         .select(F.col("lang").alias("a"),
                 F.expr("n_chars div 200").alias("b")))
    return st.mutual_information(d, "a", "b")


SQL_MI_ASSOC = """
WITH base AS (SELECT lang AS a, n_chars // 200 AS b FROM documents
              WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c
          FROM base GROUP BY 1, 2),
ra AS (SELECT a, CAST(sum(c) AS BIGINT) AS r FROM cells GROUP BY 1),
cb AS (SELECT b, CAST(sum(c) AS BIGINT) AS s FROM cells GROUP BY 1),
nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
j AS (SELECT cells.c, ra.r, cb.s, nn.n
      FROM cells JOIN ra USING (a) JOIN cb USING (b), nn),
t AS (SELECT CAST(floor(CAST(c AS DOUBLE)
                 * ln(CAST(c AS DOUBLE) * CAST(n AS DOUBLE)
                      / (CAST(r AS DOUBLE) * CAST(s AS DOUBLE)))
                 * 1000000.0 + 0.5) AS BIGINT) AS term, n
      FROM j)
SELECT CAST(max(n) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(term) AS BIGINT) AS mi_sum_micro,
       CAST(sum(term) // max(n) AS BIGINT) AS mi_micro_nats
FROM t
"""


def q_json_key_stats(spark, sf_dir):
    """JSON schema inference (sources/layout.json_key_stats): per-doc
    synthetic JSON sidecars with mixed types (int id, string name,
    float score on 1/3 of docs, bool flag on 1/5, explicit null on
    1/11) profiled into (key, vtype, n, share_ppm). Spark walks a
    from_json map; the oracle walks json_keys()/json_extract_string()
    — independent JSON machinery, shared anchored type-regex ladder."""
    from ..sources import layout as ly

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    js = F.concat(
        F.lit('{"id": '), did.cast("string"),
        F.lit(', "name": "w'), (did % 17).cast("string"), F.lit('"'),
        F.when(did % 3 == 0,
               F.concat(F.lit(', "score": '), (did % 7).cast("string"),
                        F.lit(".5"))).otherwise(F.lit("")),
        F.when(did % 5 == 0,
               F.concat(F.lit(', "flag": '),
                        F.when(did % 2 == 0, F.lit("true"))
                        .otherwise(F.lit("false")))).otherwise(F.lit("")),
        F.when(did % 11 == 0, F.lit(', "note": null'))
        .otherwise(F.lit("")),
        F.lit("}"))
    return ly.json_key_stats(docs.select(js.alias("props")),
                             json_col="props")


SQL_JSON_KEY_STATS = """
WITH j AS (
  SELECT '{"id": ' || CAST(doc_id AS VARCHAR)
         || ', "name": "w' || CAST(doc_id % 17 AS VARCHAR) || '"'
         || CASE WHEN doc_id % 3 = 0
                 THEN ', "score": ' || CAST(doc_id % 7 AS VARCHAR)
                      || '.5' ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ', "flag": ' || CASE WHEN doc_id % 2 = 0
                                           THEN 'true' ELSE 'false' END
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN ', "note": null' ELSE '' END
         || '}' AS js
  FROM documents),
k AS (SELECT js, unnest(json_keys(js)) AS key FROM j),
v AS (SELECT key, json_extract_string(js, '$.' || key) AS val FROM k),
t AS (SELECT key,
             CASE WHEN val IS NULL THEN 'null'
                  WHEN regexp_matches(val, '^-?[0-9]+$') THEN 'int'
                  WHEN regexp_matches(val, '^-?[0-9]+\\.[0-9]+$')
                      THEN 'float'
                  WHEN val IN ('true', 'false') THEN 'bool'
                  ELSE 'string' END AS vtype
      FROM v),
c AS (SELECT key, vtype, CAST(count(*) AS BIGINT) AS n
      FROM t GROUP BY 1, 2),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM j)
SELECT key, vtype, n,
       CAST(1000000 * sum(n) OVER (PARTITION BY key) // nn.n_rows
            AS BIGINT) AS share_ppm
FROM c, nn
"""


def q_token_windows(spark, sf_dir):
    """Long-document windows (text.token_windows): 12-token windows at
    stride 8 over the lowercased token stream — the HF overflowing-
    tokens layout, map-side only. Oracle re-derives with range +
    list_slice indexing."""
    from ..operators import text as tx2

    docs = _t(spark, sf_dir, "documents")
    return tx2.token_windows(docs, window=12, stride=8)


SQL_TOKEN_WINDOWS = """
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)),
                                           '[^A-Za-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents),
w AS (SELECT doc_id, CAST(u.i AS BIGINT) AS win_id,
             CAST(u.i * 8 AS BIGINT) AS start_tok, t
      FROM tk, UNNEST(range((len(t) + 7) // 8)) AS u(i)
      WHERE len(t) > 0),
p AS (SELECT doc_id, win_id, start_tok,
             list_slice(t, CAST(start_tok + 1 AS INT),
                        CAST(least(start_tok + 12, len(t)) AS INT))
                 AS piece
      FROM w)
SELECT doc_id, win_id, start_tok,
       CAST(len(piece) AS BIGINT) AS n_tokens,
       array_to_string(piece, ' ') AS window_text
FROM p
"""


def q_bootstrap_ci(spark, sf_dir):
    """Poisson bootstrap (stats.bootstrap_mean_ci): 95% CI for the
    mean event value via 40 deterministic Poisson(1)-weighted
    replicates — all replicates in ONE explode + partial agg (the
    Chamandy distributed-bootstrap shape). Shared CDF threshold
    constants; the oracle re-derives replicate means and rank bounds
    with its own windows."""
    from ..operators import stats as st

    ev = _t(spark, sf_dir, "events").select(
        "event_id", _cents("value").alias("v_cents"))
    return st.bootstrap_mean_ci(ev, "v_cents", id_col="event_id",
                                n_resamples=40)


def _bootstrap_sql() -> str:
    from ..operators.stats import POISSON1_T60 as T

    w_case = (f"CASE WHEN h < {T[0]} THEN 0 WHEN h < {T[1]} THEN 1 "
              f"WHEN h < {T[2]} THEN 2 WHEN h < {T[3]} THEN 3 "
              f"WHEN h < {T[4]} THEN 4 ELSE 5 END")
    return f"""
WITH base AS (SELECT event_id AS id, {_cents_sql('value')} AS x
              FROM events WHERE value IS NOT NULL),
rep AS (SELECT b.i AS b, x,
               CAST(concat('0x', substr(md5(CAST(id AS VARCHAR)
                    || ':bs' || CAST(b.i AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
        FROM base, UNNEST(range(40)) AS b(i)),
wm AS (SELECT b, {w_case} AS w, x FROM rep),
mns AS (SELECT b, CAST(1000 * sum(w * x) // sum(w) AS BIGINT) AS m
        FROM wm GROUP BY b HAVING sum(w) > 0),
rk AS (SELECT m, b, row_number() OVER (ORDER BY m, b) AS rn,
              count(*) OVER () AS nb
       FROM mns),
bounds AS (SELECT
    max(CASE WHEN rn = greatest(1, ceil(nb * 25000 / 1000000))
             THEN m END) AS lo,
    max(CASE WHEN rn = greatest(1, ceil(nb * 975000 / 1000000))
             THEN m END) AS hi,
    CAST(max(nb) AS BIGINT) AS n_resamples
  FROM rk),
full_s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(1000 * sum(x) // count(*) AS BIGINT) AS mean_milli
           FROM base)
SELECT n, mean_milli, n_resamples,
       CAST(lo AS BIGINT) AS lo_milli, CAST(hi AS BIGINT) AS hi_milli
FROM full_s, bounds
"""


SQL_BOOTSTRAP_CI = _bootstrap_sql()


def q_gini_split(spark, sf_dir):
    """Decision stump (stats.gini_best_split): exact best threshold of
    the milli-quantized first embedding coordinate for the binarized
    class label, by weighted Gini over the distinct-value relation.
    The impurity argmin is ONE struct-min fold; the oracle re-ranks
    candidates with its own window."""
    from ..operators import stats as st

    emb = _t(spark, sf_dir, "embeddings")
    d = emb.select(
        F.floor(F.element_at(F.col("embedding"), 1).cast("double")
                * F.lit(1000.0) + F.lit(0.5)).cast("bigint").alias("f"),
        (F.col("label") < 5).cast("int").alias("y"))
    return st.gini_best_split(d, "f", "y")


SQL_GINI_SPLIT = """
WITH d AS (
  SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000.0 + 0.5)
              AS BIGINT) AS f,
         CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
  FROM embeddings
  WHERE embedding IS NOT NULL AND label IS NOT NULL),
vals AS (SELECT f AS v, CAST(count(*) AS BIGINT) AS c,
                CAST(sum(y) AS BIGINT) AS a
         FROM d GROUP BY 1),
cum AS (SELECT v, c, a,
               sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS nl,
               sum(a) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS al,
               sum(c) OVER () AS n, sum(a) OVER () AS ap
        FROM vals),
sc AS (SELECT v, nl, al, n, ap,
              ((CAST(nl AS DOUBLE)
                - (CAST(al AS DOUBLE) * CAST(al AS DOUBLE)
                   + CAST(nl - al AS DOUBLE) * CAST(nl - al AS DOUBLE))
                  / CAST(nl AS DOUBLE))
               + (CAST(n - nl AS DOUBLE)
                  - (CAST(ap - al AS DOUBLE) * CAST(ap - al AS DOUBLE)
                     + CAST((n - nl) - (ap - al) AS DOUBLE)
                       * CAST((n - nl) - (ap - al) AS DOUBLE))
                    / CAST(n - nl AS DOUBLE)))
              / CAST(n AS DOUBLE) AS g
       FROM cum WHERE nl < n)
SELECT CAST(n AS BIGINT) AS n, CAST(ap AS BIGINT) AS n_pos,
       CAST(v AS BIGINT) AS thr, CAST(nl AS BIGINT) AS n_left,
       CAST(al AS BIGINT) AS pos_left,
       CAST(n - nl AS BIGINT) AS n_right,
       CAST(ap - al AS BIGINT) AS pos_right,
       CAST(floor(g * 1000.0 + 0.5) AS BIGINT) AS gini_milli
FROM sc
QUALIFY row_number() OVER (ORDER BY g, v) = 1
"""


def q_cohens_kappa(spark, sf_dir):
    """Inter-annotator agreement (stats.cohens_kappa): rater A = lang,
    rater B = lang with every 7th document corrupted to 'xx' — kappa
    strictly between 0 and 1, chance floor from the margin products.
    Oracle re-derives the contingency, margins and the fixed-op-order
    kappa independently."""
    from ..operators import stats as st

    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        F.col("lang").alias("ra"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("xx"))
        .otherwise(F.col("lang")).alias("rb"))
    return st.cohens_kappa(d, "ra", "rb")


SQL_COHENS_KAPPA = """
WITH d AS (SELECT lang AS ra,
                  CASE WHEN doc_id % 7 = 0 THEN 'xx' ELSE lang END AS rb
           FROM documents
           WHERE lang IS NOT NULL),
cells AS (SELECT ra, rb, CAST(count(*) AS BIGINT) AS c
          FROM d GROUP BY 1, 2),
ra AS (SELECT ra AS k, CAST(sum(c) AS BIGINT) AS r
       FROM cells GROUP BY 1),
cb AS (SELECT rb AS k, CAST(sum(c) AS BIGINT) AS s
       FROM cells GROUP BY 1),
pe AS (SELECT CAST(coalesce(sum(r * s), 0) AS BIGINT) AS pe_num
       FROM ra JOIN cb USING (k)),
base AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                CAST(sum(CASE WHEN ra = rb THEN c ELSE 0 END) AS BIGINT)
                    AS n_agree
         FROM cells)
SELECT n, n_agree, pe_num,
       CAST(CASE WHEN n * n <> pe_num THEN
         floor(CAST(n * n_agree - pe_num AS DOUBLE)
               / CAST(n * n - pe_num AS DOUBLE) * 1000.0 + 0.5)
       END AS BIGINT) AS kappa_milli
FROM base, pe
"""


def q_power_iteration(spark, sf_dir):
    """Spectral diagnostic (similarity.power_iteration_top): two
    integer-renormalized power-iteration rounds for the dominant
    direction of the embedding matrix — each matvec one join + one
    partial agg over the long form, scalar maxes folded back as 1-row
    broadcasts (the HITS discipline). Oracle unrolls the identical
    arithmetic."""
    from ..operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    return sim.power_iteration_top(emb, dim=64, iters=2)


_PI_ITER = """
u{t}r AS (SELECT id, CAST(sum(x * {vin}.v) AS BIGINT) AS u
          FROM xl JOIN {vin} USING (d) GROUP BY 1),
u{t}m AS (SELECT max(abs(u)) AS um FROM u{t}r),
u{t} AS (SELECT id, CASE WHEN um > 0 THEN 1000 * u // um
                         ELSE 0 END AS uq
         FROM u{t}r, u{t}m),
w{t}r AS (SELECT d, CAST(sum(x * uq) AS BIGINT) AS w
          FROM xl JOIN u{t} USING (id) GROUP BY 1),
w{t}m AS (SELECT max(abs(w)) AS wm FROM w{t}r),
v{t} AS (SELECT d, CAST(CASE WHEN wm > 0 THEN 1000000 * w // wm
                             ELSE 0 END AS BIGINT) AS v
         FROM w{t}r, w{t}m)"""

SQL_POWER_ITERATION = ("""
WITH xl AS (
  SELECT vec_id AS id, CAST(u.i AS INT) AS d,
         CAST(floor(CAST(embedding[u.i + 1] AS DOUBLE) * 1000.0 + 0.5)
              AS BIGINT) AS x
  FROM embeddings, UNNEST(range(64)) AS u(i)
  WHERE embedding IS NOT NULL),
v0 AS (SELECT CAST(u.i AS INT) AS d, CAST(1000000 AS BIGINT) AS v
       FROM UNNEST(range(64)) AS u(i)),"""
                       + _PI_ITER.format(t=1, vin="v0") + ","
                       + _PI_ITER.format(t=2, vin="v1") + """
SELECT CAST(d AS BIGINT) AS d, v AS v_e6 FROM v2
""")


def q_mix_plan(spark, sf_dir):
    """Training-mix water-filling (sampling.mix_waterfill): allocate a
    60%-of-corpus token budget across languages by first-letter-derived
    weights — scarce languages saturate (whole availability taken),
    the rest split the residue at the exact rational water level.
    Saturation decided by the cross-multiplied integer test; oracle
    re-derives the sorted prefix condition with its own windows."""
    from ..operators import sampling as sp

    docs = _t(spark, sf_dir, "documents").where(
        F.col("lang").isNotNull())
    src = (docs.groupBy("lang")
           .agg(F.sum("n_chars").cast("bigint").alias("avail"))
           .select(F.col("lang").alias("source"), "avail",
                   (F.ascii(F.substring(F.col("lang"), 1, 1)) - 96)
                   .cast("bigint").alias("weight")))
    # r6 OPTIMIZATION (VERDICT r5 #3): the 60%-of-corpus budget scalar
    # folds in LAZILY as a 1-row aggregate relation (broadcast crossJoin
    # inside mix_waterfill) instead of an eager driver collect() that
    # forced a full extra pass over documents at plan-build time.
    # (sum * 3) div 5 == int(total) * 3 // 5 for the non-negative sum.
    budget = docs.agg(F.expr(
        "(coalesce(sum(n_chars), 0) * 3) div 5").cast("bigint")
        .alias("__budget"))
    out = sp.mix_waterfill(src, budget)
    return out.withColumn("saturated",
                          F.col("saturated").cast("int"))


SQL_MIX_PLAN = """
WITH src AS (SELECT lang AS source, CAST(sum(n_chars) AS BIGINT) AS a,
                    CAST(ascii(substr(lang, 1, 1)) - 96 AS BIGINT) AS w
             FROM documents WHERE lang IS NOT NULL GROUP BY lang),
bb AS (SELECT CAST(sum(n_chars) AS BIGINT) * 3 // 5 AS b
       FROM documents WHERE lang IS NOT NULL),
ordr AS (SELECT source, a, w,
                coalesce(sum(a) OVER (
                  ORDER BY CAST(a AS DOUBLE) / CAST(w AS DOUBLE), source
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS cum_a,
                sum(w) OVER (
                  ORDER BY CAST(a AS DOUBLE) / CAST(w AS DOUBLE), source
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                    AS w_rest
         FROM src),
fl AS (SELECT ordr.*, a * w_rest <= (bb.b - cum_a) * w AS sat
       FROM ordr, bb),
lv AS (SELECT bb.b - coalesce(sum(CASE WHEN sat THEN a END), 0) AS lam_n,
              coalesce(sum(CASE WHEN NOT sat THEN w END), 0) AS lam_d
       FROM fl, bb GROUP BY bb.b)
SELECT source, a AS avail, w AS weight,
       CAST(sat AS INT) AS saturated,
       CAST(CASE WHEN sat THEN a
                 WHEN lam_d > 0 THEN lam_n * w // lam_d
                 ELSE 0 END AS BIGINT) AS quota
FROM fl, lv
"""


def q_calibration(spark, sf_dir):
    """Reliability bins (stats.calibration_bins): embedding coordinate
    3 mapped to a milli confidence, label binarized — per-bin counts,
    mean confidence, observed rate (ECE derives in pytest). One
    partial agg; oracle mirrors the bin arithmetic."""
    from ..operators import stats as st

    emb = _t(spark, sf_dir, "embeddings")
    s = F.least(F.lit(1000), F.greatest(F.lit(0), F.floor(
        F.element_at(F.col("embedding"), 3).cast("double")
        * F.lit(1000.0) + F.lit(500.0)))).cast("bigint")
    d = emb.select(s.alias("score_milli"),
                   (F.col("label") < 5).cast("int").alias("y"))
    return st.calibration_bins(d, "score_milli", "y", n_bins=10)


SQL_CALIBRATION = """
WITH d AS (
  SELECT least(1000, greatest(0,
           CAST(floor(CAST(embedding[3] AS DOUBLE) * 1000.0 + 500.0)
                AS BIGINT))) AS s,
         CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
  FROM embeddings
  WHERE embedding IS NOT NULL AND label IS NOT NULL)
SELECT CAST(least(s * 10 // 1000, 9) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(y) AS BIGINT) AS n_pos,
       CAST(sum(s) // count(*) AS BIGINT) AS conf_milli,
       CAST(1000 * sum(y) // count(*) AS BIGINT) AS rate_milli
FROM d GROUP BY 1
"""


def q_ndcg_eval(spark, sf_dir):
    """Ranking quality (retrieval.ndcg_at_k): nDCG@5 of deterministic
    per-query result lists against judged relevance grades covering
    retrieved AND unretrieved documents (the normalization's point).
    Per-position gains ln-ratio-quantized to micro units before the
    sums; oracle re-derives the ideal ordering with its own window."""
    from ..operators import retrieval as rt

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    qs = spark.range(0, 10).select(F.col("id").alias("query_id"))
    results = qs.select(
        "query_id",
        F.explode(F.sequence(F.lit(1), F.lit(5))).alias("rank")) \
        .select("query_id", "rank",
                ((F.col("query_id") * 17 + F.col("rank") * 13)
                 % F.lit(n)).alias("doc_id"))
    rels = qs.select(
        "query_id",
        F.explode(F.sequence(F.lit(1), F.lit(8))).alias("m")) \
        .select("query_id",
                ((F.col("query_id") * 17 + F.col("m") * 13)
                 % F.lit(n)).alias("doc_id"),
                ((F.col("query_id") + F.col("m")) % 4).alias("rel"))
    return rt.ndcg_at_k(results, rels, k=5)


SQL_NDCG_EVAL = """
WITH nn AS (SELECT count(*) AS n FROM documents),
res AS (SELECT q.i AS query_id, r.i + 1 AS rank,
               (q.i * 17 + (r.i + 1) * 13) % nn.n AS doc_id
        FROM UNNEST(range(10)) AS q(i), UNNEST(range(5)) AS r(i), nn),
rel AS (SELECT q.i AS query_id,
               (q.i * 17 + (m.i + 1) * 13) % nn.n AS doc_id,
               (q.i + m.i + 1) % 4 AS rel
        FROM UNNEST(range(10)) AS q(i), UNNEST(range(8)) AS m(i), nn),
dcg AS (SELECT res.query_id,
               CAST(sum(floor(CAST(rel AS DOUBLE)
                    / (ln(CAST(rank AS DOUBLE) + 1.0) / ln(2.0))
                    * 1000000.0 + 0.5)) AS BIGINT) AS dcg_micro
        FROM res JOIN rel USING (query_id, doc_id)
        WHERE rank <= 5 GROUP BY 1),
ideal AS (SELECT query_id,
                 CAST(sum(floor(CAST(rel AS DOUBLE)
                      / (ln(CAST(irk AS DOUBLE) + 1.0) / ln(2.0))
                      * 1000000.0 + 0.5)) AS BIGINT) AS idcg_micro
          FROM (SELECT query_id, rel,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY rel DESC, doc_id)
                           AS irk
                FROM rel WHERE rel > 0) t
          WHERE irk <= 5 GROUP BY 1)
SELECT i.query_id,
       CAST(coalesce(d.dcg_micro, 0) AS BIGINT) AS dcg_micro,
       i.idcg_micro,
       CAST(CASE WHEN i.idcg_micro > 0
                 THEN 1000 * coalesce(d.dcg_micro, 0) // i.idcg_micro
            END AS BIGINT) AS ndcg_milli
FROM ideal i LEFT JOIN dcg d ON d.query_id = i.query_id
"""


def q_auc_roc(spark, sf_dir):
    """Exact tie-aware ROC AUC (stats.auc_roc): the Mann-Whitney rank
    formulation over the (score, n, positives) COUNT relation — milli
    embedding coordinate 5 scoring the binarized label. Oracle ranks
    each ROW via rank()+tie-count windows (the spearman_corr
    independence pattern)."""
    from ..operators import stats as st

    emb = _t(spark, sf_dir, "embeddings")
    d = emb.select(
        F.floor(F.element_at(F.col("embedding"), 5).cast("double")
                * F.lit(1000.0) + F.lit(0.5)).cast("bigint").alias("s"),
        (F.col("label") < 5).cast("int").alias("y"))
    return st.auc_roc(d, "s", "y")


SQL_AUC_ROC = """
WITH d AS (
  SELECT CAST(floor(CAST(embedding[5] AS DOUBLE) * 1000.0 + 0.5)
              AS BIGINT) AS s,
         CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
  FROM embeddings
  WHERE embedding IS NOT NULL AND label IS NOT NULL),
rk AS (SELECT y,
              2 * rank() OVER (ORDER BY s)
                + count(*) OVER (PARTITION BY s) - 1 AS r2
       FROM d),
agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS p,
               CAST(sum(CASE WHEN y = 1 THEN r2 ELSE 0 END) AS BIGINT)
                   AS rp
        FROM rk)
SELECT n, p AS n_pos,
       CAST(rp - p * (p + 1) AS BIGINT) AS num,
       CAST(2 * p * (n - p) AS BIGINT) AS den,
       CAST(CASE WHEN 2 * p * (n - p) > 0 THEN
         floor(CAST(rp - p * (p + 1) AS DOUBLE)
               / CAST(2 * p * (n - p) AS DOUBLE) * 1000000.0 + 0.5)
       END AS BIGINT) AS auc_micro
FROM agg
"""


def q_survival_km(spark, sf_dir):
    """Kaplan-Meier churn curve (temporal.survival_km): per-user
    first-to-last-activity spans in days; users still active on the
    corpus's final day are CENSORED (evidence, not events). Log-
    survival carried as quantized integer micro-nats; oracle re-derives
    risk sets and the curve with its own windows."""
    from ..operators import temporal as tp

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull()))
    h = F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000")
    per_key = (ev.select("user_id", "event_type", h.alias("h"))
               .groupBy("user_id", "event_type")
               .agg(F.min("h").alias("h0"), F.max("h").alias("h1")))
    mx = per_key.agg(F.max("h1").alias("hmax"))
    spans = (per_key.crossJoin(F.broadcast(mx))
             .select((F.col("h1") - F.col("h0")).alias("duration"),
                     (F.col("h1") < F.col("hmax") - 24).cast("int")
                     .alias("event")))
    return tp.survival_km(spans)


SQL_SURVIVAL_KM = """
WITH pu AS (SELECT user_id, event_type,
                   min(epoch_us(ts) // 3600000000) AS h0,
                   max(epoch_us(ts) // 3600000000) AS h1
            FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
mx AS (SELECT max(h1) AS hmax FROM pu),
sp AS (SELECT h1 - h0 AS t,
              CASE WHEN h1 < mx.hmax - 24 THEN 1 ELSE 0 END AS e
       FROM pu, mx),
cells AS (SELECT t, CAST(count(*) AS BIGINT) AS c_tot,
                 CAST(sum(e) AS BIGINT) AS d
          FROM sp GROUP BY 1),
cum AS (SELECT t, c_tot, d,
               coalesce(sum(c_tot) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS gone,
               sum(c_tot) OVER () AS n_all
        FROM cells),
tm AS (SELECT t, c_tot, d, n_all - gone AS n_risk,
              CASE WHEN d < n_all - gone THEN
                CAST(floor(ln(1.0 - CAST(d AS DOUBLE)
                     / CAST(n_all - gone AS DOUBLE)) * 1000000.0 + 0.5)
                     AS BIGINT)
              END AS term
       FROM cum),
cv AS (SELECT t, c_tot, d, n_risk,
              max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS dead,
              sum(term) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                  AS ln_s0
       FROM tm)
SELECT CAST(t AS BIGINT) AS t, CAST(n_risk AS BIGINT) AS n_at_risk,
       d AS d_events, CAST(c_tot - d AS BIGINT) AS n_censored,
       CAST(CASE WHEN dead = 0 THEN ln_s0 END AS BIGINT) AS ln_s_micro,
       CAST(CASE WHEN dead = 0 THEN
              floor(exp(CAST(ln_s0 AS DOUBLE) / 1000000.0) * 1000000.0
                    + 0.5)
            ELSE 0 END AS BIGINT) AS s_micro
FROM cv WHERE d > 0
"""


def q_viewport_topk(spark, sf_dir):
    """The serving-path composition (tile assign × salted top-k): the
    z14 viewport x∈[14552,14556], y∈[6448,6452] — per visible tile the
    top-2 pages by derived score, through the SALTED cap_per_group
    path (result-invariance vs the oracle's plain window is the
    point). This is the query a map front-end issues on every pan."""
    from ..operators import sampling as sp

    pts = _points_df(spark, sf_dir)
    tiles = geo.with_point_tiles(pts, F.lit(14))
    scored = (tiles.where(F.col("x").between(14552, 14556)
                          & F.col("y").between(6448, 6452))
              .select("doc_id", F.col("x").cast("bigint").alias("x"),
                      F.col("y").cast("bigint").alias("y"),
                      ((F.col("doc_id") * 37) % 1000).alias("score"))
              .withColumn("txy", F.col("x") * 100000 + F.col("y")))
    top = sp.cap_per_group(scored, "txy", 2,
                           order_by=[(-F.col("score"))],
                           key_col="doc_id", skew_salts=4)
    return top.select("x", "y", "doc_id", F.col("score").cast("bigint")
                      .alias("score"))


_VP_TX, _VP_TY = _tile_xy_sql("14")
SQL_VIEWPORT_TOPK = f"""
WITH {POINTS_CTE},
t AS (SELECT doc_id, {_VP_TX} AS x, {_VP_TY} AS y FROM pts),
v AS (SELECT doc_id, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
             CAST((doc_id * 37) % 1000 AS BIGINT) AS score
      FROM t
      WHERE x BETWEEN 14552 AND 14556 AND y BETWEEN 6448 AND 6452)
SELECT x, y, doc_id, score
FROM v
QUALIFY row_number() OVER (PARTITION BY x, y
                           ORDER BY score DESC, doc_id) <= 2
"""


def q_tile_diversity(spark, sf_dir):
    """Per-tile source monoculture detector (stats.simpson_diversity):
    exact Simpson concentration/diversity ppm of LANGUAGES per z12
    tile — a pure integer rational where Shannon entropy needs logs.
    Two partial aggs; oracle recomputes the rational independently."""
    from ..operators import stats as st

    docs = _t(spark, sf_dir, "documents")
    lng, lat = geo.point_udeg_cols(F.col("doc_id"))
    pts = docs.select("doc_id", "lang", lng, lat)
    tiles = geo.with_point_tiles(pts, F.lit(12))
    d = tiles.select(
        (F.col("x").cast("bigint") * 100000
         + F.col("y").cast("bigint")).alias("txy"), "lang")
    return st.simpson_diversity(d, "txy", "lang")


_TD_TX, _TD_TY = _tile_xy_sql("12")
SQL_TILE_DIVERSITY = f"""
WITH {POINTS_CTE},
t AS (SELECT p.doc_id, d.lang, {_TD_TX} AS x, {_TD_TY} AS y
      FROM pts p JOIN documents d ON d.doc_id = p.doc_id),
g AS (SELECT CAST(x AS BIGINT) * 100000 + CAST(y AS BIGINT) AS txy,
             lang
      FROM t WHERE lang IS NOT NULL),
cells AS (SELECT txy, lang, CAST(count(*) AS BIGINT) AS c
          FROM g GROUP BY 1, 2),
agg AS (SELECT txy, CAST(sum(c) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_cats,
               CAST(sum(c * (c - 1)) AS BIGINT) AS num
        FROM cells GROUP BY 1)
SELECT txy, n, n_cats,
       CAST(CASE WHEN n > 1 THEN 1000000 * num // (n * (n - 1)) END
            AS BIGINT) AS concentration_ppm,
       CAST(CASE WHEN n > 1
                 THEN 1000000 - 1000000 * num // (n * (n - 1)) END
            AS BIGINT) AS diversity_ppm
FROM agg
"""


def q_mad_outliers(spark, sf_dir):
    """Robust outliers (stats.mad_outlier_flags): per event type, flag
    values beyond 1.5 MAD from the exact type-1 median — both medians
    from count-relation machinery, the decision a pure integer
    cross-multiplication. Oracle re-derives both order statistics with
    its own cumulative rank CTEs."""
    from ..operators import stats as st

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", _cents("value").alias("v_cents"))
    return st.mad_outlier_flags(ev, "event_type", "v_cents",
                                key_col="event_id", k_milli=1500)


SQL_MAD_OUTLIERS = f"""
WITH base AS (SELECT event_id AS k, event_type AS g,
                     {_cents_sql('value')} AS x
              FROM events WHERE value IS NOT NULL),
vc AS (SELECT g, x AS v, CAST(count(*) AS BIGINT) AS c
       FROM base GROUP BY 1, 2),
vr AS (SELECT g, v,
              sum(c) OVER (PARTITION BY g ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS cum,
              sum(c) OVER (PARTITION BY g) AS n
       FROM vc),
med AS (SELECT g, min(v) AS med FROM vr
        WHERE cum >= (n + 1) // 2 GROUP BY 1),
dev AS (SELECT b.k, b.g, b.x, m.med, abs(b.x - m.med) AS ad
        FROM base b JOIN med m ON m.g = b.g),
ac AS (SELECT g, ad AS v, CAST(count(*) AS BIGINT) AS c
       FROM dev GROUP BY 1, 2),
ar AS (SELECT g, v,
              sum(c) OVER (PARTITION BY g ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS cum,
              sum(c) OVER (PARTITION BY g) AS n
       FROM ac),
mad AS (SELECT g, min(v) AS mad FROM ar
        WHERE cum >= (n + 1) // 2 GROUP BY 1)
SELECT d.k AS event_id, d.g AS event_type, d.x AS v_cents,
       CAST(d.med AS BIGINT) AS med, CAST(a.mad AS BIGINT) AS mad,
       CAST(CASE WHEN 1000 * d.ad > 1500 * a.mad THEN 1 ELSE 0 END
            AS INT) AS outlier
FROM dev d JOIN mad a ON a.g = d.g
"""


def q_impute_median(spark, sf_dir):
    """Median imputation (stats.impute_group_median): every 9th
    event's value nulled then refilled with its type's exact median;
    the imputed flag marks exactly the refilled rows. Oracle
    re-derives the median with its own rank CTE and coalesces."""
    from ..operators import stats as st

    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        "event_id", "event_type",
        F.when(F.col("event_id") % 9 == 0, F.lit(None))
        .otherwise(_cents("value")).alias("v_cents"))
    return st.impute_group_median(d, "event_type", "v_cents")


SQL_IMPUTE_MEDIAN = f"""
WITH d AS (SELECT event_id, event_type,
                  CASE WHEN event_id % 9 = 0 THEN NULL
                       ELSE {_cents_sql('value')} END AS v
           FROM events),
vc AS (SELECT event_type AS g, v, CAST(count(*) AS BIGINT) AS c
       FROM d WHERE v IS NOT NULL GROUP BY 1, 2),
vr AS (SELECT g, v,
              sum(c) OVER (PARTITION BY g ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS cum,
              sum(c) OVER (PARTITION BY g) AS n
       FROM vc),
med AS (SELECT g, min(v) AS med FROM vr
        WHERE cum >= (n + 1) // 2 GROUP BY 1)
SELECT d.event_id, d.event_type,
       CAST(coalesce(d.v, m.med) AS BIGINT) AS v_cents,
       CAST(CASE WHEN d.v IS NULL AND m.med IS NOT NULL
                 THEN 1 ELSE 0 END AS INT) AS imputed
FROM d LEFT JOIN med m ON m.g = d.event_type
"""


def q_class_report(spark, sf_dir):
    """Multiclass eval (stats.classification_report): language
    prediction with every 5th document mispredicted as 'en' — per-class
    tp/precision/recall/F1 in exact ppm. Oracle re-derives the
    contingency margins independently."""
    from ..operators import stats as st

    docs = _t(spark, sf_dir, "documents").where(
        F.col("lang").isNotNull())
    d = docs.select(
        F.col("lang").alias("t"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("en"))
        .otherwise(F.col("lang")).alias("p"))
    return st.classification_report(d, "t", "p")


SQL_CLASS_REPORT = """
WITH d AS (SELECT lang AS t,
                  CASE WHEN doc_id % 5 = 0 THEN 'en' ELSE lang END AS p
           FROM documents WHERE lang IS NOT NULL),
cells AS (SELECT t, p, CAST(count(*) AS BIGINT) AS c
          FROM d GROUP BY 1, 2),
r AS (SELECT t AS label, CAST(sum(c) AS BIGINT) AS n_true
      FROM cells GROUP BY 1),
cl AS (SELECT p AS label, CAST(sum(c) AS BIGINT) AS n_pred
       FROM cells GROUP BY 1),
dg AS (SELECT t AS label, CAST(c AS BIGINT) AS tp
       FROM cells WHERE t = p),
m AS (SELECT coalesce(r.label, cl.label) AS label,
             coalesce(n_true, 0) AS n_true,
             coalesce(n_pred, 0) AS n_pred
      FROM r FULL OUTER JOIN cl ON r.label = cl.label),
j AS (SELECT m.label, m.n_true, m.n_pred, coalesce(dg.tp, 0) AS tp
      FROM m LEFT JOIN dg ON dg.label = m.label),
pr AS (SELECT label, n_true, n_pred, tp,
              CASE WHEN n_pred > 0 THEN 1000000 * tp // n_pred END
                  AS precision_ppm,
              CASE WHEN n_true > 0 THEN 1000000 * tp // n_true END
                  AS recall_ppm
       FROM j)
SELECT label, n_true, n_pred, tp,
       CAST(precision_ppm AS BIGINT) AS precision_ppm,
       CAST(recall_ppm AS BIGINT) AS recall_ppm,
       CAST(CASE WHEN precision_ppm IS NOT NULL
                  AND recall_ppm IS NOT NULL
                  AND precision_ppm + recall_ppm > 0
                 THEN 2 * precision_ppm * recall_ppm
                      // (precision_ppm + recall_ppm)
            END AS BIGINT) AS f1_ppm
FROM pr
"""


def q_random_walks(spark, sf_dir):
    """Graph-embedding corpus (graph.random_walks): 3-step md5-random
    walks from every 25th page over the deterministic link graph — the
    DeepWalk sequence generator, each step one join + one min(struct)
    argmin fold. Oracle unrolls the steps with row_number windows over
    the same hash order."""
    from ..operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    edges = gr.synthetic_link_edges(docs, n)
    seeds = (docs.where(F.col("doc_id") % 25 == 0)
             .select(F.col("doc_id").alias("walk_id"),
                     F.col("doc_id").alias("node")))
    return gr.random_walks(seeds, edges, steps=3)


def _rw_step_sql(t: int, prev: str) -> str:
    h = (f"CAST(concat('0x', substr(md5(CAST(walk_id AS VARCHAR) "
         f"|| ':{t}:' || CAST(e.dst AS VARCHAR)), 1, 15)) AS BIGINT)")
    return f"""
n{t} AS (SELECT walk_id, node FROM (
  SELECT {prev}.walk_id, e.dst AS node,
         row_number() OVER (PARTITION BY {prev}.walk_id
                            ORDER BY {h}, e.dst) AS rn
  FROM {prev} JOIN e ON e.src = {prev}.node) t{t}
  WHERE rn = 1)"""


SQL_RANDOM_WALKS = ("""
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
s0 AS (SELECT doc_id AS walk_id, doc_id AS node FROM documents
       WHERE doc_id % 25 = 0),"""
                    + _rw_step_sql(1, "s0") + ","
                    + _rw_step_sql(2, "n1") + ","
                    + _rw_step_sql(3, "n2") + """
SELECT walk_id, CAST(0 AS BIGINT) AS step, CAST(node AS BIGINT) AS node
FROM s0
UNION ALL SELECT walk_id, 1, CAST(node AS BIGINT) FROM n1
UNION ALL SELECT walk_id, 2, CAST(node AS BIGINT) FROM n2
UNION ALL SELECT walk_id, 3, CAST(node AS BIGINT) FROM n3
""")


def q_dist_drift(spark, sf_dir):
    """Snapshot drift (stats.emd_1d): exact Wasserstein-1 between even
    event values (side a) and odd ones with purchases shifted +5.00
    (side b) — the numerator pure int64 over the merged value grid,
    one final double for milli units. Oracle re-derives CDFs and gaps
    with its own windows."""
    from ..operators import stats as st

    ev = _t(spark, sf_dir, "events")
    cents = _cents("value")
    d = ev.where(F.col("value").isNotNull()).select(
        F.when(F.col("event_id") % 2 == 0, F.lit("a"))
        .otherwise(F.lit("b")).alias("side"),
        (cents + F.when((F.col("event_id") % 2 == 1)
                        & (F.col("event_type") == "purchase"),
                        F.lit(500)).otherwise(F.lit(0))).alias("v"))
    return st.emd_1d(d, "side", "v")


SQL_DIST_DRIFT = f"""
WITH d AS (
  SELECT CASE WHEN event_id % 2 = 0 THEN 'a' ELSE 'b' END AS side,
         {_cents_sql('value')}
           + CASE WHEN event_id % 2 = 1 AND event_type = 'purchase'
                  THEN 500 ELSE 0 END AS v
  FROM events WHERE value IS NOT NULL),
base AS (SELECT v,
                CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END)
                     AS BIGINT) AS ca,
                CAST(sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END)
                     AS BIGINT) AS cb
         FROM d GROUP BY 1),
cum AS (SELECT v, ca, cb,
               sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                   AS cuma,
               sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                   AS cumb,
               sum(ca) OVER () AS na, sum(cb) OVER () AS nb,
               coalesce(lead(v) OVER (ORDER BY v) - v, 0) AS gap
        FROM base)
SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
       CAST(sum(abs(cuma * nb - cumb * na) * gap) AS BIGINT)
           AS emd_num,
       CAST(CASE WHEN max(na) > 0 AND max(nb) > 0 THEN
         floor(CAST(sum(abs(cuma * nb - cumb * na) * gap) AS DOUBLE)
               / (CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE))
               * 1000.0 + 0.5)
       END AS BIGINT) AS emd_milli
FROM cum
"""


def q_textrank(spark, sf_dir):
    """TextRank keywords (text.textrank_terms): PageRank over the
    symmetrized token-adjacency graph — the graph suite composing with
    the text suite on STRING node ids; top-10 terms by integer ppm
    score. Oracle unrolls the same two damped iterations over its own
    bigram CTEs."""
    from ..operators import text as tx2

    docs = _t(spark, sf_dir, "documents")
    return tx2.textrank_terms(docs, iters=2, k=10)


SQL_TEXTRANK = ("""
WITH toks AS (
  SELECT list_filter(regexp_split_to_array(lower(trim(text)),
                                           '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents),
pr0 AS (SELECT t[u.i + 1] AS a, t[u.i + 2] AS b
        FROM toks, UNNEST(range(greatest(len(t) - 1, 0))) AS u(i)),
e AS (SELECT DISTINCT src, dst FROM (
        SELECT a AS src, b AS dst FROM pr0 WHERE a <> b
        UNION ALL
        SELECT b, a FROM pr0 WHERE a <> b) q),
deg AS (SELECT src, count(*) AS out_degree FROM e GROUP BY 1),
s0 AS (SELECT DISTINCT src AS id, CAST(1000000 AS BIGINT) AS score
       FROM e),"""
                + _PR_ITER.format(i=1, p=0) + ","
                + _PR_ITER.format(i=2, p=1) + """
SELECT id AS term, CAST(score AS BIGINT) AS score_e6,
       CAST(row_number() OVER (ORDER BY score DESC, id) AS BIGINT)
           AS rank
FROM s2
QUALIFY row_number() OVER (ORDER BY score DESC, id) <= 10
""")


def q_sprt_monitor(spark, sf_dir):
    """Sequential A/B monitor (stats.sprt_monitor): H0 p=0.45 vs H1
    p=0.55 over the daily value>=50 rate — natural event types random-
    walk, two derived keys with 2:1 outcome filtering cross the Wald
    boundaries early. LLR increments and boundaries are shared micro
    constants; oracle re-derives daily cumsums and the first crossing
    with its own windows."""
    from ..operators import stats as st

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    pos = (_cents("value") >= 3500).cast("int")
    base = ev.select(F.col("event_type").alias("k"), "ts",
                     pos.alias("pos"), "event_id")
    up = (base.where((F.col("pos") == 1) | (F.col("event_id") % 2 == 0))
          .select(F.lit("biased_up").alias("k"), "ts", "pos"))
    down = (base.where((F.col("pos") == 0)
                       | (F.col("event_id") % 2 == 0))
            .select(F.lit("biased_down").alias("k"), "ts", "pos"))
    # perfectly alternating outcomes: |LLR| never leaves the band ->
    # the still-running (decision 0) branch provably fires
    bal = base.select(F.lit("balanced").alias("k"), "ts",
                      (F.col("event_id") % 2).cast("int").alias("pos"))
    allk = (base.select("k", "ts", "pos")
            .unionAll(up).unionAll(down).unionAll(bal))
    return st.sprt_monitor(allk, "k", "ts", "pos",
                           llr_pos_micro=200671,
                           llr_neg_micro=-200671,
                           boundary_micro=2944439)


SQL_SPRT_MONITOR = f"""
WITH ev AS (SELECT event_type, ts, event_id,
                   CASE WHEN {_cents_sql('value')} >= 3500
                        THEN 1 ELSE 0 END AS pos
            FROM events WHERE value IS NOT NULL),
src AS (
  SELECT event_type AS k, ts, pos FROM ev
  UNION ALL
  SELECT 'biased_up', ts, pos FROM ev
  WHERE pos = 1 OR event_id % 2 = 0
  UNION ALL
  SELECT 'biased_down', ts, pos FROM ev
  WHERE pos = 0 OR event_id % 2 = 0
  UNION ALL
  SELECT 'balanced', ts, CAST(event_id % 2 AS INT) FROM ev),
daily AS (SELECT k, epoch_us(ts) // 86400000000 AS d,
                 CAST(sum(pos) AS BIGINT) AS p,
                 CAST(count(*) - sum(pos) AS BIGINT) AS ng
          FROM src GROUP BY 1, 2),
cum AS (SELECT k, d,
               sum(p * 200671 + ng * (-200671)) OVER (
                 PARTITION BY k ORDER BY d ROWS UNBOUNDED PRECEDING)
                   AS llr
        FROM daily),
hit AS (SELECT k, d, llr,
               CASE WHEN llr >= 2944439 THEN 1
                    WHEN llr <= -2944439 THEN -1 ELSE 0 END AS h
        FROM cum),
agg AS (SELECT k, CAST(count(*) AS BIGINT) AS n_days,
               CAST(max_by(llr, d) AS BIGINT) AS llr_final_micro,
               CAST(min(CASE WHEN h <> 0 THEN d END) AS BIGINT)
                   AS decided_day
        FROM hit GROUP BY 1)
SELECT agg.k, n_days, llr_final_micro,
       CAST(coalesce(
         (SELECT h FROM hit WHERE hit.k = agg.k
          AND hit.d = agg.decided_day), 0) AS BIGINT) AS decision,
       decided_day
FROM agg
"""


def q_fk_candidates(spark, sf_dir):
    """Inclusion-dependency discovery (sources/layout.
    inclusion_coefficients): pairwise distinct-value containment
    between events.user_id, customer.c_custkey and orders.o_custkey —
    the FK-proposal profiling pass (o_custkey and user_id both fully
    contained in c_custkey). Oracle re-derives with its own distinct
    sets + joins."""
    from ..sources import layout as ly

    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    tagged = (ev.select(F.lit("user").alias("set_name"),
                        F.col("user_id").alias("v"))
              .unionAll(cust.select(F.lit("cust").alias("set_name"),
                                    F.col("c_custkey").alias("v")))
              .unionAll(orders.select(F.lit("ocust").alias("set_name"),
                                      F.col("o_custkey").alias("v"))))
    return ly.inclusion_coefficients(tagged)


SQL_FK_CANDIDATES = """
WITH d AS (
  SELECT DISTINCT 'user' AS s, user_id AS v FROM events
  WHERE user_id IS NOT NULL
  UNION
  SELECT DISTINCT 'cust', c_custkey FROM customer
  WHERE c_custkey IS NOT NULL
  UNION
  SELECT DISTINCT 'ocust', o_custkey FROM orders
  WHERE o_custkey IS NOT NULL),
sizes AS (SELECT s, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
common AS (SELECT a.s AS set_a, b.s AS set_b,
                  CAST(count(*) AS BIGINT) AS n_common
           FROM d a JOIN d b ON a.v = b.v AND a.s <> b.s
           GROUP BY 1, 2)
SELECT set_a, set_b, sizes.n AS n_a, n_common,
       CAST(1000000 * n_common // sizes.n AS BIGINT)
           AS containment_ppm
FROM common JOIN sizes ON sizes.s = set_a
"""


def q_assortativity(spark, sf_dir):
    """Degree assortativity (graph.degree_assortativity): Newman's r
    over the deterministic link graph as the exact rational
    (4M·Sjk − S1²)/(2M·S2 − S1²) from three int64 edge moments.
    Oracle re-derives degrees and moments with its own joins."""
    from ..operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    edges = gr.synthetic_link_edges(docs, n)
    return gr.degree_assortativity(edges)


SQL_ASSORTATIVITY = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
und AS (SELECT least(src, dst) AS u, greatest(src, dst) AS v
        FROM e GROUP BY 1, 2),
deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
          SELECT u AS id FROM und UNION ALL SELECT v FROM und) q
        GROUP BY 1),
j AS (SELECT du.d AS dj, dv.d AS dk
      FROM und JOIN deg du ON du.id = und.u
               JOIN deg dv ON dv.id = und.v),
agg AS (SELECT CAST(count(*) AS BIGINT) AS m_edges,
               CAST(sum(dj + dk) AS BIGINT) AS s1,
               CAST(sum(dj * dj + dk * dk) AS BIGINT) AS s2,
               CAST(sum(dj * dk) AS BIGINT) AS sjk
        FROM j)
SELECT m_edges, s1, s2, sjk,
       CAST(CASE WHEN 2 * m_edges * s2 - s1 * s1 <> 0 THEN
         floor(CAST(4 * m_edges * sjk - s1 * s1 AS DOUBLE)
               / CAST(2 * m_edges * s2 - s1 * s1 AS DOUBLE)
               * 1000.0 + 0.5)
       END AS BIGINT) AS r_milli
FROM agg
"""


def q_powerlaw_degrees(spark, sf_dir):
    """Power-law tail fit (stats.loglog_ols_fit): log-log OLS over the
    out-degree histogram of the link graph — alpha = -slope, the
    corpus-structure quick look. Per-point micro-quantized logs keep
    the moments integer; oracle mirrors the fixed op order over its
    own histogram CTEs."""
    from ..operators import graph as gr
    from ..operators import stats as st

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    edges = gr.synthetic_link_edges(docs, n)
    hist = (edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("degree"))
            .groupBy("degree")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
    return st.loglog_ols_fit(hist, x_col="degree", cnt_col="cnt")


SQL_POWERLAW_DEGREES = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
h AS (SELECT degree, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT src, count(*) AS degree FROM e GROUP BY 1) q
      GROUP BY 1),
pts AS (SELECT
  CAST(floor(ln(CAST(degree AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
      AS lx,
  CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
      AS ly
  FROM h WHERE degree > 0 AND cnt > 0),
m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(lx) AS BIGINT) AS sx,
             CAST(sum(ly) AS BIGINT) AS sy,
             CAST(sum(lx * ly) AS BIGINT) AS sxy,
             CAST(sum(lx * lx) AS BIGINT) AS sxx
      FROM pts)
SELECT n AS n_points,
       CAST(CASE WHEN n * sxx - sx * sx > 0 THEN
         floor(CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) * 1000.0 + 0.5)
       END AS BIGINT) AS slope_milli,
       CAST(CASE WHEN n * sxx - sx * sx > 0 THEN
         floor((CAST(sy AS DOUBLE)
                - CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE) / 1000000.0 * 1000.0 + 0.5)
       END AS BIGINT) AS intercept_milli
FROM m
"""


def q_attribution(spark, sf_dir):
    """Last-touch attribution (temporal.conversion_attribution): every
    purchase credits the user's latest preceding non-purchase event
    type ('direct' when none) — one ignorenulls window carry, one
    count, integer shares. Oracle re-derives with last_value IGNORE
    NULLS."""
    from ..operators import temporal as tp

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull()))
    return tp.conversion_attribution(ev, conv_type="purchase")


SQL_ATTRIBUTION = """
WITH ev AS (SELECT user_id, ts, event_id, event_type FROM events
            WHERE user_id IS NOT NULL),
car AS (SELECT event_type,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING) AS ch
        FROM ev),
conv AS (SELECT coalesce(ch, 'direct') AS channel FROM car
         WHERE event_type = 'purchase'),
counts AS (SELECT channel, CAST(count(*) AS BIGINT) AS n_conversions
           FROM conv GROUP BY 1),
tot AS (SELECT sum(n_conversions) AS t FROM counts)
SELECT channel, n_conversions,
       CAST(1000000 * n_conversions // tot.t AS BIGINT) AS share_ppm
FROM counts, tot
"""


def q_heaps_law(spark, sf_dir):
    """Vocabulary growth (text.heaps_law_fit): Heaps'-law beta from
    cumulative (tokens, vocab) at 10-doc ingest buckets — first-seen
    tokens bucketed by ingest position, cumsums over the BUCKET
    relation, then the shared log-log OLS. Oracle re-derives
    first-seens, buckets and the fit."""
    from ..operators import text as tx2

    docs = _t(spark, sf_dir, "documents")
    return tx2.heaps_law_fit(docs, bucket_docs=10)


SQL_HEAPS_LAW = """
WITH toks AS (
  SELECT doc_id AS d, u.tok FROM (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(trim(text)),
                                             '[^a-z0-9_]+'),
                       x -> x <> '') AS t
    FROM documents) q, UNNEST(t) AS u(tok)),
first AS (SELECT tok, min(d) AS fd FROM toks GROUP BY 1),
nv AS (SELECT fd // 10 AS bk, CAST(count(*) AS BIGINT) AS nv
       FROM first GROUP BY 1),
nt AS (SELECT d // 10 AS bk, CAST(count(*) AS BIGINT) AS nt
       FROM toks GROUP BY 1),
curve AS (SELECT nt.bk, nt.nt, coalesce(nv.nv, 0) AS nv
          FROM nt LEFT JOIN nv ON nv.bk = nt.bk),
cum AS (SELECT bk,
               sum(nt) OVER (ORDER BY bk ROWS UNBOUNDED PRECEDING)
                   AS t_cum,
               sum(nv) OVER (ORDER BY bk ROWS UNBOUNDED PRECEDING)
                   AS v_cum
        FROM curve),
pts AS (SELECT
  CAST(floor(ln(CAST(t_cum AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
      AS lx,
  CAST(floor(ln(CAST(v_cum AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
      AS ly
  FROM cum WHERE t_cum > 0 AND v_cum > 0),
m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(lx) AS BIGINT) AS sx,
             CAST(sum(ly) AS BIGINT) AS sy,
             CAST(sum(lx * ly) AS BIGINT) AS sxy,
             CAST(sum(lx * lx) AS BIGINT) AS sxx
      FROM pts)
SELECT n AS n_points,
       CAST(CASE WHEN n * sxx - sx * sx > 0 THEN
         floor(CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) * 1000.0 + 0.5)
       END AS BIGINT) AS slope_milli,
       CAST(CASE WHEN n * sxx - sx * sx > 0 THEN
         floor((CAST(sy AS DOUBLE)
                - CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE) / 1000000.0 * 1000.0 + 0.5)
       END AS BIGINT) AS intercept_milli
FROM m
"""


def q_fisher_scores(spark, sf_dir):
    """Embedding separability (similarity.fisher_scores): per-dimension
    Fisher discriminant of the binarized label over milli-quantized
    coordinates — exact per-class moments, one mirrored double chain.
    Oracle re-derives moments with its own pivot."""
    from ..operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", (F.col("label") < 5).cast("int")
        .alias("label"))
    return sim.fisher_scores(emb, dim=64)


SQL_FISHER_SCORES = """
WITH xl AS (
  SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
         CAST(u.i AS BIGINT) AS d,
         CAST(floor(CAST(embedding[u.i + 1] AS DOUBLE) * 1000.0 + 0.5)
              AS BIGINT) AS x
  FROM embeddings, UNNEST(range(64)) AS u(i)
  WHERE label IS NOT NULL AND embedding IS NOT NULL),
m AS (SELECT d, y, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM xl GROUP BY 1, 2),
j AS (SELECT p0.d, p0.n AS n0, p0.sx AS sx0, p0.sxx AS sxx0,
             p1.n AS n1, p1.sx AS sx1, p1.sxx AS sxx1
      FROM (SELECT * FROM m WHERE y = 0) p0
      JOIN (SELECT * FROM m WHERE y = 1) p1 USING (d))
SELECT d, n0, n1,
       CAST(CASE WHEN
         (CAST(sxx0 AS DOUBLE) / CAST(n0 AS DOUBLE)
          - (CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE))
            * (CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE)))
         + (CAST(sxx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            - (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE))
              * (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE))) > 0
       THEN floor(
         (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
          - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE))
         * (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE))
         / ((CAST(sxx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
             - (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE))
               * (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)))
            + (CAST(sxx0 AS DOUBLE) / CAST(n0 AS DOUBLE)
               - (CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                 * (CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE))))
         * 1000.0 + 0.5)
       END AS BIGINT) AS score_milli
FROM j
"""


def q_stable_uuids(spark, sf_dir):
    """Deterministic record ids (sources/layout.uuid3_ids): UUIDv3-
    format ids from namespaced document urls — version nibble 3,
    variant via the translate('0..f' -> '89ab…') trick. Map-side
    only; oracle mirrors the layout."""
    from ..sources import layout as ly

    docs = _t(spark, sf_dir, "documents")
    named = docs.select(
        "doc_id",
        F.concat(F.lit("https://"), F.col("source"), F.lit("/doc/"),
                 F.col("doc_id").cast("string")).alias("url"))
    return ly.uuid3_ids(named, "url").select("doc_id", "uid")


SQL_STABLE_UUIDS = """
WITH named AS (
  SELECT doc_id,
         'https://' || source || '/doc/' || CAST(doc_id AS VARCHAR)
             AS url
  FROM documents),
h AS (SELECT doc_id, md5('spark-graft:' || url) AS x FROM named)
SELECT doc_id,
       substr(x, 1, 8) || '-' || substr(x, 9, 4) || '-3'
       || substr(x, 14, 3) || '-'
       || translate(substr(x, 17, 1), '0123456789abcdef',
                    '89ab89ab89ab89ab')
       || substr(x, 18, 3) || '-' || substr(x, 21, 12) AS uid
FROM h
"""


def q_hurst(spark, sf_dir):
    """Traffic self-similarity (stats.hurst_variance_scaling): per-key
    Hurst exponent from bucket-sum variances at scales 1/2/4/8 days —
    per-(key, scale) ln(var) micro-quantized before the per-key OLS.
    Oracle mirrors grid, buckets, variance rationals and the fit."""
    from ..operators import stats as st

    ev = _t(spark, sf_dir, "events")
    return st.hurst_variance_scaling(ev, scales=(1, 2, 4, 8))


SQL_HURST = """
WITH daily AS (
  SELECT event_type AS k, epoch_us(ts) // 86400000000 AS d,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
sp AS (SELECT k, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
grid AS (SELECT sp.k, sp.d0, sp.d0 + u.i AS d
         FROM sp, UNNEST(range(d1 - d0 + 1)) AS u(i)),
cd AS (SELECT g.k, g.d0, g.d, coalesce(dl.c, 0) AS c
       FROM grid g LEFT JOIN daily dl ON dl.k = g.k AND dl.d = g.d),
bk AS (SELECT k, m.m, (d - d0) // m.m AS b, CAST(sum(c) AS BIGINT) AS x
       FROM cd, UNNEST([1, 2, 4, 8]) AS m(m)
       GROUP BY 1, 2, 3),
v AS (SELECT k, m, CAST(count(*) AS BIGINT) AS nb,
             CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(x * x) AS BIGINT) AS ss
      FROM bk GROUP BY 1, 2),
pts AS (SELECT k,
  CAST(floor(ln(CAST(m AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS lx,
  CAST(floor(ln(CAST(nb * ss - s * s AS DOUBLE)
              / CAST(nb * nb AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
      AS ly
  FROM v WHERE nb * ss - s * s > 0),
mm AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(lx) AS BIGINT) AS sx,
              CAST(sum(ly) AS BIGINT) AS sy,
              CAST(sum(lx * ly) AS BIGINT) AS sxy,
              CAST(sum(lx * lx) AS BIGINT) AS sxx
       FROM pts GROUP BY 1)
SELECT k AS event_type, n AS n_scales,
       CAST(CASE WHEN n * sxx - sx * sx > 0 THEN
         floor(CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) * 1000.0 + 0.5)
       END AS BIGINT) AS slope_milli,
       CAST(CASE WHEN n * sxx - sx * sx > 0 THEN
         floor(CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) * 500.0 + 0.5)
       END AS BIGINT) AS h_milli
FROM mm
"""


def q_isotropy(spark, sf_dir):
    """Embedding anisotropy (similarity.isotropy_score): average
    pairwise dot over ALL n(n-1) pairs without a pair join — the
    ||Σv||² − Σ||v||² identity over two integer aggregates. Oracle
    restates the identity over its own long form."""
    from ..operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    return sim.isotropy_score(emb, dim=64)


SQL_ISOTROPY = """
WITH xl AS (
  SELECT vec_id AS rid, CAST(u.i AS BIGINT) AS d,
         CAST(floor(CAST(embedding[u.i + 1] AS DOUBLE) * 1000.0 + 0.5)
              AS BIGINT) AS x
  FROM embeddings, UNNEST(range(64)) AS u(i)),
pd AS (SELECT d, CAST(sum(x) AS BIGINT) AS sd FROM xl GROUP BY 1),
prw AS (SELECT rid, CAST(sum(x * x) AS BIGINT) AS r2
        FROM xl GROUP BY 1),
a AS (SELECT CAST(sum(sd * sd) AS BIGINT) AS ss FROM pd),
b AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r2) AS BIGINT) AS self_dot_sum
      FROM prw)
SELECT n, self_dot_sum,
       CAST(ss - self_dot_sum AS BIGINT) AS pair_dot_num,
       CAST(CASE WHEN n > 1 AND self_dot_sum > 0 THEN
         floor(CAST(ss - self_dot_sum AS DOUBLE)
               / CAST(n * (n - 1) AS DOUBLE)
               / (CAST(self_dot_sum AS DOUBLE) / CAST(n AS DOUBLE))
               * 1000.0 + 0.5)
       END AS BIGINT) AS anisotropy_milli
FROM b, a
"""


def q_rich_club(spark, sf_dir):
    """Hub-club structure (graph.rich_club): phi(k) densities of the
    degree>k induced subgraphs at k=1..4 over the link graph — per-k
    counts in one pass via a bounded threshold explode. Oracle
    re-derives degrees and induced counts with its own joins."""
    from ..operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    edges = gr.synthetic_link_edges(docs, n)
    return gr.rich_club(edges, ks=(1, 2, 3, 4))


SQL_RICH_CLUB = """
WITH nn AS (SELECT count(*) AS n FROM documents),
e0 AS (
  SELECT doc_id AS src, (doc_id * 7 + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 13 + 5) % nn.n FROM documents, nn
  WHERE doc_id % 2 = 0
  UNION
  SELECT doc_id, (doc_id * 29 + 11) % nn.n FROM documents, nn
  WHERE doc_id % 3 = 0
),
e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
und AS (SELECT least(src, dst) AS u, greatest(src, dst) AS v
        FROM e GROUP BY 1, 2),
deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
          SELECT u AS id FROM und UNION ALL SELECT v FROM und) q
        GROUP BY 1),
ks AS (SELECT unnest([1, 2, 3, 4]) AS k),
nk AS (SELECT k, CAST(count(*) AS BIGINT) AS n_nodes
       FROM deg, ks WHERE d > k GROUP BY 1),
ek AS (SELECT k, CAST(count(*) AS BIGINT) AS n_edges
       FROM und
       JOIN deg du ON du.id = und.u
       JOIN deg dv ON dv.id = und.v, ks
       WHERE du.d > k AND dv.d > k GROUP BY 1)
SELECT CAST(nk.k AS BIGINT) AS k, n_nodes,
       CAST(coalesce(n_edges, 0) AS BIGINT) AS n_edges,
       CAST(CASE WHEN n_nodes > 1 THEN
         1000000 * 2 * coalesce(n_edges, 0)
         // (n_nodes * (n_nodes - 1))
       END AS BIGINT) AS phi_ppm
FROM nk LEFT JOIN ek ON ek.k = nk.k
"""


def q_weighted_topk(spark, sf_dir):
    """A-ES weighted sampling without replacement
    (sampling.weighted_topk_sample): 5 documents per language with
    probability proportional to length, reproducibly — ranked by
    ln(u)/w on the md5 uniform. Oracle mirrors the key arithmetic in
    its own window."""
    from ..operators import sampling as sp

    docs = (_t(spark, sf_dir, "documents")
            .where(F.col("lang").isNotNull() & (F.col("n_chars") > 0))
            .select("lang", "doc_id", "n_chars"))
    return sp.weighted_topk_sample(docs, "lang", "n_chars",
                                   "doc_id", k=5)


SQL_WEIGHTED_TOPK = """
WITH d AS (SELECT lang, doc_id, n_chars FROM documents
           WHERE lang IS NOT NULL AND n_chars > 0),
r AS (SELECT lang, doc_id, n_chars,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY ln((CAST(concat('0x',
                   substr(md5(CAST(doc_id AS VARCHAR) || 'aes0'),
                          1, 15)) AS BIGINT) + 1)
                   / 1152921504606846976.0)
                 / CAST(n_chars AS DOUBLE) DESC, doc_id)
                 AS sample_rank
      FROM d)
SELECT lang, doc_id, n_chars, CAST(sample_rank AS BIGINT) AS sample_rank
FROM r WHERE sample_rank <= 5
"""


def q_ks_test(spark, sf_dir):
    """Two-sample KS (stats.ks_test): the dist_drift fixture's
    even/odd-with-shifted-purchases split — exact integer D numerator,
    95% decision as one mirrored double comparison."""
    from ..operators import stats as st

    ev = _t(spark, sf_dir, "events")
    cents = _cents("value")
    d = ev.where(F.col("value").isNotNull()).select(
        F.when(F.col("event_id") % 2 == 0, F.lit("a"))
        .otherwise(F.lit("b")).alias("side"),
        (cents + F.when((F.col("event_id") % 2 == 1)
                        & (F.col("event_type") == "purchase"),
                        F.lit(500)).otherwise(F.lit(0))).alias("v"))
    return st.ks_test(d, "side", "v")


SQL_KS_TEST = f"""
WITH d AS (
  SELECT CASE WHEN event_id % 2 = 0 THEN 'a' ELSE 'b' END AS side,
         {_cents_sql('value')}
           + CASE WHEN event_id % 2 = 1 AND event_type = 'purchase'
                  THEN 500 ELSE 0 END AS v
  FROM events WHERE value IS NOT NULL),
base AS (SELECT v,
                CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END)
                     AS BIGINT) AS ca,
                CAST(sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END)
                     AS BIGINT) AS cb
         FROM d GROUP BY 1),
cum AS (SELECT
          sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cuma,
          sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumb,
          sum(ca) OVER () AS na, sum(cb) OVER () AS nb
        FROM base),
agg AS (SELECT CAST(max(na) AS BIGINT) AS n_a,
               CAST(max(nb) AS BIGINT) AS n_b,
               CAST(max(abs(cuma * nb - cumb * na)) AS BIGINT) AS d_num
        FROM cum)
SELECT n_a, n_b, d_num,
       CAST(CASE WHEN n_a > 0 AND n_b > 0 THEN
         floor(CAST(d_num AS DOUBLE)
               / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
               * 1000.0 + 0.5) END AS BIGINT) AS d_milli,
       CAST(CASE WHEN n_a > 0 AND n_b > 0 THEN
         CASE WHEN CAST(d_num AS DOUBLE)
                   / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                   > 1358.0 / 1000.0
                     * sqrt(CAST(n_a + n_b AS DOUBLE)
                            / (CAST(n_a AS DOUBLE)
                               * CAST(n_b AS DOUBLE)))
              THEN 1 ELSE 0 END END AS INT) AS reject
FROM agg
"""


def q_weighted_quantiles(spark, sf_dir):
    """Token-weighted length quantiles (stats.
    weighted_group_quantiles): per language, the document length at
    which the q-th WEIGHTED token sits (weight = n_chars) — the
    training-mix question, distinct from the median document. Oracle
    re-ranks with its own cumulative-weight windows."""
    from ..operators import stats as st

    docs = (_t(spark, sf_dir, "documents")
            .where(F.col("lang").isNotNull()))
    return st.weighted_group_quantiles(
        docs, "lang", "n_chars", "n_chars",
        qs_ppm=[250_000, 500_000, 750_000])


SQL_WEIGHTED_QUANTILES = """
WITH counts AS (SELECT lang AS g, n_chars AS v,
                       CAST(sum(n_chars) AS BIGINT) AS w
                FROM documents
                WHERE lang IS NOT NULL AND n_chars > 0
                GROUP BY 1, 2),
cum AS (SELECT g, v, w,
               sum(w) OVER (PARTITION BY g ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS cum,
               sum(w) OVER (PARTITION BY g) AS tw
        FROM counts),
q AS (SELECT unnest([250000, 500000, 750000]) AS q_ppm)
SELECT g AS lang, CAST(q.q_ppm AS BIGINT) AS q_ppm,
       min(v) AS value
FROM cum, q
WHERE cum >= (q.q_ppm * tw + 999999) // 1000000
GROUP BY 1, 2
"""


def q_gravity_decay(spark, sf_dir):
    """Spatial-interaction decay (pure composition: temporal.od_matrix
    × stats.loglog_ols_fit): OD flows between 120k-µdeg cells, total
    flow per squared cell distance, then the shared log-log OLS — the
    gravity-model distance-decay exponent. Oracle re-derives hops,
    distances and the fit."""
    from ..operators import stats as st
    from ..operators import temporal as tp

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull()))
    lng, lat = geo.point_udeg_cols(F.col("event_id"))
    track = (ev.select("user_id", "ts", "event_id", lng, lat)
             .withColumn("cx", F.floor(F.col("lng_udeg") / 120000)
                         .cast("bigint"))
             .withColumn("cy", F.floor(F.col("lat_udeg") / 120000)
                         .cast("bigint")))
    flows = tp.od_matrix(track)
    d2 = ((F.col("o_cx") - F.col("d_cx"))
          * (F.col("o_cx") - F.col("d_cx"))
          + (F.col("o_cy") - F.col("d_cy"))
          * (F.col("o_cy") - F.col("d_cy")))
    hist = (flows.groupBy(d2.alias("d2"))
            .agg(F.sum("n_trips").cast("bigint").alias("flow")))
    return st.loglog_ols_fit(hist, x_col="d2", cnt_col="flow")


SQL_GRAVITY_DECAY = f"""
WITH trk AS (
  SELECT user_id, ts, event_id,
         CAST(floor({_EV_LNG_SQL} / 120000.0) AS BIGINT) AS cx,
         CAST(floor({_EV_LAT_SQL} / 120000.0) AS BIGINT) AS cy
  FROM events WHERE user_id IS NOT NULL),
hops AS (
  SELECT lag(cx) OVER w AS o_cx, lag(cy) OVER w AS o_cy,
         cx AS d_cx, cy AS d_cy
  FROM trk WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
fl AS (SELECT (o_cx - d_cx) * (o_cx - d_cx)
              + (o_cy - d_cy) * (o_cy - d_cy) AS d2,
              CAST(count(*) AS BIGINT) AS flow
       FROM hops
       WHERE o_cx IS NOT NULL AND (o_cx <> d_cx OR o_cy <> d_cy)
       GROUP BY 1),
pts AS (SELECT
  CAST(floor(ln(CAST(d2 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
      AS lx,
  CAST(floor(ln(CAST(flow AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
      AS ly
  FROM fl WHERE d2 > 0 AND flow > 0),
m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(lx) AS BIGINT) AS sx,
             CAST(sum(ly) AS BIGINT) AS sy,
             CAST(sum(lx * ly) AS BIGINT) AS sxy,
             CAST(sum(lx * lx) AS BIGINT) AS sxx
      FROM pts)
SELECT n AS n_points,
       CAST(CASE WHEN n * sxx - sx * sx > 0 THEN
         floor(CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) * 1000.0 + 0.5)
       END AS BIGINT) AS slope_milli,
       CAST(CASE WHEN n * sxx - sx * sx > 0 THEN
         floor((CAST(sy AS DOUBLE)
                - CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE) / 1000000.0 * 1000.0 + 0.5)
       END AS BIGINT) AS intercept_milli
FROM m
"""


def q_vocab_overlap(spark, sf_dir):
    """Cross-language vocabulary containment (sources/layout.
    inclusion_coefficients REUSED over (lang, token) — operator
    generality: the FK-discovery machinery answering a corpus-
    linguistics question). Oracle re-derives distinct vocabularies and
    the directional containments."""
    from ..sources import layout as ly

    docs = (_t(spark, sf_dir, "documents")
            .where(F.col("lang").isNotNull()))
    toks = docs.select(
        F.col("lang").alias("set_name"),
        F.explode(F.filter(
            F.split(F.lower(F.trim(F.col("text"))), "[^a-z0-9_]+"),
            lambda t: t != "")).alias("v"))
    return ly.inclusion_coefficients(toks)


SQL_VOCAB_OVERLAP = """
WITH d AS (
  SELECT DISTINCT lang AS s, u.tok AS v
  FROM (SELECT lang,
               list_filter(regexp_split_to_array(lower(trim(text)),
                                                 '[^a-z0-9_]+'),
                           x -> x <> '') AS t
        FROM documents WHERE lang IS NOT NULL) q,
       UNNEST(t) AS u(tok)),
sizes AS (SELECT s, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
common AS (SELECT a.s AS set_a, b.s AS set_b,
                  CAST(count(*) AS BIGINT) AS n_common
           FROM d a JOIN d b ON a.v = b.v AND a.s <> b.s
           GROUP BY 1, 2)
SELECT set_a, set_b, sizes.n AS n_a, n_common,
       CAST(1000000 * n_common // sizes.n AS BIGINT)
           AS containment_ppm
FROM common JOIN sizes ON sizes.s = set_a
"""


def q_bot_scores(spark, sf_dir):
    """Automation detection (temporal.bot_scores): natural users keep
    high gap entropy; a synthesized scheduler (every 7th event mapped
    to user 99999 on an exact 420 s grid) collapses to ONE distinct
    gap — entropy exactly 0, flagged. Oracle re-derives gaps and the
    quantized entropy."""
    from ..operators import temporal as tp

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull())
          .select("user_id", "ts", "event_id"))
    bot = (_t(spark, sf_dir, "events")
           .where(F.col("event_id") % 7 == 0)
           .select(F.lit(99999).cast("bigint").alias("user_id"),
                   F.expr("timestamp_micros(1700000000000000 "
                          "+ event_id * 60000000)").alias("ts"),
                   "event_id"))
    return tp.bot_scores(ev.unionAll(bot), min_events=20)


SQL_BOT_SCORES = """
WITH src AS (
  SELECT user_id, epoch_us(ts) AS t, event_id FROM events
  WHERE user_id IS NOT NULL
  UNION ALL
  SELECT 99999, 1700000000000000 + event_id * 60000000, event_id
  FROM events WHERE event_id % 7 = 0),
gaps AS (SELECT user_id AS u,
                (t - lag(t) OVER (PARTITION BY user_id
                                  ORDER BY t, event_id)) // 1000000
                    AS g
         FROM src
         QUALIFY lag(t) OVER (PARTITION BY user_id
                              ORDER BY t, event_id) IS NOT NULL),
cnt AS (SELECT u, g, CAST(count(*) AS BIGINT) AS c
        FROM gaps GROUP BY 1, 2),
agg AS (SELECT u, CAST(sum(c) AS BIGINT) AS n_gaps,
               CAST(count(*) AS BIGINT) AS distinct_gaps,
               CAST(sum(CAST(floor(ln(CAST(c AS DOUBLE))
                    * CAST(c AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS s
        FROM cnt GROUP BY 1)
SELECT u AS user_id, CAST(n_gaps + 1 AS BIGINT) AS n_events, n_gaps,
       distinct_gaps,
       CAST(CAST(floor(ln(CAST(n_gaps AS DOUBLE)) * 1000000.0 + 0.5)
            AS BIGINT) - s // n_gaps AS BIGINT) AS entropy_micro,
       CAST(CASE WHEN n_gaps + 1 >= 20
                  AND CAST(floor(ln(CAST(n_gaps AS DOUBLE)) * 1000000.0
                       + 0.5) AS BIGINT) - s // n_gaps <= 500000
                 THEN 1 ELSE 0 END AS INT) AS bot
FROM agg
"""


def q_fdr_bh(spark, sf_dir):
    """Multiple-testing correction (stats.fdr_bh): md5-uniform
    p-values with every 13th document's replaced by a tiny one — BH
    step-up at alpha 0.05 rejects the planted cluster plus whatever
    uniform stragglers clear the ladder; decision fully integer
    (p·m <= rank·alpha cross-multiplied). Oracle re-derives the ranked
    ladder and cutoff."""
    from ..operators import stats as st

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    h = (F.conv(F.substring(F.md5(F.concat(did.cast("string"),
                                           F.lit(":p"))), 1, 15),
                16, 10).cast("bigint") % 1_000_000)
    p = F.when(did % 13 == 0, (did % 50) * 10).otherwise(h)
    d = docs.select("doc_id", p.cast("bigint").alias("p_micro"))
    return st.fdr_bh(d, "doc_id", "p_micro", alpha_ppm=50_000)


SQL_FDR_BH = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN (doc_id % 50) * 10
              ELSE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)
                   || ':p'), 1, 15)) AS BIGINT) % 1000000
         END AS p_micro
  FROM documents),
rk AS (SELECT doc_id, p_micro,
              CAST(row_number() OVER (ORDER BY p_micro, doc_id)
                   AS BIGINT) AS rank,
              count(*) OVER () AS m
       FROM d),
cut AS (SELECT max(CASE WHEN p_micro * m <= rank * 50000
                        THEN rank ELSE 0 END) AS k_max
        FROM rk)
SELECT doc_id, p_micro, rank,
       CAST(CASE WHEN rank <= cut.k_max THEN 1 ELSE 0 END AS INT)
           AS rejected
FROM rk, cut
"""


def q_pr_curve(spark, sf_dir):
    """Threshold sweep (stats.pr_curve): precision/recall at every
    distinct milli score of embedding coordinate 7 against the
    binarized label — reverse-cumulative windows over the score COUNT
    relation. Oracle mirrors the sweep."""
    from ..operators import stats as st

    emb = _t(spark, sf_dir, "embeddings")
    d = emb.select(
        F.floor(F.element_at(F.col("embedding"), 7).cast("double")
                * F.lit(1000.0) + F.lit(0.5)).cast("bigint").alias("s"),
        (F.col("label") < 5).cast("int").alias("y"))
    return st.pr_curve(d, "s", "y")


SQL_PR_CURVE = """
WITH d AS (
  SELECT CAST(floor(CAST(embedding[7] AS DOUBLE) * 1000.0 + 0.5)
              AS BIGINT) AS thr,
         CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
  FROM embeddings
  WHERE embedding IS NOT NULL AND label IS NOT NULL),
v AS (SELECT thr, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(y) AS BIGINT) AS a
      FROM d GROUP BY 1),
cum AS (SELECT thr,
               sum(a) OVER (ORDER BY thr DESC
                            ROWS UNBOUNDED PRECEDING) AS tp,
               sum(c) OVER (ORDER BY thr DESC
                            ROWS UNBOUNDED PRECEDING) AS pp,
               sum(a) OVER () AS p_all
        FROM v)
SELECT thr, CAST(tp AS BIGINT) AS tp,
       CAST(pp - tp AS BIGINT) AS fp,
       CAST(p_all - tp AS BIGINT) AS fn,
       CAST(1000000 * tp // pp AS BIGINT) AS precision_ppm,
       CAST(CASE WHEN p_all > 0 THEN 1000000 * tp // p_all END
            AS BIGINT) AS recall_ppm
FROM cum
"""


def q_corr_matrix(spark, sf_dir):
    """EDA correlation matrix (stats.corr_matrix): all six Pearson
    pairs over four event features in ONE aggregate pass — the
    engineered v_half pair pins r≈1000, the rest hover near 0. Oracle
    re-derives every pair's moments independently."""
    from ..operators import stats as st

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    d = ev.select(
        _cents("value").alias("v_cents"),
        F.floor(_cents("value") / 2).cast("bigint").alias("v_half"),
        (F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000")
         - 19700).alias("day_off"),
        (F.col("event_id") % 97).alias("em"))
    return st.corr_matrix(d, ["v_cents", "v_half", "day_off", "em"])


SQL_CORR_MATRIX = f"""
WITH d AS (
  SELECT {_cents_sql('value')} AS v_cents,
         CAST(floor({_cents_sql('value')} / 2) AS BIGINT) AS v_half,
         epoch_us(ts) // 86400000000 - 19700 AS day_off,
         event_id % 97 AS em
  FROM events WHERE value IS NOT NULL
    AND ts IS NOT NULL AND event_id IS NOT NULL),
pairs AS (
  SELECT 'v_cents' AS col_a, 'v_half' AS col_b,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v_cents) AS BIGINT) AS sa,
         CAST(sum(v_half) AS BIGINT) AS sb,
         CAST(sum(v_cents * v_cents) AS BIGINT) AS qa,
         CAST(sum(v_half * v_half) AS BIGINT) AS qb,
         CAST(sum(v_cents * v_half) AS BIGINT) AS x FROM d
  UNION ALL
  SELECT 'v_cents', 'day_off', count(*), sum(v_cents), sum(day_off),
         sum(v_cents * v_cents), sum(day_off * day_off),
         sum(v_cents * day_off) FROM d
  UNION ALL
  SELECT 'v_cents', 'em', count(*), sum(v_cents), sum(em),
         sum(v_cents * v_cents), sum(em * em), sum(v_cents * em) FROM d
  UNION ALL
  SELECT 'v_half', 'day_off', count(*), sum(v_half), sum(day_off),
         sum(v_half * v_half), sum(day_off * day_off),
         sum(v_half * day_off) FROM d
  UNION ALL
  SELECT 'v_half', 'em', count(*), sum(v_half), sum(em),
         sum(v_half * v_half), sum(em * em), sum(v_half * em) FROM d
  UNION ALL
  SELECT 'day_off', 'em', count(*), sum(day_off), sum(em),
         sum(day_off * day_off), sum(em * em), sum(day_off * em)
  FROM d)
SELECT col_a, col_b, n,
       CAST(CASE WHEN n * qa - sa * sa > 0 AND n * qb - sb * sb > 0
                 THEN floor(CAST(n * x - sa * sb AS DOUBLE)
                      / sqrt(CAST(n * qa - sa * sa AS DOUBLE)
                             * CAST(n * qb - sb * sb AS DOUBLE))
                      * 1000.0 + 0.5)
            END AS BIGINT) AS r_milli
FROM pairs
"""


def q_tracking_params(spark, sf_dir):
    """Tracking-param detection (urls.query_param_stats): synthetic
    urls carry a high-cardinality cross-host 'ref' hash (flagged), a
    3-value 'utm_source', a 5-value 'page' and a per-doc 'id' confined
    by cardinality rules. Oracle re-parses with split_part and its own
    distincts."""
    from ..operators import urls as ur

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.lit("https://s"), (did % 10).cast("string"),
        F.lit(".example.com/p?id="), did.cast("string"),
        F.lit("&utm_source=src"), (did % 3).cast("string"),
        F.lit("&ref="), F.substring(F.md5(did.cast("string")), 1, 12),
        F.when(did % 2 == 0,
               F.concat(F.lit("&page="), (did % 5).cast("string")))
        .otherwise(F.lit("")))
    pages = docs.select(url.alias("url"))
    return ur.query_param_stats(pages, min_hosts=3, min_ndv=20)


SQL_TRACKING_PARAMS = """
WITH pages AS (
  SELECT 'https://s' || CAST(doc_id % 10 AS VARCHAR)
         || '.example.com/p?id=' || CAST(doc_id AS VARCHAR)
         || '&utm_source=src' || CAST(doc_id % 3 AS VARCHAR)
         || '&ref=' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
         || CASE WHEN doc_id % 2 = 0
                 THEN '&page=' || CAST(doc_id % 5 AS VARCHAR)
                 ELSE '' END AS url
  FROM documents),
kv AS (
  SELECT regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)
             AS h,
         split_part(u.p, '=', 1) AS k,
         substr(u.p, length(split_part(u.p, '=', 1)) + 2) AS v
  FROM pages,
       UNNEST(string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'))
           AS u(p)
  WHERE u.p <> '')
SELECT k AS param, CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT h) AS BIGINT) AS n_hosts,
       CAST(count(DISTINCT v) AS BIGINT) AS n_values,
       CAST(CASE WHEN count(DISTINCT h) >= 3
                  AND count(DISTINCT v) >= 20 THEN 1 ELSE 0 END AS INT)
           AS tracking
FROM kv GROUP BY 1
"""


def q_activity_streaks(spark, sf_dir):
    """Engagement streaks (temporal.activity_streaks): per-user
    consecutive-day runs via gaps-and-islands on the distinct
    active-day relation; current streak picked by one max(struct).
    Oracle re-derives islands with its own row_number."""
    from ..operators import temporal as tp

    ev = _t(spark, sf_dir, "events")
    return tp.activity_streaks(ev)


SQL_ACTIVITY_STREAKS = """
WITH act AS (SELECT DISTINCT user_id AS u,
                    epoch_us(ts) // 86400000000 AS d
             FROM events WHERE user_id IS NOT NULL),
runs AS (SELECT u, d - row_number() OVER (PARTITION BY u ORDER BY d)
                    AS grp, d
         FROM act),
rl AS (SELECT u, grp, CAST(count(*) AS BIGINT) AS len,
              max(d) AS d_end
       FROM runs GROUP BY 1, 2)
SELECT u AS user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
       CAST(count(*) AS BIGINT) AS n_streaks,
       CAST(max(len) AS BIGINT) AS max_streak,
       CAST(max_by(len, d_end) AS BIGINT) AS current_streak
FROM rl GROUP BY 1
"""


def q_overdispersion(spark, sf_dir):
    """Burstiness screen (stats.dispersion_index): variance-to-mean of
    daily counts per key over the zero-filled grid — exact rational,
    integer cross-multiplied flag at D > 1.5. Oracle mirrors the
    moments."""
    from ..operators import stats as st

    ev = _t(spark, sf_dir, "events")
    return st.dispersion_index(ev, over_milli=1500)


SQL_OVERDISPERSION = """
WITH daily AS (SELECT event_type AS k,
                      epoch_us(ts) // 86400000000 AS d,
                      CAST(count(*) AS BIGINT) AS c
               FROM events GROUP BY 1, 2),
sp AS (SELECT k, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
grid AS (SELECT sp.k, d1 - d0 + 1 AS n, d0 + u.i AS d
         FROM sp, UNNEST(range(d1 - d0 + 1)) AS u(i)),
cd AS (SELECT g.k, g.n, coalesce(dl.c, 0) AS c
       FROM grid g LEFT JOIN daily dl ON dl.k = g.k AND dl.d = g.d),
agg AS (SELECT k, CAST(max(n) AS BIGINT) AS n_days,
               CAST(sum(c) AS BIGINT) AS s,
               CAST(sum(c * c) AS BIGINT) AS q
        FROM cd GROUP BY 1)
SELECT k AS event_type, n_days, s AS s_total,
       CAST(CASE WHEN s > 0 THEN
         floor(CAST(n_days * q - s * s AS DOUBLE)
               / CAST(n_days * s AS DOUBLE) * 1000.0 + 0.5)
       END AS BIGINT) AS d_milli,
       CAST(CASE WHEN s > 0 THEN
         CASE WHEN (n_days * q - s * s) * 1000 > 1500 * n_days * s
              THEN 1 ELSE 0 END
       END AS INT) AS overdispersed
FROM agg
"""


def q_assoc_rules(spark, sf_dir):
    """Market-basket rules (temporal.association_rules): directed
    event-type pairs with support / confidence / lift over the
    sessionized stream — covisit counts normalized by marginals,
    lift integer via 1000·nxy·N div (nx·ny). Oracle re-derives
    sessions and both marginals."""
    from ..operators import temporal as tp

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull()))
    return tp.association_rules(ev, min_sessions=2)


SQL_ASSOC_RULES = """
WITH ev AS (SELECT user_id AS u, event_type AS item, ts, event_id
            FROM events WHERE user_id IS NOT NULL),
brk AS (SELECT u, item, ts, event_id,
        CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
               OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
             THEN 1 ELSE 0 END AS b
        FROM ev WINDOW w AS (PARTITION BY u ORDER BY ts, event_id)),
sess AS (SELECT u, item,
                sum(b) OVER (PARTITION BY u ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
         FROM brk),
items AS (SELECT DISTINCT u, sid, item FROM sess),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM
       (SELECT DISTINCT u, sid FROM items) q),
marg AS (SELECT item, CAST(count(*) AS BIGINT) AS nx
         FROM items GROUP BY 1),
pairs AS (SELECT a.item AS ia, b.item AS ib,
                 CAST(count(*) AS BIGINT) AS nxy
          FROM items a
          JOIN items b ON a.u = b.u AND a.sid = b.sid
                      AND a.item <> b.item
          GROUP BY 1, 2
          HAVING count(*) >= 2)
SELECT ia AS antecedent, ib AS consequent, nxy AS n_both,
       ma.nx AS n_ante, mc.nx AS n_cons,
       CAST(1000000 * nxy // ma.nx AS BIGINT) AS confidence_ppm,
       CAST(1000 * nxy * nn.n // (ma.nx * mc.nx) AS BIGINT)
           AS lift_milli
FROM pairs
JOIN marg ma ON ma.item = ia
JOIN marg mc ON mc.item = ib, nn
"""


def q_cluster_purity(spark, sf_dir):
    """External clustering eval (stats.cluster_purity): how language-
    homogeneous are the z12 tiles — majority-class purity over the
    (tile, lang) contingency. Oracle re-derives the majorities with
    its own window."""
    from ..operators import stats as st

    docs = _t(spark, sf_dir, "documents")
    lng, lat = geo.point_udeg_cols(F.col("doc_id"))
    pts = docs.select("doc_id", "lang", lng, lat)
    tiles = geo.with_point_tiles(pts, F.lit(12))
    d = tiles.select(
        (F.col("x").cast("bigint") * 100000
         + F.col("y").cast("bigint")).alias("txy"), "lang")
    return st.cluster_purity(d, "txy", "lang")


_CP_TX, _CP_TY = _tile_xy_sql("12")
SQL_CLUSTER_PURITY = f"""
WITH {POINTS_CTE},
t AS (SELECT p.doc_id, d.lang, {_CP_TX} AS x, {_CP_TY} AS y
      FROM pts p JOIN documents d ON d.doc_id = p.doc_id),
g AS (SELECT CAST(x AS BIGINT) * 100000 + CAST(y AS BIGINT) AS txy,
             lang
      FROM t WHERE lang IS NOT NULL),
cells AS (SELECT txy, lang, CAST(count(*) AS BIGINT) AS c
          FROM g GROUP BY 1, 2),
top AS (SELECT txy, c AS mc FROM cells
        QUALIFY row_number() OVER (PARTITION BY txy
                                   ORDER BY c DESC, lang) = 1),
tot AS (SELECT txy, CAST(sum(c) AS BIGINT) AS nc
        FROM cells GROUP BY 1)
SELECT CAST(sum(nc) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(mc) AS BIGINT) AS n_majority,
       CAST(1000000 * sum(mc) // sum(nc) AS BIGINT) AS purity_ppm
FROM tot JOIN top USING (txy)
"""


def q_smoothed_rates(spark, sf_dir):
    """Cold-start smoothing (stats.smoothed_rates): Beta(5,5)-smoothed
    high-value rates per event type — integer pseudo-count shrinkage
    toward 0.5. Oracle mirrors the arithmetic."""
    from ..operators import stats as st

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    d = ev.select("event_type",
                  (_cents("value") >= 3500).cast("int").alias("pos"))
    return st.smoothed_rates(d, "event_type", "pos", alpha=5, beta=5)


SQL_SMOOTHED_RATES = f"""
WITH d AS (SELECT event_type,
                  CASE WHEN {_cents_sql('value')} >= 3500
                       THEN 1 ELSE 0 END AS pos
           FROM events WHERE value IS NOT NULL),
agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(pos) AS BIGINT) AS x
        FROM d GROUP BY 1)
SELECT event_type, n, x AS n_pos,
       CAST(1000000 * x // n AS BIGINT) AS raw_ppm,
       CAST(1000000 * (x + 5) // (n + 10) AS BIGINT) AS smoothed_ppm
FROM agg
"""


def q_entry_exit(spark, sf_dir):
    """Landing/exit report (temporal.entry_exit_pages): per-session
    first/last event types via min/max(struct) folds, counted into the
    entry→exit flow matrix. Oracle uses first/last_value windows —
    different mechanics, same sessions."""
    from ..operators import temporal as tp

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull()))
    return tp.entry_exit_pages(ev)


SQL_ENTRY_EXIT = """
WITH ev AS (SELECT user_id AS u, event_type AS ty,
                   epoch_us(ts) AS t, event_id AS k
            FROM events WHERE user_id IS NOT NULL),
brk AS (SELECT u, ty, t, k,
        CASE WHEN t - lag(t) OVER w IS NULL
               OR t - lag(t) OVER w > 1800000000
             THEN 1 ELSE 0 END AS b
        FROM ev WINDOW w AS (PARTITION BY u ORDER BY t, k)),
sess AS (SELECT u, ty, t, k,
                sum(b) OVER (PARTITION BY u ORDER BY t, k
                             ROWS UNBOUNDED PRECEDING) AS sid
         FROM brk),
fx AS (SELECT u, sid,
              first_value(ty) OVER (
                PARTITION BY u, sid ORDER BY t, k
                ROWS BETWEEN UNBOUNDED PRECEDING
                AND UNBOUNDED FOLLOWING) AS entry_type,
              last_value(ty) OVER (
                PARTITION BY u, sid ORDER BY t, k
                ROWS BETWEEN UNBOUNDED PRECEDING
                AND UNBOUNDED FOLLOWING) AS exit_type
       FROM sess),
per AS (SELECT DISTINCT u, sid, entry_type, exit_type FROM fx)
SELECT entry_type, exit_type, CAST(count(*) AS BIGINT) AS n_sessions
FROM per GROUP BY 1, 2
"""


def q_interpolate_daily(spark, sf_dir):
    """Gap interpolation (temporal.interpolate_daily): events thinned
    to every third calendar day make real 2-day gaps; missing days get
    the exact integer lerp between the neighboring daily sums. Oracle
    re-derives both anchor carries with IGNORE NULLS windows."""
    from ..operators import temporal as tp

    ev = _t(spark, sf_dir, "events").where(
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000")
        % 3 == 0)
    return tp.interpolate_daily(ev, value_col="event_id")


SQL_INTERPOLATE_DAILY = """
WITH src AS (SELECT event_type AS k,
                    epoch_us(ts) // 86400000000 AS d,
                    event_id AS v
             FROM events
             WHERE (epoch_us(ts) // 86400000000) % 3 = 0
               AND event_id IS NOT NULL),
daily AS (SELECT k, d, CAST(sum(v) AS BIGINT) AS v
          FROM src GROUP BY 1, 2),
sp AS (SELECT k, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
grid AS (SELECT sp.k, sp.d0 + u.i AS d
         FROM sp, UNNEST(range(d1 - d0 + 1)) AS u(i)),
g AS (SELECT grid.k, grid.d, daily.v,
             last_value(daily.v IGNORE NULLS) OVER (
               PARTITION BY grid.k ORDER BY grid.d
               ROWS UNBOUNDED PRECEDING) AS pv,
             last_value(CASE WHEN daily.v IS NOT NULL
                             THEN grid.d END IGNORE NULLS) OVER (
               PARTITION BY grid.k ORDER BY grid.d
               ROWS UNBOUNDED PRECEDING) AS pd,
             last_value(daily.v IGNORE NULLS) OVER (
               PARTITION BY grid.k ORDER BY grid.d DESC
               ROWS UNBOUNDED PRECEDING) AS nv,
             last_value(CASE WHEN daily.v IS NOT NULL
                             THEN grid.d END IGNORE NULLS) OVER (
               PARTITION BY grid.k ORDER BY grid.d DESC
               ROWS UNBOUNDED PRECEDING) AS nd
      FROM grid LEFT JOIN daily ON daily.k = grid.k
                                AND daily.d = grid.d)
SELECT k AS event_type, CAST(d AS BIGINT) AS day,
       CAST(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS INT)
           AS observed,
       CAST(CASE WHEN v IS NOT NULL THEN v
                 WHEN pv IS NULL THEN nv
                 WHEN nv IS NULL THEN pv
                 ELSE pv + (nv - pv) * (d - pd) // (nd - pd)
            END AS BIGINT) AS value
FROM g
"""


def q_odds_ratio(spark, sf_dir):
    """Effect size (stats.odds_ratio): odds ratio of high value given
    even event_id with the Woolf log-CI — the magnitude companion of
    chi2_assoc. All four 2x2 cells exact; OR/CI one mirrored double
    chain."""
    from ..operators import stats as st

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    d = ev.select((F.col("event_id") % 2 == 0).cast("int").alias("e"),
                  (_cents("value") >= 3500).cast("int").alias("y"))
    return st.odds_ratio(d, "e", "y")


SQL_ODDS_RATIO = f"""
WITH d AS (SELECT CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS e,
                  CASE WHEN {_cents_sql('value')} >= 3500
                       THEN 1 ELSE 0 END AS y
           FROM events WHERE value IS NOT NULL),
agg AS (SELECT
  CAST(sum(CASE WHEN e = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
  CAST(sum(CASE WHEN e = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
  CAST(sum(CASE WHEN e = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
  CAST(sum(CASE WHEN e = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM d)
SELECT a, b, c, d,
       CAST(CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
         floor(CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE)
               * 1000.0 + 0.5) END AS BIGINT) AS or_milli,
       CAST(CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
         floor(ln(CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE))
               * 1000000.0 + 0.5) END AS BIGINT) AS ln_or_micro,
       CAST(CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
         floor((ln(CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE))
                - 1960.0 / 1000.0
                  * sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
                         + 1.0 / CAST(c AS DOUBLE)
                         + 1.0 / CAST(d AS DOUBLE)))
               * 1000000.0 + 0.5) END AS BIGINT) AS lo_micro,
       CAST(CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
         floor((ln(CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE))
                + 1960.0 / 1000.0
                  * sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
                         + 1.0 / CAST(c AS DOUBLE)
                         + 1.0 / CAST(d AS DOUBLE)))
               * 1000000.0 + 0.5) END AS BIGINT) AS hi_micro
FROM agg
"""


def q_cramers_v(spark, sf_dir):
    """Association strength (stats.cramers_v): Cramér's V between
    language and the 200-char length bucket — per-observed-cell chi2
    terms micro-quantized before the sum, zero cells folded via the
    exact integer sum(R·C) identity. Oracle mirrors both parts."""
    from ..operators import stats as st

    docs = _t(spark, sf_dir, "documents")
    d = (docs.where(F.col("lang").isNotNull()
                    & F.col("n_chars").isNotNull())
         .select(F.col("lang").alias("a"),
                 F.expr("n_chars div 200").alias("b")))
    return st.cramers_v(d, "a", "b")


SQL_CRAMERS_V = """
WITH base AS (SELECT lang AS a, n_chars // 200 AS b FROM documents
              WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS o
          FROM base GROUP BY 1, 2),
ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS rr FROM cells GROUP BY 1),
cb AS (SELECT b, CAST(sum(o) AS BIGINT) AS cc FROM cells GROUP BY 1),
nn AS (SELECT CAST(sum(o) AS BIGINT) AS n,
              CAST(count(DISTINCT a) AS BIGINT) AS r,
              CAST(count(DISTINCT b) AS BIGINT) AS c
       FROM cells),
j AS (SELECT cells.o, ra.rr, cb.cc, nn.n, nn.r, nn.c
      FROM cells JOIN ra USING (a) JOIN cb USING (b), nn),
t AS (SELECT n, r, c,
             CAST(sum(CAST(floor(
               CAST(o * n - rr * cc AS DOUBLE)
               * CAST(o * n - rr * cc AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(rr AS DOUBLE)
                  * CAST(cc AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS t_sum,
             CAST(sum(rr * cc) AS BIGINT) AS src
      FROM j GROUP BY 1, 2, 3),
f AS (SELECT n, r, c,
             t_sum + CAST(floor((CAST(n AS DOUBLE)
                    - CAST(src AS DOUBLE) / CAST(n AS DOUBLE))
                    * 1000000.0 + 0.5) AS BIGINT) AS chi2_micro
      FROM t)
SELECT n, r, c, chi2_micro,
       CAST(CASE WHEN least(r - 1, c - 1) > 0 AND n > 0 THEN
         floor(sqrt(CAST(chi2_micro AS DOUBLE) / 1000000.0
                    / CAST(n * least(r - 1, c - 1) AS DOUBLE))
               * 1000.0 + 0.5) END AS BIGINT) AS v_milli
FROM f
"""


def q_gini_traffic(spark, sf_dir):
    """Traffic concentration (stats.gini_inequality): exact Gini over
    per-user event counts via the tied-block closed form on the
    value-count relation. Oracle re-derives blocks with its own
    windows."""
    from ..operators import stats as st

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull())
          .groupBy("user_id")
          .agg(F.count(F.lit(1)).cast("bigint").alias("n_events")))
    return st.gini_inequality(ev, "n_events")


SQL_GINI_TRAFFIC = """
WITH pu AS (SELECT user_id, CAST(count(*) AS BIGINT) AS v
            FROM events WHERE user_id IS NOT NULL GROUP BY 1),
vals AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM pu GROUP BY 1),
blk AS (SELECT v, c,
               coalesce(sum(c) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS p
        FROM vals)
SELECT CAST(sum(c) AS BIGINT) AS n,
       CAST(sum(v * c) AS BIGINT) AS total,
       CAST(sum(v * (c * p + c * (c + 1) // 2)) AS BIGINT) AS s1,
       CAST(CASE WHEN sum(c) > 0 AND sum(v * c) > 0 THEN
         floor((2.0 * CAST(sum(v * (c * p + c * (c + 1) // 2))
                      AS DOUBLE)
                / (CAST(sum(c) AS DOUBLE) * CAST(sum(v * c) AS DOUBLE))
                - CAST(sum(c) + 1 AS DOUBLE) / CAST(sum(c) AS DOUBLE))
               * 1000.0 + 0.5) END AS BIGINT) AS gini_milli
FROM blk
"""


def q_zipf_fit(spark, sf_dir):
    """Zipf's law (composition: token counts → rank window →
    stats.loglog_ols_fit): rank-frequency slope of the corpus
    vocabulary — completing the law-fitting trio with heaps_law and
    powerlaw_degrees. Oracle mirrors ranks and the fit."""
    from ..operators import stats as st

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.filter(
        F.split(F.lower(F.trim(F.col("text"))), "[^a-z0-9_]+"),
        lambda t: t != "")).alias("tok"))
    counts = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"))
    w = Window.orderBy(F.col("cnt").desc(), F.col("tok"))
    ranked = counts.withColumn("rank", F.row_number().over(w)
                               .cast("bigint"))
    return st.loglog_ols_fit(ranked, x_col="rank", cnt_col="cnt")


SQL_ZIPF_FIT = """
WITH toks AS (
  SELECT u.tok FROM (
    SELECT list_filter(regexp_split_to_array(lower(trim(text)),
                                             '[^a-z0-9_]+'),
                       x -> x <> '') AS t
    FROM documents) q, UNNEST(t) AS u(tok)),
counts AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
           FROM toks GROUP BY 1),
rk AS (SELECT cnt,
              CAST(row_number() OVER (ORDER BY cnt DESC, tok)
                   AS BIGINT) AS rank
       FROM counts),
pts AS (SELECT
  CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
      AS lx,
  CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
      AS ly
  FROM rk WHERE rank > 0 AND cnt > 0),
m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(lx) AS BIGINT) AS sx,
             CAST(sum(ly) AS BIGINT) AS sy,
             CAST(sum(lx * ly) AS BIGINT) AS sxy,
             CAST(sum(lx * lx) AS BIGINT) AS sxx
      FROM pts)
SELECT n AS n_points,
       CAST(CASE WHEN n * sxx - sx * sx > 0 THEN
         floor(CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) * 1000.0 + 0.5)
       END AS BIGINT) AS slope_milli,
       CAST(CASE WHEN n * sxx - sx * sx > 0 THEN
         floor((CAST(sy AS DOUBLE)
                - CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE) / 1000000.0 * 1000.0 + 0.5)
       END AS BIGINT) AS intercept_milli
FROM m
"""


def q_lorenz_points(spark, sf_dir):
    """Concentration curve (stats.lorenz_points): cumulative traffic
    share at population deciles over per-user event counts — the curve
    behind gini_traffic's number. Oracle re-derives block boundaries
    with its own windows."""
    from ..operators import stats as st

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull())
          .groupBy("user_id")
          .agg(F.count(F.lit(1)).cast("bigint").alias("n_events")))
    return st.lorenz_points(ev, "n_events", n_points=10)


SQL_LORENZ_POINTS = """
WITH pu AS (SELECT user_id, CAST(count(*) AS BIGINT) AS v
            FROM events WHERE user_id IS NOT NULL GROUP BY 1),
vals AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM pu GROUP BY 1),
cum AS (SELECT v, c,
               sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cp,
               sum(v * c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                   AS cm,
               sum(c) OVER () AS n, sum(v * c) OVER () AS tot
        FROM vals),
pts AS (SELECT unnest(range(1, 11)) AS point)
SELECT CAST(point AS BIGINT) AS point,
       CAST(1000000 * min(cp) // max(n) AS BIGINT) AS pop_ppm,
       CAST(CASE WHEN max(tot) > 0
                 THEN 1000000 * min(cm) // max(tot) END AS BIGINT)
           AS mass_ppm
FROM cum, pts
WHERE cp >= (point * n + 9) // 10
GROUP BY 1
"""


def q_new_returning(spark, sf_dir):
    """Acquisition mix (temporal.new_vs_returning): daily new vs
    returning users (first active day = new). Oracle re-derives the
    first-day join."""
    from ..operators import temporal as tp

    ev = _t(spark, sf_dir, "events")
    return tp.new_vs_returning(ev)


SQL_NEW_RETURNING = """
WITH act AS (SELECT DISTINCT user_id AS u,
                    epoch_us(ts) // 86400000000 AS d
             FROM events WHERE user_id IS NOT NULL),
fst AS (SELECT u, min(d) AS fd FROM act GROUP BY 1)
SELECT CAST(act.d AS BIGINT) AS day,
       CAST(sum(CASE WHEN act.d = fst.fd THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new,
       CAST(sum(CASE WHEN act.d <> fst.fd THEN 1 ELSE 0 END) AS BIGINT)
           AS n_returning,
       CAST(1000000 * sum(CASE WHEN act.d = fst.fd THEN 1 ELSE 0 END)
            // count(*) AS BIGINT) AS new_share_ppm
FROM act JOIN fst ON fst.u = act.u
GROUP BY 1
"""


def q_rank_movers(spark, sf_dir):
    """Trending report (temporal.rank_movers): last-7-days vs
    prior-7-days activity ranks per event type with deltas; absent
    periods stay NULL (new entrants visible). Oracle re-derives
    periods and dense orderings."""
    from ..operators import temporal as tp

    ev = _t(spark, sf_dir, "events")
    return tp.rank_movers(ev, period_days=7)


SQL_RANK_MOVERS = """
WITH d AS (SELECT event_type AS k,
                  epoch_us(ts) // 86400000000 AS d
           FROM events),
mx AS (SELECT max(d) AS dmax FROM d),
tagged AS (SELECT k, (mx.dmax - d) // 7 AS per FROM d, mx
           WHERE (mx.dmax - d) // 7 <= 1),
counts AS (SELECT k, per, CAST(count(*) AS BIGINT) AS n
           FROM tagged GROUP BY 1, 2),
ranked AS (SELECT k, per, n,
                  CAST(row_number() OVER (PARTITION BY per
                                          ORDER BY n DESC, k)
                       AS BIGINT) AS r
           FROM counts),
lastp AS (SELECT k, n AS n_last, r AS rank_last FROM ranked
          WHERE per = 0),
prevp AS (SELECT k, n AS n_prev, r AS rank_prev FROM ranked
          WHERE per = 1)
SELECT coalesce(lastp.k, prevp.k) AS event_type,
       CAST(coalesce(n_prev, 0) AS BIGINT) AS n_prev,
       CAST(coalesce(n_last, 0) AS BIGINT) AS n_last,
       rank_prev, rank_last,
       CAST(rank_prev - rank_last AS BIGINT) AS rank_delta
FROM lastp FULL OUTER JOIN prevp ON lastp.k = prevp.k
"""


def q_welch_t(spark, sf_dir):
    """Parametric mean test (stats.welch_t): the dist_drift fixture's
    sides through Welch's t — exact per-side int64 moments, t/df one
    mirrored double chain."""
    from ..operators import stats as st

    ev = _t(spark, sf_dir, "events")
    cents = _cents("value")
    d = ev.where(F.col("value").isNotNull()).select(
        F.when(F.col("event_id") % 2 == 0, F.lit("a"))
        .otherwise(F.lit("b")).alias("side"),
        (cents + F.when((F.col("event_id") % 2 == 1)
                        & (F.col("event_type") == "purchase"),
                        F.lit(500)).otherwise(F.lit(0))).alias("v"))
    return st.welch_t(d, "side", "v")


SQL_WELCH_T = f"""
WITH d AS (
  SELECT CASE WHEN event_id % 2 = 0 THEN 'a' ELSE 'b' END AS side,
         {_cents_sql('value')}
           + CASE WHEN event_id % 2 = 1 AND event_type = 'purchase'
                  THEN 500 ELSE 0 END AS v
  FROM events WHERE value IS NOT NULL),
m AS (SELECT side, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS BIGINT) AS sv,
             CAST(sum(v * v) AS BIGINT) AS q
      FROM d GROUP BY 1),
j AS (SELECT a.n AS na, a.sv AS sa, a.q AS qa,
             b.n AS nb, b.sv AS sb, b.q AS qb
      FROM (SELECT * FROM m WHERE side = 'a') a,
           (SELECT * FROM m WHERE side = 'b') b),
c AS (SELECT na, nb, sa, sb, qa, qb,
             CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
             CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb
      FROM j),
v AS (SELECT *,
             (CAST(qa AS DOUBLE) - CAST(na AS DOUBLE) * ma * ma)
               / (CAST(na AS DOUBLE) - 1.0) / CAST(na AS DOUBLE) AS sea,
             (CAST(qb AS DOUBLE) - CAST(nb AS DOUBLE) * mb * mb)
               / (CAST(nb AS DOUBLE) - 1.0) / CAST(nb AS DOUBLE) AS seb
      FROM c)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST(floor(ma * 1000.0 + 0.5) AS BIGINT) AS mean_a_milli,
       CAST(floor(mb * 1000.0 + 0.5) AS BIGINT) AS mean_b_milli,
       CAST(CASE WHEN na > 1 AND nb > 1 THEN
         floor((ma - mb) / sqrt(sea + seb) * 1000.0 + 0.5)
       END AS BIGINT) AS t_milli,
       CAST(CASE WHEN na > 1 AND nb > 1 THEN
         floor((sea + seb) * (sea + seb)
               / (sea * sea / (CAST(na AS DOUBLE) - 1.0)
                  + seb * seb / (CAST(nb AS DOUBLE) - 1.0))
               * 1000.0 + 0.5)
       END AS BIGINT) AS df_milli,
       CAST(CASE WHEN na > 1 AND nb > 1 THEN
         CASE WHEN abs((ma - mb) / sqrt(sea + seb)) > 1960.0 / 1000.0
              THEN 1 ELSE 0 END
       END AS INT) AS reject
FROM v
"""


def q_topk_overlap(spark, sf_dir):
    """Ranking agreement (stats.topk_overlap): Jaccard@{10,20,50}
    between ranking documents by length vs by the derived score —
    bounded k explodes + one co-keyed join. Oracle re-ranks both
    sides with its own windows."""
    from ..operators import stats as st

    docs = _t(spark, sf_dir, "documents")
    wa = Window.orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    wb = Window.orderBy(((F.col("doc_id") * 37) % 1000).desc(),
                        F.col("doc_id"))
    ra = docs.select(F.col("doc_id").alias("id"),
                     F.row_number().over(wa).cast("bigint")
                     .alias("rank"))
    rb = docs.select(F.col("doc_id").alias("id"),
                     F.row_number().over(wb).cast("bigint")
                     .alias("rank"))
    return st.topk_overlap(ra, rb, ks=(10, 20, 50))


SQL_TOPK_OVERLAP = """
WITH ra AS (SELECT doc_id AS i,
                   row_number() OVER (ORDER BY n_chars DESC, doc_id)
                       AS r
            FROM documents),
rb AS (SELECT doc_id AS i,
              row_number() OVER (ORDER BY (doc_id * 37) % 1000 DESC,
                                 doc_id) AS r
       FROM documents),
ks AS (SELECT unnest([10, 20, 50]) AS k),
ta AS (SELECT k, i FROM ra, ks WHERE r <= k),
tb AS (SELECT k, i FROM rb, ks WHERE r <= k),
m AS (SELECT coalesce(ta.k, tb.k) AS k,
             ta.i IS NOT NULL AND tb.i IS NOT NULL AS hit
      FROM ta FULL OUTER JOIN tb ON ta.k = tb.k AND ta.i = tb.i)
SELECT CAST(k AS BIGINT) AS k,
       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
           AS n_common,
       CAST(1000000 * sum(CASE WHEN hit THEN 1 ELSE 0 END)
            // count(*) AS BIGINT) AS jaccard_ppm
FROM m GROUP BY 1
"""


def q_capture_recapture(spark, sf_dir):
    """Population estimation (stats.capture_recapture): two
    independent deterministic ~40% samples of the documents table —
    Lincoln-Petersen and Chapman estimates recover the true corpus
    size from the overlap. Oracle mirrors the flags and closed
    forms."""
    from ..operators import stats as st

    docs = _t(spark, sf_dir, "documents")

    def flag(salt):
        h = F.conv(F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"),
                           F.lit(salt))), 1, 15), 16, 10) \
            .cast("bigint") % 1_000_000
        return (h < 400_000).cast("int")

    d = docs.select(flag(":cap_a").alias("in_a"),
                    flag(":cap_b").alias("in_b"))
    return st.capture_recapture(d, "in_a", "in_b")


SQL_CAPTURE_RECAPTURE = """
WITH d AS (
  SELECT CASE WHEN CAST(concat('0x',
           substr(md5(CAST(doc_id AS VARCHAR) || ':cap_a'), 1, 15))
           AS BIGINT) % 1000000 < 400000 THEN 1 ELSE 0 END AS ia,
         CASE WHEN CAST(concat('0x',
           substr(md5(CAST(doc_id AS VARCHAR) || ':cap_b'), 1, 15))
           AS BIGINT) % 1000000 < 400000 THEN 1 ELSE 0 END AS ib
  FROM documents),
agg AS (SELECT CAST(sum(ia) AS BIGINT) AS n_a,
               CAST(sum(ib) AS BIGINT) AS n_b,
               CAST(sum(ia * ib) AS BIGINT) AS n_both
        FROM d)
SELECT n_a, n_b, n_both,
       CAST(CASE WHEN n_both > 0 THEN n_a * n_b // n_both END
            AS BIGINT) AS n_hat,
       CAST((n_a + 1) * (n_b + 1) // (n_both + 1) - 1 AS BIGINT)
           AS n_hat_chapman
FROM agg
"""


def _with_stream_state_conf(fn):
    """r6 OPTIMIZATION (guide §1.2 step 3, measured): run a streaming
    gate with its state-store partition count sized for the stream, not
    inherited from the batch shuffle setting. The partition count is
    baked into each streaming checkpoint at first batch, and every state
    partition pays store instantiation + per-batch commit I/O: at 32
    batch shuffle partitions the stream-stream join (4 stores/partition)
    measured 6.5 s vs 2.5 s at 8 partitions on the same data — the cost
    is store/commit overhead, not compute. Production sizes this by
    stream volume; parameterise via SPARK_GRAFT_STREAM_SHUFFLE (default
    8 fits the gate micro-batches at ~12.5k rows/partition; raise it for
    real stream volumes). The emitted rows are partition-independent —
    the oracle gates prove it. Conf is restored afterwards, so batch
    queries are untouched."""
    import functools

    @functools.wraps(fn)
    def wrapped(spark, sf_dir):
        key = "spark.sql.shuffle.partitions"
        old = spark.conf.get(key)
        spark.conf.set(
            key, os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE", "8"))
        try:
            return fn(spark, sf_dir)
        finally:
            spark.conf.set(key, old)
    return wrapped


for _sfn in ("q_stream_first_seen", "q_stream_dirty_tiles",
             "q_stream_windowed_counts", "q_stream_followup",
             "q_stream_distinct", "q_stream_enrich", "q_stream_upsert",
             "q_stream_tile_counts", "q_stream_sessions"):
    globals()[_sfn] = _with_stream_state_conf(globals()[_sfn])


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # spatial
    "geocode": q_geocode,
    "tile_assign": q_tile_assign,
    "hilbert_tile_id": q_hilbert_tile_id,
    "rasterize_heatmap": q_rasterize_heatmap,
    "raster_delta": q_raster_delta,
    "raster_pyramid": q_raster_pyramid,
    "spatial_join_pip": q_spatial_join,
    "tile_agg": q_tile_agg,
    "tile_rollup": q_tile_rollup,
    "tiles_3d_scheme": q_tiles_3d_scheme,
    "geometric_error": q_geometric_error,
    "knn_ring_expansion": q_knn,
    # relational
    "pricing_summary": q_pricing_summary,
    "revenue_by_nation": q_revenue_by_nation,
    "window_top_orders": q_window_top_orders,
    "topk_parts": q_topk_parts,
    "semi_anti_join": q_semi_anti,
    "rollup_flags": q_rollup_flags,
    "events_sessionize": q_events_sessionize,
    "stream_first_seen": q_stream_first_seen,
    "skew_salted_agg": q_skew_salted_agg,
    "adaptive_cell_split": q_adaptive_cell_split,
    "lod_filter_chain": q_lod_filter_chain,
    "events_windowed": q_events_windowed,
    "events_json": q_events_json,
    "codelist_resolve": q_codelist_resolve,
    # text / dedup / similarity
    "text_features": q_text_features,
    "lang_quality_filter": q_lang_quality_filter,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "jaccard_prefix_filter": q_jaccard_prefix_filter,
    "minhash_signatures": q_minhash_signatures,
    "simhash": q_simhash,
    "embedding_topk": q_embedding_topk,
    "embedding_near_dup": q_embedding_near_dup,
    # deterministic LSH blocking / binary plumbing (full oracles)
    "minhash_lsh_verified": q_minhash_lsh_verified,
    "simhash_near_pairs": q_simhash_near,
    "ann_lsh_topk": q_ann_lsh_topk,
    "multimodal_meta": q_multimodal_meta,
    # oracle = golden table from an independent exact-rational reimpl
    "boundary_tiles": q_boundary_tiles,
    # round-2 operators
    "vshift_geoid": q_vshift_geoid,
    "appearance_resolve": q_appearance_resolve,
    "ann_ivf_topk": q_ann_ivf_topk,
    # round-3 webtext operators
    "url_host_stats": q_url_host_stats,
    "crawl_schedule": q_crawl_schedule,
    "robots_decisions": q_robots_decisions,
    "boilerplate_strip": q_boilerplate_strip,
    "url_registered_domain": q_url_registered_domain,
    "extract_text": q_extract_text,
    "domain_cap": q_domain_cap,
    "repetition_quality": q_repetition_quality,
    "chunk_dedup": q_chunk_dedup,
    "pagerank": q_pagerank,
    "pagerank_dangling": q_pagerank_dangling,
    "bfs_depth": q_bfs_depth,
    "dedup_clusters": q_dedup_clusters,
    "dedup_keep_list": q_dedup_keep_list,
    "dedup_keep_best": q_dedup_keep_best,
    "image_features": q_image_features,
    "stratified_sample": q_stratified_sample,
    "decontaminate": q_decontaminate,
    "pack_chunks": q_pack_chunks,
    "pack_composition": q_pack_composition,
    # round-5 temporal joins + bloom prefilter
    "asof_join": q_asof_join,
    "funnel_stages": q_funnel_stages,
    "range_join": q_range_join,
    "decontaminate_bloom": q_decontaminate_bloom,
    "warc_roundtrip": q_warc_roundtrip,
    "geohash_cells": q_geohash_cells,
    # round-5 sketch / sampling / clustering / retrieval
    "heavy_hitters": q_heavy_hitters,
    "weighted_sample": q_weighted_sample,
    "grid_cluster": q_grid_cluster,
    "bm25_topk": q_bm25_topk,
    "phrase_search": q_phrase_search,
    "extract_links": q_extract_links,
    "hll_registers": q_hll_registers,
    "crawl_delta": q_crawl_delta,
    "scd2_history": q_scd2_history,
    "length_quantiles": q_length_quantiles,
    "length_histogram": q_length_histogram,
    "length_quantile_bounds": q_length_quantile_bounds,
    "bottom_k_sample": q_bottom_k_sample,
    "compaction_plan": q_compaction_plan,
    "ingest_e2e": q_ingest_e2e,
    "incremental_dedup": q_incremental_dedup,
    "cms_registers": q_cms_registers,
    "cms_estimate": q_cms_estimate,
    "cms_join_size": q_cms_join_size,
    "hits_scores": q_hits_scores,
    "zonal_stats": q_zonal_stats,
    "dedup_containment": q_dedup_containment,
    "url_templates": q_url_templates,
    "stream_windowed_counts": q_stream_windowed_counts,
    "vacuum_plan": q_vacuum_plan,
    "cohort_retention": q_cohort_retention,
    "hll_tile_rollup": q_hll_tile_rollup,
    "winnow_fingerprints": q_winnow_fingerprints,
    "trustrank": q_trustrank,
    "cocitation": q_cocitation,
    "group_cardinality": q_group_cardinality,
    "dirty_tiles": q_dirty_tiles,
    "incremental_clusters": q_incremental_clusters,
    "stream_dirty_tiles": q_stream_dirty_tiles,
    # round-5 wave 8
    "lm_rarity": q_lm_rarity,
    "paragraph_dedup": q_paragraph_dedup,
    "cdc_dedup": q_cdc_dedup,
    "exact_split": q_exact_split,
    "recrawl_priority": q_recrawl_priority,
    # round-5 wave 9
    "kmv_set_ops": q_kmv_set_ops,
    "decayed_counts": q_decayed_counts,
    "rank_normalize": q_rank_normalize,
    "collocations": q_collocations,
    "label_propagation": q_label_propagation,
    # round-5 wave 10
    "hotspot_regions": q_hotspot_regions,
    "cosine_pairs": q_cosine_pairs,
    "merge_plan": q_merge_plan,
    # round-5 wave 11
    "stream_sessions": q_stream_sessions,
    "stay_points": q_stay_points,
    "distance_band": q_distance_band,
    "anomalous_days": q_anomalous_days,
    # round-5 wave 13
    "k_core": q_k_core,
    # round-5 wave 14
    "ward_geometry": q_ward_geometry,
    "stream_tile_counts": q_stream_tile_counts,
    "bounce_rates": q_bounce_rates,
    # round-5 wave 15
    "degree_histogram": q_degree_histogram,
    "link_reciprocity": q_link_reciprocity,
    "token_entropy": q_token_entropy,
    "ward_density": q_ward_density,
    # round-5 wave 16
    "focal_delta": q_focal_delta,
    "hll_estimate": q_hll_estimate,
    # round-5 wave 17
    "trend_slope": q_trend_slope,
    "mor_read": q_mor_read,
    "stream_followup": q_stream_followup,
    # round-5 wave 18
    "resolve_redirects": q_resolve_redirects,
    "phash_near_dup": q_phash_near_dup,
    "stream_distinct": q_stream_distinct,
    # round-5 wave 19
    "spatial_join_holes": q_spatial_join_holes,
    "skew_salted_join": q_skew_salted_join,
    "stream_enrich": q_stream_enrich,
    # round-5 wave 20
    "sorted_neighborhood": q_sorted_neighborhood,
    "sssp_seeds": q_sssp_seeds,
    "stream_upsert": q_stream_upsert,
    # round-5 wave 21
    "scc_components": q_scc_components,
    "edit_distance_join": q_edit_distance_join,
    "dbscan_clusters": q_dbscan_clusters,
    # round-5 wave 22
    "kmeans_geo": q_kmeans_geo,
    "daily_locf": q_daily_locf,
    "peak_concurrency": q_peak_concurrency,
    # round-5 wave 23
    "cell_hull": q_cell_hull,
    "active_time_union": q_active_time_union,
    "hrw_routing": q_hrw_routing,
    # round-5 wave 24
    "modularity": q_modularity,
    "readability": q_readability,
    "chi2_assoc": q_chi2_assoc,
    # round-5 wave 25
    "frame_sample": q_frame_sample,
    "er_match_scores": q_er_match_scores,
    "ngram_novelty": q_ngram_novelty,
    "wand_topk": q_wand_topk,
    "morans_i": q_morans_i,
    "rolling_activity": q_rolling_activity,
    "html_depth": q_html_depth,
    "segment_intersections": q_segment_intersections,
    "dag_layers": q_dag_layers,
    "contour_cases": q_contour_cases,
    "morton_bbox_scan": q_morton_bbox_scan,
    "golden_record": q_golden_record,
    "lag_autocorr": q_lag_autocorr,
    "cidr_lpm": q_cidr_lpm,
    "bitmap_overlap": q_bitmap_overlap,
    "snap_points": q_snap_points,
    "trimmed_stats": q_trimmed_stats,
    "od_matrix": q_od_matrix,
    "resource_alloc": q_resource_alloc,
    "mann_kendall": q_mann_kendall,
    "clustering_coef": q_clustering_coef,
    "pettitt_shift": q_pettitt_shift,
    "ams_f2": q_ams_f2,
    "anchor_terms": q_anchor_terms,
    "spearman_corr": q_spearman_corr,
    "sitemap_parse": q_sitemap_parse,
    "wkt_parse": q_wkt_parse,
    "hyperball_r2": q_hyperball_r2,
    "theil_sen": q_theil_sen,
    "quadkey_tiles": q_quadkey_tiles,
    "ring_thin": q_ring_thin,
    "pareto_front": q_pareto_front,
    "negative_samples": q_negative_samples,
    "prefix_completions": q_prefix_completions,
    "snippet_extract": q_snippet_extract,
    "soundex_blocking": q_soundex_blocking,
    "covisit_pairs": q_covisit_pairs,
    "rolling_distinct": q_rolling_distinct,
    "table_stats": q_table_stats,
    "ring_orient": q_ring_orient,
    "pair_eval": q_pair_eval,
    "sentence_chunks": q_sentence_chunks,
    "cell_stats": q_cell_stats,
    "mi_assoc": q_mi_assoc,
    "json_key_stats": q_json_key_stats,
    "token_windows": q_token_windows,
    "bootstrap_ci": q_bootstrap_ci,
    "gini_split": q_gini_split,
    "cohens_kappa": q_cohens_kappa,
    "power_iteration": q_power_iteration,
    "mix_plan": q_mix_plan,
    "calibration": q_calibration,
    "ndcg_eval": q_ndcg_eval,
    "auc_roc": q_auc_roc,
    "survival_km": q_survival_km,
    "viewport_topk": q_viewport_topk,
    "tile_diversity": q_tile_diversity,
    "mad_outliers": q_mad_outliers,
    "impute_median": q_impute_median,
    "class_report": q_class_report,
    "random_walks": q_random_walks,
    "dist_drift": q_dist_drift,
    "textrank": q_textrank,
    "sprt_monitor": q_sprt_monitor,
    "fk_candidates": q_fk_candidates,
    "assortativity": q_assortativity,
    "powerlaw_degrees": q_powerlaw_degrees,
    "attribution": q_attribution,
    "heaps_law": q_heaps_law,
    "fisher_scores": q_fisher_scores,
    "stable_uuids": q_stable_uuids,
    "hurst": q_hurst,
    "isotropy": q_isotropy,
    "rich_club": q_rich_club,
    "weighted_topk": q_weighted_topk,
    "ks_test": q_ks_test,
    "weighted_quantiles": q_weighted_quantiles,
    "gravity_decay": q_gravity_decay,
    "vocab_overlap": q_vocab_overlap,
    "bot_scores": q_bot_scores,
    "fdr_bh": q_fdr_bh,
    "pr_curve": q_pr_curve,
    "corr_matrix": q_corr_matrix,
    "tracking_params": q_tracking_params,
    "activity_streaks": q_activity_streaks,
    "overdispersion": q_overdispersion,
    "assoc_rules": q_assoc_rules,
    "cluster_purity": q_cluster_purity,
    "smoothed_rates": q_smoothed_rates,
    "entry_exit": q_entry_exit,
    "interpolate_daily": q_interpolate_daily,
    "odds_ratio": q_odds_ratio,
    "cramers_v": q_cramers_v,
    "gini_traffic": q_gini_traffic,
    "zipf_fit": q_zipf_fit,
    "lorenz_points": q_lorenz_points,
    "new_returning": q_new_returning,
    "rank_movers": q_rank_movers,
    "welch_t": q_welch_t,
    "topk_overlap": q_topk_overlap,
    "capture_recapture": q_capture_recapture,
    "idw_surface": q_idw_surface,
    "tile_top_sources": q_tile_top_sources,
    "interarrival_quantiles": q_interarrival_quantiles,
    "pii_redact": q_pii_redact,
    "focal_stats": q_focal_stats,
    "triangle_listing": q_triangle_listing,
    "session_transitions": q_session_transitions,
    "tfidf_terms": q_tfidf_terms,
}

ORACLES: dict[str, str] = {
    "geocode": SQL_GEOCODE,
    "tile_assign": SQL_TILE_ASSIGN,
    "hilbert_tile_id": SQL_HILBERT,
    "rasterize_heatmap": SQL_RASTERIZE,
    "raster_delta": SQL_RASTER_DELTA,
    "raster_pyramid": SQL_RASTER_PYRAMID,
    "spatial_join_pip": SQL_SPATIAL_JOIN,
    "tile_agg": SQL_TILE_AGG,
    "tile_rollup": SQL_TILE_ROLLUP,
    "tiles_3d_scheme": SQL_TILES_3D,
    "geometric_error": SQL_GEOMETRIC_ERROR,
    "knn_ring_expansion": SQL_KNN,
    "pricing_summary": SQL_PRICING,
    "revenue_by_nation": SQL_REVENUE_NATION,
    "window_top_orders": SQL_WINDOW_TOP,
    "topk_parts": SQL_TOPK_PARTS,
    "semi_anti_join": SQL_SEMI_ANTI,
    "rollup_flags": SQL_ROLLUP,
    "events_sessionize": SQL_SESSIONIZE,
    "stream_first_seen": SQL_STREAM_FIRST_SEEN,
    "skew_salted_agg": SQL_SKEW_SALTED_AGG,
    "adaptive_cell_split": SQL_ADAPTIVE_CELL_SPLIT,
    "lod_filter_chain": SQL_LOD_FILTER_CHAIN,
    "events_windowed": SQL_EVENTS_WINDOWED,
    "events_json": SQL_EVENTS_JSON,
    "codelist_resolve": SQL_CODELIST,
    "text_features": SQL_TEXT_FEATURES,
    "lang_quality_filter": SQL_LANG_QUALITY,
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_ngram_jaccard": SQL_NGRAM_JACCARD,
    "jaccard_prefix_filter": SQL_JACCARD_PREFIX,
    "minhash_signatures": SQL_MINHASH,
    "simhash": SQL_SIMHASH,
    "embedding_topk": SQL_EMB_TOPK,
    "embedding_near_dup": SQL_EMB_NEAR_DUP,
    "minhash_lsh_verified": SQL_MINHASH_LSH,
    "simhash_near_pairs": SQL_SIMHASH_NEAR,
    "ann_lsh_topk": SQL_ANN_LSH,
    "multimodal_meta": SQL_MULTIMODAL_META,
    "boundary_tiles": SQL_BOUNDARY_TILES,
    "vshift_geoid": SQL_VSHIFT,
    "appearance_resolve": SQL_APPEARANCE,
    "ann_ivf_topk": SQL_ANN_IVF,
    "url_host_stats": SQL_URL_HOST_STATS,
    "crawl_schedule": SQL_CRAWL_SCHEDULE,
    "robots_decisions": SQL_ROBOTS_DECISIONS,
    "boilerplate_strip": SQL_BOILERPLATE_STRIP,
    "url_registered_domain": SQL_URL_REGISTERED_DOMAIN,
    "extract_text": SQL_EXTRACT_TEXT,
    "domain_cap": SQL_DOMAIN_CAP,
    "repetition_quality": SQL_REPETITION,
    "chunk_dedup": SQL_CHUNK_DEDUP,
    "pagerank": SQL_PAGERANK,
    "pagerank_dangling": SQL_PAGERANK_DANGLING,
    "bfs_depth": SQL_BFS_DEPTH,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "dedup_keep_list": SQL_DEDUP_KEEP_LIST,
    "dedup_keep_best": SQL_DEDUP_KEEP_BEST,
    "image_features": SQL_IMAGE_FEATURES,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "decontaminate": SQL_DECONTAMINATE,
    "pack_chunks": SQL_PACK_CHUNKS,
    "pack_composition": SQL_PACK_COMPOSITION,
    "asof_join": SQL_ASOF_JOIN,
    "funnel_stages": SQL_FUNNEL_STAGES,
    "range_join": SQL_RANGE_JOIN,
    "decontaminate_bloom": SQL_DECONTAMINATE_BLOOM,
    "warc_roundtrip": SQL_WARC_ROUNDTRIP,
    "geohash_cells": SQL_GEOHASH_CELLS,
    "heavy_hitters": SQL_HEAVY_HITTERS,
    "weighted_sample": SQL_WEIGHTED_SAMPLE,
    "grid_cluster": SQL_GRID_CLUSTER,
    "bm25_topk": SQL_BM25_TOPK,
    "phrase_search": SQL_PHRASE_SEARCH,
    "extract_links": SQL_EXTRACT_LINKS,
    "hll_registers": SQL_HLL_REGISTERS,
    "crawl_delta": SQL_CRAWL_DELTA,
    "scd2_history": SQL_SCD2_HISTORY,
    "length_quantiles": SQL_LENGTH_QUANTILES,
    "length_histogram": SQL_LENGTH_HISTOGRAM,
    "length_quantile_bounds": SQL_LENGTH_QUANTILE_BOUNDS,
    "bottom_k_sample": SQL_BOTTOM_K_SAMPLE,
    "compaction_plan": SQL_COMPACTION_PLAN,
    "ingest_e2e": SQL_INGEST_E2E,
    "incremental_dedup": SQL_INCREMENTAL_DEDUP,
    "cms_registers": SQL_CMS_REGISTERS,
    "cms_estimate": SQL_CMS_ESTIMATE,
    "cms_join_size": SQL_CMS_JOIN_SIZE,
    "hits_scores": SQL_HITS,
    "zonal_stats": SQL_ZONAL_STATS,
    "dedup_containment": SQL_DEDUP_CONTAINMENT,
    "url_templates": SQL_URL_TEMPLATES,
    "stream_windowed_counts": SQL_STREAM_WINDOWED,
    "vacuum_plan": SQL_VACUUM_PLAN,
    "cohort_retention": SQL_COHORT_RETENTION,
    "hll_tile_rollup": SQL_HLL_TILE_ROLLUP,
    "winnow_fingerprints": SQL_WINNOW,
    "trustrank": SQL_TRUSTRANK,
    "cocitation": SQL_COCITATION,
    "group_cardinality": SQL_GROUP_CARDINALITY,
    "dirty_tiles": SQL_DIRTY_TILES,
    "incremental_clusters": SQL_INCREMENTAL_CLUSTERS,
    "stream_dirty_tiles": SQL_STREAM_DIRTY_TILES,
    # round-5 wave 8
    "lm_rarity": SQL_LM_RARITY,
    "paragraph_dedup": SQL_PARAGRAPH_DEDUP,
    "cdc_dedup": SQL_CDC_DEDUP,
    "exact_split": SQL_EXACT_SPLIT,
    "recrawl_priority": SQL_RECRAWL_PRIORITY,
    # round-5 wave 9
    "kmv_set_ops": SQL_KMV_SET_OPS,
    "decayed_counts": SQL_DECAYED_COUNTS,
    "rank_normalize": SQL_RANK_NORMALIZE,
    "collocations": SQL_COLLOCATIONS,
    "label_propagation": SQL_LABEL_PROPAGATION,
    # round-5 wave 10
    "hotspot_regions": SQL_HOTSPOT_REGIONS,
    "cosine_pairs": SQL_COSINE_PAIRS,
    "merge_plan": SQL_MERGE_PLAN,
    # round-5 wave 11
    "stream_sessions": SQL_STREAM_SESSIONS,
    "stay_points": SQL_STAY_POINTS,
    "distance_band": _sql_distance_band(),
    "anomalous_days": SQL_ANOMALOUS_DAYS,
    # round-5 wave 13
    "k_core": SQL_K_CORE,
    # round-5 wave 14
    "ward_geometry": SQL_WARD_GEOMETRY,
    "stream_tile_counts": SQL_STREAM_TILE_COUNTS,
    "bounce_rates": SQL_BOUNCE_RATES,
    # round-5 wave 15
    "degree_histogram": SQL_DEGREE_HISTOGRAM,
    "link_reciprocity": SQL_LINK_RECIPROCITY,
    "token_entropy": SQL_TOKEN_ENTROPY,
    "ward_density": SQL_WARD_DENSITY,
    # round-5 wave 16
    "focal_delta": SQL_FOCAL_DELTA,
    "hll_estimate": SQL_HLL_ESTIMATE,
    # round-5 wave 17
    "trend_slope": SQL_TREND_SLOPE,
    "mor_read": SQL_MOR_READ,
    "stream_followup": SQL_STREAM_FOLLOWUP,
    # round-5 wave 18
    "resolve_redirects": SQL_RESOLVE_REDIRECTS,
    "phash_near_dup": SQL_PHASH_NEAR_DUP,
    "stream_distinct": SQL_STREAM_DISTINCT,
    # round-5 wave 19
    "spatial_join_holes": SQL_SPATIAL_JOIN_HOLES,
    "skew_salted_join": SQL_SKEW_SALTED_JOIN,
    "stream_enrich": SQL_STREAM_ENRICH,
    # round-5 wave 20
    "sorted_neighborhood": SQL_SORTED_NEIGHBORHOOD,
    "sssp_seeds": SQL_SSSP_SEEDS,
    "stream_upsert": SQL_STREAM_UPSERT,
    # round-5 wave 21
    "scc_components": SQL_SCC_COMPONENTS,
    "edit_distance_join": SQL_EDIT_DISTANCE_JOIN,
    "dbscan_clusters": _sql_dbscan_clusters(),
    # round-5 wave 22
    "kmeans_geo": _sql_kmeans_geo(),
    "daily_locf": SQL_DAILY_LOCF,
    "peak_concurrency": SQL_PEAK_CONCURRENCY,
    # round-5 wave 23
    "cell_hull": _sql_cell_hull(),
    "active_time_union": SQL_ACTIVE_TIME_UNION,
    "hrw_routing": _sql_hrw_routing(),
    # round-5 wave 24
    "modularity": SQL_MODULARITY,
    "readability": SQL_READABILITY,
    "chi2_assoc": SQL_CHI2_ASSOC,
    # round-5 wave 25
    "frame_sample": SQL_FRAME_SAMPLE,
    "er_match_scores": SQL_ER_MATCH_SCORES,
    "ngram_novelty": SQL_NGRAM_NOVELTY,
    "wand_topk": SQL_WAND_TOPK,
    "morans_i": SQL_MORANS_I,
    "rolling_activity": SQL_ROLLING_ACTIVITY,
    "html_depth": SQL_HTML_DEPTH,
    "segment_intersections": SQL_SEGMENT_INTERSECTIONS,
    "dag_layers": SQL_DAG_LAYERS,
    "contour_cases": SQL_CONTOUR_CASES,
    "morton_bbox_scan": SQL_MORTON_BBOX_SCAN,
    "golden_record": SQL_GOLDEN_RECORD,
    "lag_autocorr": SQL_LAG_AUTOCORR,
    "cidr_lpm": SQL_CIDR_LPM,
    "bitmap_overlap": SQL_BITMAP_OVERLAP,
    "snap_points": SQL_SNAP_POINTS,
    "trimmed_stats": SQL_TRIMMED_STATS,
    "od_matrix": SQL_OD_MATRIX,
    "resource_alloc": SQL_RESOURCE_ALLOC,
    "mann_kendall": SQL_MANN_KENDALL,
    "clustering_coef": SQL_CLUSTERING_COEF,
    "pettitt_shift": SQL_PETTITT_SHIFT,
    "ams_f2": SQL_AMS_F2,
    "anchor_terms": SQL_ANCHOR_TERMS,
    "spearman_corr": SQL_SPEARMAN_CORR,
    "sitemap_parse": SQL_SITEMAP_PARSE,
    "wkt_parse": SQL_WKT_PARSE,
    "hyperball_r2": SQL_HYPERBALL_R2,
    "theil_sen": SQL_THEIL_SEN,
    "quadkey_tiles": SQL_QUADKEY_TILES,
    "ring_thin": SQL_RING_THIN,
    "pareto_front": SQL_PARETO_FRONT,
    "negative_samples": SQL_NEGATIVE_SAMPLES,
    "prefix_completions": SQL_PREFIX_COMPLETIONS,
    "snippet_extract": SQL_SNIPPET_EXTRACT,
    "soundex_blocking": SQL_SOUNDEX_BLOCKING,
    "covisit_pairs": SQL_COVISIT_PAIRS,
    "rolling_distinct": SQL_ROLLING_DISTINCT,
    "table_stats": SQL_TABLE_STATS,
    "ring_orient": SQL_RING_ORIENT,
    "pair_eval": SQL_PAIR_EVAL,
    "sentence_chunks": SQL_SENTENCE_CHUNKS,
    "cell_stats": SQL_CELL_STATS,
    "mi_assoc": SQL_MI_ASSOC,
    "json_key_stats": SQL_JSON_KEY_STATS,
    "token_windows": SQL_TOKEN_WINDOWS,
    "bootstrap_ci": SQL_BOOTSTRAP_CI,
    "gini_split": SQL_GINI_SPLIT,
    "cohens_kappa": SQL_COHENS_KAPPA,
    "power_iteration": SQL_POWER_ITERATION,
    "mix_plan": SQL_MIX_PLAN,
    "calibration": SQL_CALIBRATION,
    "ndcg_eval": SQL_NDCG_EVAL,
    "auc_roc": SQL_AUC_ROC,
    "survival_km": SQL_SURVIVAL_KM,
    "viewport_topk": SQL_VIEWPORT_TOPK,
    "tile_diversity": SQL_TILE_DIVERSITY,
    "mad_outliers": SQL_MAD_OUTLIERS,
    "impute_median": SQL_IMPUTE_MEDIAN,
    "class_report": SQL_CLASS_REPORT,
    "random_walks": SQL_RANDOM_WALKS,
    "dist_drift": SQL_DIST_DRIFT,
    "textrank": SQL_TEXTRANK,
    "sprt_monitor": SQL_SPRT_MONITOR,
    "fk_candidates": SQL_FK_CANDIDATES,
    "assortativity": SQL_ASSORTATIVITY,
    "powerlaw_degrees": SQL_POWERLAW_DEGREES,
    "attribution": SQL_ATTRIBUTION,
    "heaps_law": SQL_HEAPS_LAW,
    "fisher_scores": SQL_FISHER_SCORES,
    "stable_uuids": SQL_STABLE_UUIDS,
    "hurst": SQL_HURST,
    "isotropy": SQL_ISOTROPY,
    "rich_club": SQL_RICH_CLUB,
    "weighted_topk": SQL_WEIGHTED_TOPK,
    "ks_test": SQL_KS_TEST,
    "weighted_quantiles": SQL_WEIGHTED_QUANTILES,
    "gravity_decay": SQL_GRAVITY_DECAY,
    "vocab_overlap": SQL_VOCAB_OVERLAP,
    "bot_scores": SQL_BOT_SCORES,
    "fdr_bh": SQL_FDR_BH,
    "pr_curve": SQL_PR_CURVE,
    "corr_matrix": SQL_CORR_MATRIX,
    "tracking_params": SQL_TRACKING_PARAMS,
    "activity_streaks": SQL_ACTIVITY_STREAKS,
    "overdispersion": SQL_OVERDISPERSION,
    "assoc_rules": SQL_ASSOC_RULES,
    "cluster_purity": SQL_CLUSTER_PURITY,
    "smoothed_rates": SQL_SMOOTHED_RATES,
    "entry_exit": SQL_ENTRY_EXIT,
    "interpolate_daily": SQL_INTERPOLATE_DAILY,
    "odds_ratio": SQL_ODDS_RATIO,
    "cramers_v": SQL_CRAMERS_V,
    "gini_traffic": SQL_GINI_TRAFFIC,
    "zipf_fit": SQL_ZIPF_FIT,
    "lorenz_points": SQL_LORENZ_POINTS,
    "new_returning": SQL_NEW_RETURNING,
    "rank_movers": SQL_RANK_MOVERS,
    "welch_t": SQL_WELCH_T,
    "topk_overlap": SQL_TOPK_OVERLAP,
    "capture_recapture": SQL_CAPTURE_RECAPTURE,
    "idw_surface": SQL_IDW_SURFACE,
    "tile_top_sources": SQL_TILE_TOP_SOURCES,
    "interarrival_quantiles": SQL_INTERARRIVAL_QUANTILES,
    "pii_redact": SQL_PII_REDACT,
    "focal_stats": SQL_FOCAL_STATS,
    "triangle_listing": SQL_TRIANGLES,
    "session_transitions": SQL_SESSION_TRANSITIONS,
    "tfidf_terms": SQL_TFIDF_TERMS,
}
