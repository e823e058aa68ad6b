"""Raster and tile gates: square-tile assignment and Hilbert ids, tile
aggregates and rollups, the 3D-tiles scheme, geohash/quadkey cells, and
the raster operators (heatmaps, pyramids, focal and zonal statistics,
hotspots, contours, Moran's I, IDW surfaces)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ...functions import geo
from ...operators import tile_assign as ta
from ...sources import fixtures as fx
from ._common import (
    MX_SQL, MY_SQL, POINTS_CTE, _points_df, _t, _tile_xy_sql, gate,
)


_TX, _TY = _tile_xy_sql("z")


SQL_TILE_ASSIGN = f"""
WITH {POINTS_CTE},
zs AS (SELECT CAST(u.z AS INT) AS z FROM UNNEST(range(7, 16)) AS u(z))
SELECT doc_id, z, {_TX} AS x, {_TY} AS y
FROM pts, zs
"""


@gate(SQL_TILE_ASSIGN)
def q_tile_assign(spark, sf_dir):
    """G1/G2 point path: explode into z 7..15 square tiles (Catalyst only)."""
    pts = _points_df(spark, sf_dir)
    return (ta.assign_point_tiles(pts, 7, 15, with_tile_id=False)
            .select("doc_id", "z", "x", "y"))


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


@gate(SQL_RASTERIZE)
def q_rasterize_heatmap(spark, sf_dir):
    """Raster<->vector bridge (operators/raster.py): rasterize the
    synthetic points onto the z=11 mercator pixel grid (16 px/tile),
    count points per non-empty pixel (the sparse heatmap-tile
    representation), then map each pixel BACK to vector space as a
    micro-degree lng/lat bbox via exact inverse mercator. The oracle
    re-derives pixel indices and the inverse projection with the same
    op order (float determinism per the module-header rules)."""
    from ...operators import raster as ra

    pts = _points_df(spark, sf_dir)
    r = ra.rasterize_points(pts, zoom=11, tile_px=16)
    return ra.raster_cell_bounds(r, zoom=11, tile_px=16)


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


@gate(SQL_RASTER_DELTA)
def q_raster_delta(spark, sf_dir):
    """Incremental raster maintenance (raster.apply_raster_delta): stored
    z=11 heatmap raster + snapshot delta (removed docs at old location,
    changed docs moved +25000 µdeg east, added docs at fresh ids) —
    proven LOSSLESS against the oracle's full re-rasterization of the
    new snapshot (linearity of the count aggregate)."""
    from ...operators import raster as ra

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


@gate(SQL_RASTER_PYRAMID)
def q_raster_pyramid(spark, sf_dir):
    """Raster pyramid rollup (raster.raster_downsample): rasterize ONCE
    at z=11 then derive z=9 by integer pixel floor-division + count sum.
    The oracle rasterizes the points DIRECTLY at z=9 — proving the
    downsample is exactly equivalent to re-rasterizing at the lower
    zoom (the floor/wrap/clamp commutation the docstring claims)."""
    from ...operators import raster as ra

    pts = _points_df(spark, sf_dir)
    r11 = ra.rasterize_points(pts, zoom=11, tile_px=16)
    return ra.raster_downsample(r11, levels=2, tile_px=16)


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


@gate(SQL_HILBERT)
def q_hilbert_tile_id(spark, sf_dir):
    """G8: PMTiles Hilbert ids for the z12..15 tiles (Catalyst table fold)."""
    pts = _points_df(spark, sf_dir)
    return (ta.assign_point_tiles(pts, 12, 15, with_tile_id=True)
            .select("doc_id", "z", "x", "y", "tile_id"))


_TXC, _TYC = _tile_xy_sql("12")


SQL_TILE_AGG = f"""
WITH {POINTS_CTE}
SELECT {_TXC} AS x, {_TYC} AS y,
       CAST(count(*) AS BIGINT) AS n_pages,
       min(lng_udeg) AS min_lng, max(lng_udeg) AS max_lng,
       min(lat_udeg) AS min_lat, max(lat_udeg) AS max_lat
FROM pts GROUP BY 1, 2
"""


@gate(SQL_TILE_AGG)
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


@gate(SQL_TILE_ROLLUP)
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


def _msb_case_sql(v: str, maxbits: int = 11) -> str:
    """msb(v) per scheme.rs:6-8 as a CASE chain (v < 2^maxbits)."""
    cases = " ".join(
        f"WHEN {v} >= {1 << (b - 1)} THEN {b}"
        for b in range(maxbits, 0, -1))
    return f"(CASE {cases} ELSE 0 END)"


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


@gate(SQL_TILES_3D)
def q_tiles_3d_scheme(spark, sf_dir):
    """G5: the reference's non-square 3D-Tiles scheme at z=12 — pole-widened
    x_step, linear-latitude rows (scheme.rs:10-38); NumPy kernel in an Arrow
    UDF on the Spark side, integer CASE arithmetic in the oracle."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from ...kernels import tiling

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


@gate(SQL_GEOMETRIC_ERROR)
def q_geometric_error(spark, sf_dir):
    """G7: geometric_error over all valid (z, y) for z in 2..8 — quantized
    to 1e-3 (cos is the only transcendental; both engines read identical
    doubles)."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from ...kernels import tiling

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


def _boundary_tiles_sql() -> str:
    from ..boundary_tiles_golden import ROWS

    vals = ",\n  ".join(f"('{f}', '{t}', {z}, {n})" for f, t, z, n in ROWS)
    return ("SELECT feature_id, typename, CAST(z AS INT) AS z, "
            "CAST(n_tiles AS BIGINT) AS n_tiles FROM (VALUES\n  "
            f"{vals}) AS g(feature_id, typename, z, n_tiles)")


SQL_BOUNDARY_TILES = _boundary_tiles_sql()


@gate(SQL_BOUNDARY_TILES)
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
    from ...functions.geo import GEOHASH_ALPHABET
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


@gate(SQL_GEOHASH_CELLS)
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


@gate(SQL_ZONAL_STATS)
def q_zonal_stats(spark, sf_dir):
    """Zonal statistics (raster.zonal_stats): the z=11 density raster
    aggregated inside 25 vector zones (a 5x5 udeg-grid tessellation of
    the fixture extent keyed by n_nationkey) — per zone the covered
    non-empty cell count, point total, and peak density. Spark routes
    zone fragments to raster cells via tile-key equi-join; the oracle is
    an independent pixel-range BETWEEN join — same inclusive-corner
    semantics, different join strategy."""
    from ...operators import raster as ra

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


@gate(SQL_HOTSPOT_REGIONS)
def q_hotspot_regions(spark, sf_dir):
    """Map-algebra region labeling (raster.hotspot_regions): threshold
    the z=11 point-density raster at >= 2 points/pixel and label
    4-adjacent hot pixels with connected components (region id = min
    global-pixel key).  Two map-side neighbor equi-joins + alternating
    CC; oracle re-derives the raster (the rasterize CTE) and labels via
    an independent recursive-closure CTE."""
    from ...operators import raster as ra

    pts = _points_df(spark, sf_dir)
    r = ra.rasterize_points(pts, zoom=11, tile_px=16)
    return ra.hotspot_regions(r, min_count=2, tile_px=16)


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


@gate(SQL_FOCAL_DELTA)
def q_focal_delta(spark, sf_dir):
    """Incremental FOCAL-raster maintenance (raster.apply_focal_delta):
    the box filter is linear in the input raster, so the stored
    smoothed heatmap updates from the snapshot delta alone
    (prev + focal(rast(added)) - focal(rast(removed))). Same snapshot
    delta fixture as raster_delta (removed %17|%13, %13 moved +25000
    µdeg east, %19 added at fresh ids), z=8 / 16 px so neighborhoods
    genuinely overlap. Oracle = FULL rasterize-then-focal recompute of
    the new snapshot — losslessness by linearity."""
    from ...operators import raster as ra

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


@gate(SQL_IDW_SURFACE)
def q_idw_surface(spark, sf_dir):
    """Inverse-distance-weighted surface (raster.idw_surface): n_chars
    interpolated onto a 40k-µdeg grid with the integer 1/(1+d^2) kernel
    over a 3x3-cell support — two map-side explodes + ONE partial-agg
    groupBy, every weight and quotient exact integer DIVs. Oracle
    re-derives the scatter with UNNEST offsets."""
    from ...operators import raster as ra

    docs = _t(spark, sf_dir, "documents")
    lng, lat = geo.point_udeg_cols(F.col("doc_id"))
    samples = docs.select("n_chars", lng, lat)
    return ra.idw_surface(samples, cell_udeg=40000, value_col="n_chars")


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


@gate(SQL_FOCAL_STATS)
def q_focal_stats(spark, sf_dir):
    """Focal box-filter sum (raster.focal_stats): rasterize the synthetic
    points at z=8 (16 px/tile, 4096-pixel world — coarse enough that
    neighborhoods genuinely overlap at sf0.01), then the 3x3 moving-
    window sum in sparse scatter form: two map-side explodes + ONE
    partial-agg groupBy. x wraps, y clamps (drop past the poles) —
    exactly rasterize's edge rule. Oracle = neighbor-offset cross join
    over the same raster CTE."""
    from ...operators import raster as ra

    pts = _points_df(spark, sf_dir)
    r = ra.rasterize_points(pts, zoom=8, tile_px=16)
    return ra.focal_stats(r, zoom=8, tile_px=16, radius=1)


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


@gate(SQL_MORANS_I)
def q_morans_i(spark, sf_dir):
    """Global Moran's I spatial autocorrelation (raster.morans_i) of the
    z=8 point-density raster: rook adjacency between non-empty pixels,
    integer-exact moments (d_i = n·x_i − S), the ratio via one
    fixed-order scalar double chain. Oracle re-derives the raster, the
    adjacency via per-axis equi-joins with an abs()=1 filter (an
    independent formulation of rook neighbours vs Spark's 4-offset
    explode), and the same exact integer moments."""
    from ...operators import raster as ra

    pts = _points_df(spark, sf_dir)
    r = ra.rasterize_points(pts, zoom=8, tile_px=16)
    return ra.morans_i(r, tile_px=16)


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


@gate(SQL_CONTOUR_CASES)
def q_contour_cases(spark, sf_dir):
    """Marching-squares contour classification (raster.contour_cases) of
    the z=11 occupancy raster at iso-level 1: per 2x2 block the 4-bit
    case id and segment count, computed by a map-side bit-weight scatter
    + one sum agg over ONLY the set pixels. Oracle recomputes set pixels
    and classifies blocks via four LEFT JOIN corner probes — an
    independent join-based formulation of the same case table."""
    from ...operators import raster as ra

    pts = _points_df(spark, sf_dir)
    r = ra.rasterize_points(pts, zoom=11, tile_px=16)
    out = ra.contour_cases(r, thr=1, tile_px=16)
    return out.select(F.col("bx").alias("cell_x"),
                      F.col("by").alias("cell_y"),
                      "case_id", "n_segments")


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


@gate(SQL_QUADKEY_TILES)
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
