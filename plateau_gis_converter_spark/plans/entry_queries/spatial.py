"""Vector-geometry gates: geocoding, the broadcast point-in-polygon join,
distances and k-nearest neighbours, clustering of points, polygon and
segment geometry, Z-order scans, geoid heights and appearance lookup."""

from __future__ import annotations

from pyspark.sql import functions as F

from ...functions import geo
from ...operators import geocode as gc
from ...operators import spatial_join as sj
from ...sources import fixtures as fx
from ...sources.local import local_relation
from ._common import (
    POINTS_CTE, _POINTS_SQL_LAT, _POINTS_SQL_LNG, _points_df, _t, gate,
)


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


@gate(SQL_GEOCODE)
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


SQL_SPATIAL_JOIN = f"""
WITH {POINTS_CTE},
b(ward_code, x1, y1, x2, y2, x3, y3, x4, y4) AS (VALUES
    {fx.boundaries_sql_values()})
SELECT p.doc_id, b.ward_code
FROM pts p JOIN b ON {fx.PIP_CONVEX_SQL}
ORDER BY p.doc_id, b.ward_code
"""


@gate(SQL_SPATIAL_JOIN)
def q_spatial_join_pip(spark, sf_dir):
    """Broadcast cell join + exact integer PIP refine (operators/spatial_join)."""
    pts = _points_df(spark, sf_dir)
    recs = fx.tessellation_records()
    out = sj.spatial_join_points(spark, pts, recs)
    return out.select("doc_id", "ward_code").orderBy("doc_id", "ward_code")


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


@gate(SQL_KNN)
def q_knn_ring_expansion(spark, sf_dir):
    """kNN via tile ring expansion (operators/knn.py): every 25th doc-point
    queries its 3 nearest neighbor points (haversine, deterministic
    vec-id tie-break). Distances reported in integer millimeters."""
    from ...operators import knn as knn_op

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


@gate(SQL_VSHIFT)
def q_vshift_geoid(spark, sf_dir):
    """T1 vertical shift over the synthetic geoid grid: derived doc points
    get ellipsoidal height = bilinear undulation + (doc_id % 17). Exact
    cross-engine arithmetic: the grid values are integer-formula-derived,
    and the bilinear expression uses the identical op order in the SQL
    oracle (kernels/geoid.py; vshift.rs:16-21 contract)."""
    from ...kernels.geoid import synthetic_tokyo_grid
    from ...operators import projection as prj

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


@gate(SQL_APPEARANCE)
def q_appearance_resolve(spark, sf_dir):
    """T3/J1: theme resolution + span->material painting over deterministic
    dimension tables derived from documents. Entities: one per doc with
    1 + doc_id%3 polygons; themes: rgbTexture iff doc_id%3==0, FMETheme iff
    doc_id%2==0 (some both, some neither); spans: one covering span
    (surface 10*doc_id -> material doc_id%7 under rgbTexture, 99 under
    FMETheme) plus, when doc_id%4==0, a later span over poly 0 only
    (surface 10*doc_id+1 -> material (doc_id+1)%7, rgbTexture only) that
    must win the overlap."""
    from ...operators import appearance as ap

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


@gate(SQL_GRID_CLUSTER)
def q_grid_cluster(spark, sf_dir):
    """Grid-density spatial clustering (operators/spatial_cluster.py,
    DBSCAN-lite): points snap to an eps=4000-udeg integer grid, cells
    with >= 3 points are core, 8-adjacent core cells merge via the
    alternating-CC operator (clustering runs on CELLS, never points),
    labels = min packed cell key, non-core points are noise (-1).
    Oracle: an independent DuckDB RECURSIVE-CTE transitive closure over
    the same integer cells (inequality-join adjacency, fixpoint by
    label reachability — not a port of the star-contraction rounds)."""
    from ...operators import spatial_cluster as sc

    pts = _points_df(spark, sf_dir)
    out = sc.grid_cluster(pts, eps_udeg=4000, min_count=3)
    return out.select("doc_id", "cell", "cluster")


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


@gate(SQL_SPATIAL_JOIN_HOLES)
def q_spatial_join_holes(spark, sf_dir):
    """General-polygon spatial join (spatial_join_points' even-odd path):
    exact INTEGER even-odd ray-cast refinement over concave + holed
    polygons (fixtures.holed_records — a donut whose hole swallows dense
    center #1, a concave L, a triangle), per the north-star's "exact
    ray-casting point-in-polygon refinement". Spark prunes candidates
    through the z12 covering-cell broadcast index; the oracle brute-forces
    ALL points x ALL polygon edges with the identical integer crossing
    predicate — so the gate simultaneously proves the cell index lossless
    AND the Arrow kernel's parity bit-for-bit."""
    pts = _points_df(spark, sf_dir)
    out = sj.spatial_join_points(spark, pts, fx.holed_records())
    return out.select("doc_id", "ward_code").orderBy("doc_id", "ward_code")


def _sql_dbscan_clusters() -> str:
    from ...operators import geodesy as gd

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


@gate(_sql_dbscan_clusters())
def q_dbscan_clusters(spark, sf_dir):
    """Deterministic DBSCAN (clustering.dbscan_clusters) over the
    document points: eps = 250 m haversine, minPts = 4 (self included).
    Spark: covering-cell candidate pairs -> neighbor-count agg -> core
    filter -> alternating-CC over core-core edges -> min-label border
    assignment. Oracle: brute-force all-pairs adjacency + recursive
    closure over core-core edges + the same min-label border rule — one
    gate proves candidate recall AND the cluster/role labeling."""
    from ...operators import clustering as cl

    pts = _points_df(spark, sf_dir)
    return cl.dbscan_clusters(pts, radius_m=250.0, min_pts=4)


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


@gate(_sql_kmeans_geo())
def q_kmeans_geo(spark, sf_dir):
    """Integer-exact k-means (clustering.kmeans_lloyd_int): 3 Lloyd
    iterations, k=5, seeded with the 5 smallest-id points — the IVF
    coarse-quantizer trainer reduced to an oracle-checkable integer
    form (bigint coords, integer squared distance, ties -> smaller
    centroid id, centroid update = sum DIV count). Oracle unrolls the
    same three assign/update rounds as CTEs."""
    from ...operators import clustering as cl

    pts = _points_df(spark, sf_dir)
    return cl.kmeans_lloyd_int(pts, k=5, iters=3)


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


@gate(_sql_cell_hull())
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
    from ...operators import geometry as gm

    pts = _points_df(spark, sf_dir).where(F.col("doc_id") % 10 >= 4)
    cells = pts.select(
        (F.floor(F.col("lng_udeg") / 100000) * 100000
         + F.floor(F.col("lat_udeg") / 100000)).alias("cell"),
        F.col("lng_udeg").alias("x"), F.col("lat_udeg").alias("y"))
    return gm.convex_hull_vertices(cells, "cell", "x", "y")


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


@gate(SQL_WARD_DENSITY)
def q_ward_density(spark, sf_dir):
    """Ward page density — the geometry x spatial-join composition:
    PIP-joined page counts per ward divided by the exact shoelace area
    (pages per 1e9 µdeg^2, integer DIV). Composes spatial_join_points
    with operators/geometry over the same fixture quads; oracle = PIP
    counts joined to the closed-form quad shoelace."""
    from ...operators import geometry as gm

    pts = _points_df(spark, sf_dir)
    recs = fx.tessellation_records()
    joined = sj.spatial_join_points(spark, pts, recs)
    counts = joined.groupBy("ward_code").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pages"))
    rows = []
    for rec in recs:
        for i, (x, y) in enumerate(rec["rings_udeg"][0]):
            rows.append((rec["ward_code"], i, x, y))
    verts = local_relation(spark, rows,
                           "poly_id string, i int, x long, y long")
    geom = gm.ring_area2_centroid(verts).withColumnRenamed(
        "poly_id", "ward_code")
    return (counts.join(geom.select("ward_code", "area2_udeg2"),
                        "ward_code")
            .withColumn("density_per_gud2",
                        F.expr("CAST((n_pages * 2000000000) DIV "
                               "area2_udeg2 AS BIGINT)")))


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


@gate(SQL_WARD_GEOMETRY)
def q_ward_geometry(spark, sf_dir):
    """Exact polygon geometry (operators/geometry.ring_area2_centroid):
    shoelace 2*area and integer-DIV centroid for the 23 ward quads from
    the vertex RELATION (any ring length; wrap via (i+1) mod n equi-join
    on one polygon-key Exchange). All-integer — cross products of µdeg
    coords are exact i64. The oracle is the independent CLOSED-FORM quad
    shoelace over the same VALUES table (different formulation, same
    math)."""
    from ...operators import geometry as gm

    rows = []
    for rec in fx.tessellation_records():
        ring = rec["rings_udeg"][0]
        for i, (x, y) in enumerate(ring):
            rows.append((rec["ward_code"], i, x, y))
    verts = local_relation(spark, rows,
                           "poly_id string, i int, x long, y long")
    return gm.ring_area2_centroid(verts).withColumnRenamed(
        "poly_id", "ward_code")


def _sql_distance_band() -> str:
    from ...operators import geodesy as gd

    hav = gd.haversine_mm_sql("a.lng_udeg", "a.lat_udeg",
                              "b.lng_udeg", "b.lat_udeg")
    return f"""
WITH {POINTS_CTE}
SELECT a.doc_id AS id_a, b.doc_id AS id_b, {hav} AS dist_mm
FROM pts a JOIN pts b ON a.doc_id < b.doc_id
WHERE {hav} <= 250000
"""


@gate(_sql_distance_band())
def q_distance_band(spark, sf_dir):
    """Geodesic distance-band self-join (operators/geodesy.py): all
    document-point pairs within 250 m by haversine. Spark buckets on a
    radius-covering µdeg grid and equi-joins 3x3 neighbor cells (never
    all pairs); the oracle is the BRUTE-FORCE all-pairs join — passing
    proves the cell candidate set is lossless. Distances quantized to
    integer mm with one shared op order."""
    from ...operators import geodesy as gd

    pts = _points_df(spark, sf_dir)
    return gd.distance_band_pairs(pts, radius_m=250.0)


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


@gate(SQL_SEGMENT_INTERSECTIONS)
def q_segment_intersections(spark, sf_dir):
    """Exact integer line-line intersection join
    (geometry.segment_intersections): deterministic µdeg segments grown
    from each synthetic point (even doc_ids = set A, odd = set B), paired
    through the covering-grid cell index, refined by the CLRS four-
    orientation integer predicate. The oracle brute-forces ALL A×B pairs
    with the identical predicate restated independently — the gate proves
    the cell index LOSSLESS (bbox overlap ⇒ shared cell) and the
    predicate exact, the spatial_join_holes pattern for lines."""
    from ...operators import geometry as gm

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


SQL_MORTON_BBOX_SCAN = f"""
WITH {POINTS_CTE}
SELECT doc_id, lng_udeg AS x, lat_udeg AS y
FROM pts
WHERE lng_udeg BETWEEN 139720000 AND 139780000
  AND lat_udeg BETWEEN 35600000 AND 35700000
"""


@gate(SQL_MORTON_BBOX_SCAN)
def q_morton_bbox_scan(spark, sf_dir):
    """Z-order range scan (zorder.morton_bbox_scan): the query bbox is
    compiled on the driver into maximal Morton-code ranges (IVF-centroid
    pattern — bounded, zero table data), applied as an OR-of-BETWEEN
    coarse predicate over each row's interleaved-bit code, then the
    exact coordinate refine. The oracle is the PLAIN bbox filter — the
    gate proves the decomposition covers every bbox cell and the refine
    drops boundary-cell overhang (pruning losslessness, the
    decontaminate_bloom pattern for spatial keys)."""
    from ...operators import zorder as zo

    pts = _points_df(spark, sf_dir)
    df = pts.select("doc_id",
                    F.col("lng_udeg").cast("bigint").alias("x"),
                    F.col("lat_udeg").cast("bigint").alias("y"))
    out = zo.morton_bbox_scan(df, "x", "y",
                              139_720_000, 139_780_000,
                              35_600_000, 35_700_000)
    return out.select("doc_id", "x", "y")


# Wave 30 — deterministic street-grid fixture for the map-matching snap:
# short (10 km .. no, 10_000 µdeg ≈ 1 km) horizontal/vertical pieces
# scattered over the point extent by integer LCG arithmetic both engines
# state verbatim. Pieces are SHORT on purpose: the operator's overflow
# guard requires bounded extents (real road networks are piecewise
# short for the same reason).
_SEG_X1 = "139560000 + ((doc_id * 7919) % 36) * 10000"


_SEG_Y1 = "35520000 + ((doc_id * 104729) % 30) * 10000"


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


@gate(SQL_SNAP_POINTS)
def q_snap_points(spark, sf_dir):
    """Map-matching snap (geometry.snap_points_to_segments): every page
    point within 3000 µdeg of the synthetic street grid gets its
    NEAREST segment (exact three-case integer point-segment distance;
    arg-min as a partial-aggregable min(struct), no row window). The
    oracle brute-forces all points x all segments with the identical
    integer predicate and a window arg-min — one gate proves the
    covering-cell candidate recall is lossless AND the distance math
    matches bit-for-bit."""
    from ...operators import geometry as gm

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


@gate(SQL_WKT_PARSE)
def q_wkt_parse(spark, sf_dir):
    """WKT ingestion bridge (geometry.wkt_vertices): POINT / LINESTRING
    (with a Z ordinate to ignore) / POLYGON-with-hole text parsed into
    the integer µdeg vertex relation the geometry operators consume.
    Oracle re-derives rings/vertices via list indexing over the same
    lookaround-free regexes and the shared quantization."""
    from ...operators import geometry as gm

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


@gate(SQL_RING_THIN)
def q_ring_thin(spark, sf_dir):
    """Map generalization (geometry.thin_ring_vertices): one-pass
    Visvalingam thinning of per-document octagon rings — big corners
    survive, 3-µdeg mid-edge bumps drop at the 100k-µdeg² threshold,
    every 5th document's 500-µdeg bumps survive, and every 11th
    document's micro-ring fires the keep-all degeneracy guard. Oracle
    re-derives neighbors and the raw-coordinate cross product with its
    own modular self-joins."""
    from ...operators import geometry as gm

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


@gate(SQL_RING_ORIENT)
def q_ring_orient(spark, sf_dir):
    """Winding normalization (geometry.orient_rings): per-document
    square exteriors and triangle holes built with mixed orientations
    (exterior reversed when doc_id is odd; hole left CCW — the WRONG
    hole winding — when doc_id % 3 = 0); the operator re-indexes to
    OGC convention (exterior CCW, holes CW). Oracle re-derives the
    shoelace sign and the reversal arithmetic independently."""
    from ...operators import geometry as gm

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
