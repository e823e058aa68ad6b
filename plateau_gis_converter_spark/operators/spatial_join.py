"""Spatial join: pages (points) x boundary polygons.

The reference implies point↔polygon containment via tile slicing; the engine
makes it a first-class join (SURVEY §2.3): candidate pairs from an equi-join
on an index cell (z12 square tile by default) against the **broadcast** cell
index of the polygon side, then exact PIP refinement. The join condition
contains only the cell equality plus (for the convex path) integer
cross-product predicates, so Catalyst always plans a BroadcastHashJoin —
never a nested loop.

The refinement is chosen from the polygon side itself, once per call on the
driver (in the spirit of the data-driven path choice of *Parallel Spatial
Join Processing with Adaptive Replication*, EDBT 2025):

* every record is one ring of 4 vertices that is convex and CCW in
  (lng, lat) (``_is_convex_ccw_quad``) — the quad corners ride on the
  broadcast index as int64 columns and the inclusive PIP test is four
  integer cross-product predicates INSIDE the join condition: the whole
  pipeline is JVM codegen, zero Python per row;
* otherwise (concave or clockwise exteriors, more vertices, interior
  rings/holes) — exact INTEGER even-odd ray cast over ALL rings
  (kernels/pip.points_in_polygon_int), the north-star's "exact
  ray-casting point-in-polygon refinement"; oracle-expressible
  bit-for-bit.

At 100 TB: scan (pruned to url+text) → geocode → cell (codegen) →
BroadcastHashJoin (polygon cell index stays tiny even nationwide) → filter.
Zero shuffles; the only wide exchange in the whole pipeline is the later
repartition by tile for the encode stage. Dense cells don't skew a broadcast
join (no shuffle by cell); salting applies only to downstream groupBys
(operators/skew.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions import geo
from ..kernels import clip as clip_kernel
from ..kernels import pip as pip_kernel
from ..operators.tile_assign import rings_udeg_to_mercator
from ..sources.local import local_relation

INDEX_ZOOM = 12


def boundary_cell_index(records: list[dict], index_zoom: int = INDEX_ZOOM) -> list[dict]:
    """Covering-cell index of the polygon side, computed with the exact
    slicing kernel (buffered, so it over-covers: a superset of all cells any
    interior point can fall in — candidate recall is 100%). The slicer
    culls back-facing exteriors, so a polygon given the other way round is
    reversed first: containment does not depend on winding."""
    out = []
    for rec in records:
        mercator_rings = rings_udeg_to_mercator(rec["rings_udeg"])
        if not clip_kernel.ring_is_cw(mercator_rings[0]):
            mercator_rings = [ring[::-1] for ring in mercator_rings]
        tiled = clip_kernel.slice_multipolygon(
            [mercator_rings], index_zoom, index_zoom)
        for (_, x, y) in tiled.keys():
            out.append({
                "cell_x": int(x), "cell_y": int(y),
                "ward_code": rec["ward_code"],
                "rings_udeg": [[[int(c[0]), int(c[1])] for c in ring]
                               for ring in rec["rings_udeg"]],
            })
    return out


def _with_cells(points: DataFrame, index_zoom: int) -> DataFrame:
    """Add the private, non-nullable probe columns: the join key ``_cell``
    (-1 when a coordinate is NULL; index cells are >= 0, so such a point
    never matches) and ``_lng``/``_lat`` for the PIP predicate.

    There is no ``.where(isNotNull)``: Catalyst would push it, and the
    ``isnotnull``s it infers from a nullable join key or PIP input, below
    the caller's geocode projection and inline its aliases there, so the
    page text would be built and regex-parsed once per filter term instead
    of once per page. A NULL-free key and probe give it nothing to infer.
    """
    lng, lat = F.col("lng_udeg"), F.col("lat_udeg")
    zlit = F.lit(index_zoom)
    cell_x = geo.tile_x(zlit, geo.mercator_mx(geo.udeg_to_deg(lng)))
    cell_y = geo.tile_y(zlit, geo.mercator_my(geo.udeg_to_deg(lat)))
    cell = F.shiftleft(cell_x, index_zoom) + cell_y
    return points.withColumns({
        "_cell": F.coalesce(F.when(lng.isNotNull() & lat.isNotNull(), cell),
                            F.lit(-1)),
        "_lng": F.coalesce(lng, F.lit(0)),
        "_lat": F.coalesce(lat, F.lit(0))})


def _cell_key(r: dict, index_zoom: int) -> int:
    return (r["cell_x"] << index_zoom) + r["cell_y"]


def _cross_ge0(ax: str, ay: str, bx: str, by: str):
    """Edge (a->b) cross with the point, inclusive left-of-edge test for
    CCW-in-lnglat rings — identical int64 math to
    kernels/pip.points_in_convex_polygon_int."""
    return ((F.col(bx) - F.col(ax)) * (F.col("_lat") - F.col(ay))
            - (F.col(by) - F.col(ay)) * (F.col("_lng") - F.col(ax))) >= 0


def _is_convex_ccw_quad(rings_udeg) -> bool:
    """One ring of 4 vertices whose every turn is left or straight (exact
    integer cross products >= 0) and whose area is positive: exactly the
    rings on which the four inclusive edge predicates are the polygon."""
    if len(rings_udeg) != 1 or len(rings_udeg[0]) != 4:
        return False
    ring = [(int(x), int(y)) for x, y in rings_udeg[0]]
    turns = [(bx - ax) * (cy - by) - (by - ay) * (cx - bx)
             for (ax, ay), (bx, by), (cx, cy)
             in zip(ring, ring[1:] + ring[:1], ring[2:] + ring[:2])]
    return min(turns) >= 0 and max(turns) > 0


def spatial_join_points(spark: SparkSession, points: DataFrame,
                        boundary_records: list[dict],
                        index_zoom: int = INDEX_ZOOM) -> DataFrame:
    """points(lng_udeg, lat_udeg, ...) ⋈ boundary polygons → + ward_code.

    Exact integer PIP. On convex CCW quads the test is inclusive: boundary
    points match BOTH adjacent wards — deterministic and identical to the
    SQL oracle (fixtures.PIP_CONVEX_SQL). Any other polygon set takes the
    even-odd kernel. Points with a NULL coordinate match nothing. The
    broadcast index is built and deduplicated on the driver (it is tiny)
    and enters the plan as a local relation: a ``LocalTableScan`` under
    the broadcast, which starts no Python worker.
    """
    index = boundary_cell_index(boundary_records, index_zoom)
    pts = _with_cells(points, index_zoom)
    private = ("_cell", "_lng", "_lat")

    if all(_is_convex_ccw_quad(rec["rings_udeg"]) for rec in boundary_records):
        rows = [(_cell_key(r, index_zoom), r["ward_code"],
                 *[v for xy in r["rings_udeg"][0] for v in xy])
                for r in index]
        corners = ("x1", "y1", "x2", "y2", "x3", "y3", "x4", "y4")
        cells = local_relation(
            spark, dict.fromkeys(rows),
            "_cell: long, ward_code: string, "
            + ", ".join(f"{c}: long" for c in corners))
        pip = (_cross_ge0("x1", "y1", "x2", "y2")
               & _cross_ge0("x2", "y2", "x3", "y3")
               & _cross_ge0("x3", "y3", "x4", "y4")
               & _cross_ge0("x4", "y4", "x1", "y1"))
        return (pts.join(F.broadcast(cells), "_cell")
                .where(pip)
                .drop(*private, *corners))

    # general polygons: Arrow-batched exact even-odd PIP kernel
    cells = local_relation(
        spark, dict.fromkeys((_cell_key(r, index_zoom), r["ward_code"])
                             for r in index),
        "_cell: long, ward_code: string")
    rings_lookup = {
        r["ward_code"]: [np.asarray(ring, dtype=np.int64)
                         for ring in r["rings_udeg"]]
        for r in index}
    pip_ok = _pip_evenodd_udf(rings_lookup)
    return (pts.join(F.broadcast(cells), "_cell")
            .where(pip_ok(F.col("ward_code"), F.col("_lng"), F.col("_lat")))
            .drop(*private))


def _pip_evenodd_udf(rings_lookup: dict):
    """Exact integer even-odd refine for GENERAL polygons — concave
    exteriors and interior rings (holes), per BASELINE.json's "exact
    ray-casting point-in-polygon refinement".  Same broadcast-candidate
    shape as the convex refine; the kernel is
    kernels/pip.points_in_polygon_int (pure int64, oracle-expressible).
    The lookup is module-scope tiny (one entry per boundary feature) and
    ships to executors inside the UDF closure — the polygon side never
    shuffles."""

    @pandas_udf(T.BooleanType())
    def pip_ok(ward_code: pd.Series, lng_udeg: pd.Series,
               lat_udeg: pd.Series) -> pd.Series:
        out = np.zeros(len(ward_code), dtype=bool)
        lng = lng_udeg.to_numpy(np.int64)
        lat = lat_udeg.to_numpy(np.int64)
        codes = ward_code.to_numpy()
        for code in pd.unique(codes):
            rings = rings_lookup.get(code)
            if rings is None:
                continue
            m = codes == code
            out[m] = pip_kernel.points_in_polygon_int(lng[m], lat[m], rings)
        return pd.Series(out)

    return pip_ok
