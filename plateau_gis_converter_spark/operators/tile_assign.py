"""Tile assignment: points (hot path, Catalyst) and polygons (flatMap UDF).

* ``assign_point_tiles`` — explode each geocoded page into its (z, x, y)
  square-scheme tiles for z in [min_z, max_z] (the reference's zoom loop,
  nusamai/src/sink/mvt/slice.rs:63-71, for the degenerate point case), all in
  Catalyst expressions, including the Hilbert tile id (the global
  sort/partition key, sink/mvt/mod.rs:223; ``functions/geo.hilbert_id_expr``).
* ``slice_boundary_polygons`` — geojson-vt slicing of polygon features into
  per-tile clipped multipolygons via ``mapInPandas`` (1→N flatMap, the Spark
  equivalent of the reference's Transform trait, SURVEY §2.9); exact
  slice.rs:95-270 semantics through kernels/clip.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import geo
from ..kernels import clip as clip_kernel
from ..kernels import hilbert
from ..kernels.mercator import lnglat_to_web_mercator


def assign_point_tiles(df: DataFrame, min_z: int = 7, max_z: int = 15,
                       with_tile_id: bool = True) -> DataFrame:
    """Explode geocoded pages into (z, x, y[, tile_id]) tile assignments.

    Input needs lng_udeg/lat_udeg (see operators/geocode.py). The mercator
    transform is computed once per page, the per-zoom floor is a cheap
    codegen'd expression — no shuffle in this operator at all.

    The zoom range is schema-validated at PLAN time (parameters.py,
    reference parameters/mod.rs parity) — a bad range raises here on the
    driver, not hours later in an executor.
    """
    from ..parameters import ZOOM_RANGE

    ZOOM_RANGE.resolve({"min_z": min_z, "max_z": max_z})
    mx = geo.mercator_mx(geo.udeg_to_deg(F.col("lng_udeg")))
    my = geo.mercator_my(geo.udeg_to_deg(F.col("lat_udeg")))
    base = df.withColumns({"_xm": geo.tile_x(F.lit(max_z), mx),
                           "_ym": geo.tile_y(F.lit(max_z), my)})
    # Derive every zoom from the max_z coordinates by shifts instead of
    # re-flooring the mercator per zoom: x_z = x_maxz >> (max_z - z) is
    # exact (floor(floor(a)/2^k) == floor(a/2^k)), and the antimeridian
    # wrap / row clamp applied at max_z commutes with the shift (proof in
    # tests/test_operators_spatial.py equivalence test). Likewise PMTiles
    # Hilbert ids are HIERARCHICAL — id_z = acc_z + (id_maxz - acc_maxz)
    # >> 2*(max_z - z) — so the Hilbert fold runs ONCE per point instead
    # of once per (point, zoom).
    zoomed = {"x": F.expr(f"shiftright(_xm, {max_z} - z)"),
              "y": F.expr(f"shiftright(_ym, {max_z} - z)")}
    if with_tile_id:
        base = base.withColumn(
            "_tidm", geo.hilbert_id_expr(max_z, F.col("_xm"), F.col("_ym")))
        acc_maxz = ((1 << (2 * max_z)) - 1) // 3
        zoomed["tile_id"] = F.expr(
            f"((cast(1 as bigint) << (2 * z)) - 1) div 3 + "
            f"shiftright(_tidm - {acc_maxz}L, 2 * ({max_z} - z))")
    # A page with a NULL coordinate explodes a NULL zoom list into no rows.
    # There is no .where(isNotNull): Catalyst would push it below the
    # caller's geocode projection and inline its aliases, re-parsing the page
    # text per filter term. It infers no filter from a Generate whose input
    # is not a bare attribute, so this one stays above the projection.
    zooms = F.when(F.col("lng_udeg").isNotNull()
                   & F.col("lat_udeg").isNotNull(),
                   F.sequence(F.lit(min_z), F.lit(max_z)))
    return (base
            .withColumn("z", F.explode(zooms))
            .withColumns(zoomed)
            .drop("_xm", "_ym", "_tidm"))


SLICED_SCHEMA = T.StructType([
    T.StructField("feature_id", T.StringType()),
    T.StructField("typename", T.StringType()),
    T.StructField("z", T.IntegerType()),
    T.StructField("x", T.LongType()),
    T.StructField("y", T.LongType()),
    T.StructField("tile_id", T.LongType()),
    # tile-local clipped multipolygon: polygons -> rings -> points -> [x, y]
    T.StructField("mpoly", T.ArrayType(T.ArrayType(T.ArrayType(
        T.ArrayType(T.DoubleType()))))),
    T.StructField("attributes", T.MapType(T.StringType(), T.StringType())),
])


def rings_udeg_to_mercator(rings_udeg) -> list:
    """µdeg integer rings -> normalized-mercator f64 rings."""
    out = []
    for ring in rings_udeg:
        # Arrow hands nested lists as ragged object arrays — stack explicitly
        arr = np.stack([np.asarray(p, dtype=np.float64) for p in ring]) / 1e6
        mx, my = lnglat_to_web_mercator(arr[:, 0], arr[:, 1])
        out.append(np.stack([mx, my], axis=1).tolist())
    return out


def slice_boundary_polygons(boundaries: DataFrame, min_z: int = 7,
                            max_z: int = 15, max_detail: int = 12,
                            buffer_pixels: int = 5) -> DataFrame:
    """1→N flatMap: each boundary polygon -> per-tile clipped multipolygons.

    The boundary side is small (broadcastable dimension), so the scalar inner
    loop of the exact clip kernel is irrelevant to throughput; the output is
    the slicing side of the MVT sink (slice.rs:12-93 + mod.rs:193-235).
    """

    def run(batches):
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                mercator_rings = rings_udeg_to_mercator(rec.rings_udeg)
                tiled = clip_kernel.slice_multipolygon(
                    [mercator_rings], min_z, max_z,
                    max_detail=max_detail, buffer_pixels=buffer_pixels)
                for (z, x, y), mpoly in tiled.items():
                    tid = hilbert.zxy_to_id_scalar(z, x, y)
                    rows.append({
                        "feature_id": rec.feature_id,
                        "typename": rec.typename,
                        "z": z, "x": x, "y": y,
                        "tile_id": np.int64(tid),
                        "mpoly": mpoly,
                        "attributes": dict(rec.attributes),
                    })
            if rows:
                yield pd.DataFrame(rows)

    return boundaries.mapInPandas(run, schema=SLICED_SCHEMA)
