"""functions/geo.hilbert_id_expr: the table-driven Catalyst Hilbert fold,
checked against the scalar kernel (kernels/hilbert.zxy_to_id_scalar, a
bit-by-bit port of hilbert.rs that shares no table with the fold)."""
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from plateau_gis_converter_spark.functions import geo
from plateau_gis_converter_spark.kernels import hilbert

MAX_Z = 31  # the largest zoom hilbert_id_expr accepts (ids < 2^63)


def _tiles():
    """Every tile at z 0..6; edge, random and high-bit tiles at z 7..31."""
    rng = np.random.RandomState(11)
    rows = [(z, x, y) for z in range(7) for x in range(1 << z)
            for y in range(1 << z)]
    for z in range(7, MAX_Z + 1):
        n = 1 << z
        h = n // 2
        edges = [0, 1, h - 1, h, n - 2, n - 1]
        rows += [(z, x, y) for x in edges for y in edges]
        rows += [(z, int(x), int(y)) for x, y in
                 zip(rng.randint(0, n, 64, dtype=np.int64),
                     rng.randint(0, n, 64, dtype=np.int64))]
        # bits at and above z are not part of the tile: the reference
        # never reads them, so neither may the fold
        rows += [(z, x | n, y | (n << 1)) for x, y in [(0, n - 1), (h, 1)]]
    return rows


def _fold_ids(spark, rows):
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["z", "x", "y"]))
    parts = [df.where(F.col("z") == z).select(
        "z", "x", "y", geo.hilbert_id_expr(z, F.col("x"), F.col("y"))
        .alias("tid")) for z in sorted({r[0] for r in rows})]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.collect()


def test_fold_matches_scalar_kernel(spark):
    rows = _tiles()
    got = _fold_ids(spark, rows)
    assert len(got) == len(rows)
    bad = [(r.z, r.x, r.y, r.tid) for r in got
           if r.tid != hilbert.zxy_to_id_scalar(r.z, r.x, r.y)]
    assert not bad, bad[:5]
    # every z 0..6 tile present, ids a permutation of that zoom's range
    for z in range(7):
        ids = sorted(r.tid for r in got if r.z == z)
        lo = ((1 << (2 * z)) - 1) // 3
        assert ids == list(range(lo, lo + (1 << (2 * z))))


@pytest.mark.parametrize("z", [-1, 32])
def test_zoom_out_of_range_raises_at_plan_time(z):
    with pytest.raises(ValueError, match="Hilbert zoom"):
        geo.hilbert_id_expr(z, F.col("x"), F.col("y"))


def _projects(df) -> int:
    plan = df._jdf.queryExecution().analyzed().toString()
    return len(re.findall(r"^[\s:+\-]*Project \[", plan, re.MULTILINE))


def test_tile_id_adds_at_most_one_project(spark):
    """The fold is one projection: the tile id must not grow the plan by a
    Project per Hilbert level."""
    from plateau_gis_converter_spark.operators import tile_assign as ta

    pts = spark.range(10).select(
        (F.col("id") * 1000).alias("lng_udeg"),
        (F.col("id") * 1000).alias("lat_udeg"))
    with_id = _projects(ta.assign_point_tiles(pts, 7, 15, with_tile_id=True))
    no_id = _projects(ta.assign_point_tiles(pts, 7, 15, with_tile_id=False))
    assert no_id >= 1
    assert with_id <= no_id + 1, (with_id, no_id)
