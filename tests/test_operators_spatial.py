"""End-to-end M1 slice: geocode → tile assignment → spatial join, verified
against slow scalar oracles (FIXTURES.md §3 golden strategy)."""
import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from plateau_gis_converter_spark.kernels import hilbert, pip
from plateau_gis_converter_spark.kernels.mercator import lnglat_to_web_mercator
from plateau_gis_converter_spark.operators import geocode, spatial_join, tile_assign
from plateau_gis_converter_spark.sources import fixtures as fx


@pytest.fixture(scope="module")
def pages_df(spark, pages_small):
    return spark.read.parquet(pages_small)


def test_fixture_text_byte_identical(pages_small, tmp_path):
    """BASELINE.json invariant: extracted text byte-identical per url."""
    import pyarrow.parquet as pq

    t1 = pq.read_table(pages_small)
    p2 = str(tmp_path / "again.parquet")
    fx.write_pages_parquet(p2, 1000)
    t2 = pq.read_table(p2)
    assert t1.column("text").equals(t2.column("text"))
    assert t1.column("url").equals(t2.column("url"))
    assert t1.column("html").equals(t2.column("html"))


def test_geocode_matches_generator(pages_df):
    got = (geocode.geocode_expr(pages_df)
           .select("url", "lng_udeg", "lat_udeg")
           .toPandas().sort_values("url").reset_index(drop=True))
    ids = got["url"].str.extract(r"/page/(\d+)$")[0].astype(np.int64).to_numpy()
    lng, lat = fx.point_udeg_np(ids)
    np.testing.assert_array_equal(got["lng_udeg"].to_numpy(np.int64), lng)
    np.testing.assert_array_equal(got["lat_udeg"].to_numpy(np.int64), lat)


def test_geocode_pandas_matches_expr(pages_df):
    a = (geocode.geocode_expr(pages_df).select("url", "lng_udeg", "lat_udeg")
         .toPandas().sort_values("url").reset_index(drop=True))
    b = (geocode.geocode_pandas(pages_df).select("url", "lng_udeg", "lat_udeg")
         .toPandas().sort_values("url").reset_index(drop=True))
    assert a.equals(b)


def test_point_tiles_against_oracle(pages_df):
    df = geocode.geocode_expr(pages_df)
    tiles = (tile_assign.assign_point_tiles(df, 7, 15)
             .select("url", "z", "x", "y", "tile_id").toPandas())
    assert len(tiles) == 1000 * 9
    # scalar oracle on a sample
    sample = tiles.sample(n=200, random_state=42)
    for row in sample.itertuples(index=False):
        ids = int(row.url.rsplit("/", 1)[1])
        lng, lat = fx.point_udeg_np(np.array([ids]))
        mx, my = lnglat_to_web_mercator(lng[0] / 1e6, lat[0] / 1e6)
        n = 1 << row.z
        ex = int(np.floor(mx * n)) % n
        ey = min(max(int(np.floor(my * n)), 0), n - 1)
        assert (row.x, row.y) == (ex, ey)
        assert row.tile_id == hilbert.zxy_to_id_scalar(row.z, ex, ey)


def test_spatial_join_against_oracle(spark, pages_df):
    recs = fx.tessellation_records()
    df = geocode.geocode_expr(pages_df)
    got = (spatial_join.spatial_join_points(spark, df, recs)
           .select("url", "ward_code").toPandas())
    # scalar oracle: test all 1000 points against all 23 quads
    ids = np.arange(1000, dtype=np.int64)
    lng, lat = fx.point_udeg_np(ids)
    expected = set()
    for rec in recs:
        ring = np.asarray(rec["rings_udeg"][0], dtype=np.int64)
        inside = pip.points_in_convex_polygon_int(lng, lat, ring)
        for i in np.nonzero(inside)[0]:
            expected.add((f"https://example{i % 97}.jp/page/{i}",
                          rec["ward_code"]))
    assert set(map(tuple, got.itertuples(index=False))) == expected
    # tessellation covers the bbox: every point matched at least once
    assert got["url"].nunique() == 1000


def test_spatial_join_plan_is_broadcast(spark, pages_df):
    recs = fx.tessellation_records()
    df = geocode.geocode_expr(pages_df)
    joined = spatial_join.spatial_join_points(spark, df, recs)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def _inplan_pages(spark, n):
    """Pages whose text is built in the plan, as the benchmark's are."""
    from plateau_gis_converter_spark.functions import geo

    base = spark.range(0, n).select(F.col("id").alias("doc_id"))
    lng, lat = geo.point_udeg_cols(F.col("doc_id"))
    return base.select(
        "doc_id",
        F.format_string("地点 lat_udeg=%d lng_udeg=%d 東京", lat, lng)
        .alias("text"))


def _geocoded_consumers(spark, pts):
    return {
        "join_catalyst": spatial_join.spatial_join_points(
            spark, pts, fx.tessellation_records()),
        "join_evenodd": spatial_join.spatial_join_points(
            spark, pts, fx.holed_records(), refine="evenodd"),
        "tiles": tile_assign.assign_point_tiles(pts, 7, 15),
        "tiles_no_id": tile_assign.assign_point_tiles(
            pts, 7, 15, with_tile_id=False),
    }


def test_geocode_filters_stay_above_geocode(spark):
    """No optimized-plan Filter may re-run the geocode: a null filter pushed
    below geocode_expr's projection inlines its aliases, so each page's text
    would be built and regex-parsed again per filter term."""
    pts = geocode.geocode_expr(_inplan_pages(spark, 100))
    for name, df in _geocoded_consumers(spark, pts).items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        filters = [ln.lstrip(" :+-") for ln in plan.splitlines()
                   if ln.lstrip(" :+-").startswith("Filter")]
        bad = [f for f in filters
               if "regexp_extract" in f or "format_string" in f]
        assert not bad, f"{name}: geocode inlined into {bad[0][:200]}"


def test_null_coordinates_yield_no_join_or_tile_rows(spark):
    """Pages without both coordinates match no ward on either refine path
    and get no tiles; a valid page in the same input still does."""
    lng_ok, lat_ok = 139_670_000, 35_660_000  # in the donut, not its hole
    texts = ["no coordinates", "lat_udeg=35660000", "lng_udeg=139670000",
             f"lat_udeg={lat_ok} lng_udeg={lng_ok}"]
    pts = geocode.geocode_expr(spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"))
    one_lng, one_lat = np.array([lng_ok]), np.array([lat_ok])
    for refine, recs, inside in [
            ("catalyst", fx.tessellation_records(),
             lambda rings: pip.points_in_convex_polygon_int(
                 one_lng, one_lat, np.asarray(rings[0]))),
            ("evenodd", fx.holed_records(),
             lambda rings: pip.points_in_polygon_int(
                 one_lng, one_lat, [np.asarray(r) for r in rings]))]:
        got = {(r["doc_id"], r["ward_code"]) for r in
               spatial_join.spatial_join_points(spark, pts, recs,
                                                refine=refine).collect()}
        want = {(3, rec["ward_code"]) for rec in recs
                if inside(rec["rings_udeg"])[0]}
        assert want and got == want, refine
    tiles = tile_assign.assign_point_tiles(pts, 7, 15).collect()
    assert sorted((r["doc_id"], r["z"]) for r in tiles) == [
        (3, z) for z in range(7, 16)]


def test_geocoded_consumer_schemas(spark):
    """Output names, types and nullability are the operators' contract:
    lng_udeg/lat_udeg stay nullable and no private probe column leaks."""
    pts = geocode.geocode_expr(_inplan_pages(spark, 10))
    head = ("doc_id bigint not null, text string not null, "
            "lat_udeg bigint, lng_udeg bigint")
    tiles = "z int not null, x bigint, y bigint not null"
    want = {
        "join_catalyst": f"{head}, ward_code string",
        "join_evenodd": f"{head}, ward_code string",
        "tiles": f"{head}, {tiles}, tile_id bigint",
        "tiles_no_id": f"{head}, {tiles}",
    }
    for name, df in _geocoded_consumers(spark, pts).items():
        assert df.schema == T.StructType.fromDDL(want[name]), name


def test_boundary_slicing_covers_point_tiles(spark, pages_df):
    """Every tile a point lands in must be produced by slicing the ward
    polygon that contains the point (consistency of the two paths)."""
    recs = fx.tessellation_records()
    bdf = fx.boundaries_df(spark).where(
        F.col("typename") == "urf:UrbanPlanningArea")
    sliced = (tile_assign.slice_boundary_polygons(bdf, 12, 12)
              .select("feature_id", "z", "x", "y").toPandas())
    tiles_by_ward = {}
    for r in sliced.itertuples(index=False):
        tiles_by_ward.setdefault(r.feature_id[4:], set()).add((r.x, r.y))

    df = geocode.geocode_expr(pages_df)
    joined = (spatial_join.spatial_join_points(spark, df, recs)
              .select("ward_code", "lng_udeg", "lat_udeg").limit(300).toPandas())
    mx, my = lnglat_to_web_mercator(
        joined["lng_udeg"].to_numpy() / 1e6, joined["lat_udeg"].to_numpy() / 1e6)
    tx = np.floor(mx * 4096).astype(np.int64)
    ty = np.floor(my * 4096).astype(np.int64)
    for code, x, y in zip(joined["ward_code"], tx, ty):
        assert (int(x), int(y)) in tiles_by_ward[code]


def test_sliced_boundaries_have_hilbert_ids(spark):
    bdf = fx.boundaries_df(spark)
    sliced = tile_assign.slice_boundary_polygons(bdf, 10, 12).toPandas()
    assert len(sliced) > 0
    for r in sliced.sample(n=min(50, len(sliced)), random_state=0).itertuples():
        assert r.tile_id == hilbert.zxy_to_id_scalar(r.z, r.x, r.y)
    # holes preserved for overlay polygons at a zoom where they're visible
    ov = sliced[(sliced.typename == "urf:UrbanPlanningOverlay") & (sliced.z == 12)]
    assert any(len(mp[0]) == 2 for mp in ov["mpoly"])


def test_tile_assign_derivation_matches_kernel(spark):
    """x/y/tile_id for z in [min_z, max_z] are derived from ONE max_z
    computation by shifts (floor-division identity + PMTiles Hilbert
    hierarchy). The Catalyst ids must stay bit-identical to the NumPy
    kernel on random AND adversarial points (antimeridian, poles, cell
    corners, out-of-range wrap), and x/y must equal the per-zoom floor."""
    import numpy as np
    import pandas as pd

    from plateau_gis_converter_spark.functions import geo
    from plateau_gis_converter_spark.operators import tile_assign as ta

    rng = np.random.RandomState(3)
    n = 50000
    lng = rng.randint(-180_000_000, 180_000_000, n)
    lat = rng.randint(-85_000_000, 85_000_000, n)
    extra = [(179_999_999, 0), (-180_000_000, 0), (0, 85_051_128),
             (0, -85_051_129), (139_700_000, 35_600_000),
             (180_000_000, 84_000_000), (-179_999_999, -84_000_000)]
    df = spark.createDataFrame(pd.DataFrame({
        "lng_udeg": np.concatenate([lng, [e[0] for e in extra]]),
        "lat_udeg": np.concatenate([lat, [e[1] for e in extra]])}))
    mx = geo.mercator_mx(geo.udeg_to_deg(F.col("lng_udeg")))
    my = geo.mercator_my(geo.udeg_to_deg(F.col("lat_udeg")))
    got = (ta.assign_point_tiles(df, 7, 15)
           .select("z", "x", "y", "tile_id",
                   geo.tile_x(F.col("z"), mx).alias("fx"),
                   geo.tile_y(F.col("z"), my).alias("fy"))
           .toPandas())
    assert len(got) == (n + len(extra)) * 9
    # shifting the max_z cell == flooring at each zoom directly
    assert got["x"].equals(got["fx"]) and got["y"].equals(got["fy"])
    z, x, y = (got[c].to_numpy(np.int64) for c in ("z", "x", "y"))
    want = hilbert.zxy_to_id(z, x, y).astype(np.int64)
    np.testing.assert_array_equal(got["tile_id"].to_numpy(np.int64), want)


def test_rasterize_points_counts_and_inverse_bounds(spark):
    """Raster bridge (operators/raster.py): pixel counts sum to the
    input point count, every pixel is within its tile's 16x16 grid, and
    the inverse cell bbox CONTAINS every point that rasterized into it
    (vector -> raster -> vector round-trip containment)."""
    from pyspark.sql import functions as F

    from plateau_gis_converter_spark.operators import raster as ra

    pts = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") * 7919) % 360_000_000 - 180_000_000).alias("lng_udeg"),
        ((F.col("id") * 104729) % 160_000_000 - 80_000_000).alias("lat_udeg"))
    r = ra.rasterize_points(pts, zoom=11, tile_px=16)
    total = r.agg(F.sum("n_points")).collect()[0][0]
    assert total == 3000
    assert r.where((F.col("px") < 0) | (F.col("px") > 15)
                   | (F.col("py") < 0) | (F.col("py") > 15)).count() == 0

    cells = ra.raster_cell_bounds(r, zoom=11, tile_px=16)
    # recompute each point's pixel and join to its cell: the point must
    # sit inside the cell's bbox (1-udeg slack for the round-to-udeg)
    from plateau_gis_converter_spark.functions import geo
    mx = geo.mercator_mx(geo.udeg_to_deg(F.col("lng_udeg")))
    my = geo.mercator_my(geo.udeg_to_deg(F.col("lat_udeg")))
    world = (1 << 11) * 16
    gx = ((F.floor(mx * world).cast("bigint") % world + world) % world)
    gy = F.greatest(F.lit(0).cast("bigint"),
                    F.least(F.floor(my * world).cast("bigint"),
                            F.lit(world - 1)))
    keyed = pts.select(
        "lng_udeg", "lat_udeg",
        (gx / 16).cast("bigint").alias("x"), (gy / 16).cast("bigint").alias("y"),
        (gx % 16).alias("px"), (gy % 16).alias("py"))
    joined = keyed.join(cells, ["x", "y", "px", "py"])
    assert joined.count() == 3000
    bad = joined.where(
        (F.col("lng_udeg") < F.col("lng_min_udeg") - 1)
        | (F.col("lng_udeg") > F.col("lng_max_udeg") + 1)
        | (F.col("lat_udeg") < F.col("lat_min_udeg") - 1)
        | (F.col("lat_udeg") > F.col("lat_max_udeg") + 1)).count()
    assert bad == 0


def test_apply_raster_delta_lossless_and_guarded(spark):
    """Incremental raster = full recompute when the delta is consistent;
    zero/negative pixels drop out (stale-delta guard)."""
    from plateau_gis_converter_spark.operators import raster as ra

    def pts(rows):
        return spark.createDataFrame(rows, ["lng_udeg", "lat_udeg"])

    # two points share a pixel, one moves away, one is removed, one added
    old = pts([(139700000, 35690000), (139700000, 35690000),
               (139800000, 35600000), (135000000, 34700000)])
    removed = pts([(139800000, 35600000),   # removed outright
                   (135000000, 34700000)])  # moved: old side
    added = pts([(135500000, 34900000),     # moved: new side
                 (140000000, 36000000)])    # brand new
    new = pts([(139700000, 35690000), (139700000, 35690000),
               (135500000, 34900000), (140000000, 36000000)])

    prev = ra.rasterize_points(old, zoom=11, tile_px=16)
    got = ra.apply_raster_delta(prev, added, removed, zoom=11, tile_px=16)
    want = ra.rasterize_points(new, zoom=11, tile_px=16)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # inconsistent delta: removing a point twice cannot go negative —
    # the pixel just disappears
    double_removed = pts([(139800000, 35600000), (139800000, 35600000)])
    empty = spark.createDataFrame([], "lng_udeg bigint, lat_udeg bigint")
    guarded = ra.apply_raster_delta(prev, empty, double_removed,
                                    zoom=11, tile_px=16)
    assert guarded.where(F.col("n_points") <= 0).count() == 0


def test_raster_downsample_equals_direct(spark):
    """Pyramid rollup == rasterizing the points directly at the lower
    zoom (the floor/wrap/clamp commutation), two levels down."""
    from plateau_gis_converter_spark.operators import raster as ra

    pts = spark.range(0, 4000).select(
        ((F.col("id") * 7919) % 360000000 - 180000000).alias("lng_udeg"),
        ((F.col("id") * 104729) % 170000000 - 85000000).alias("lat_udeg"))
    r11 = ra.rasterize_points(pts, zoom=11, tile_px=16)
    got = ra.raster_downsample(r11, levels=2, tile_px=16)
    want = ra.rasterize_points(pts, zoom=9, tile_px=16)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_zonal_stats_totals_and_disjoint_zones(spark):
    """Zonal statistics (raster.zonal_stats): a zone covering the whole
    point extent reproduces the raster's own totals; two disjoint zones
    placed over disjoint point clusters report exactly their cluster's
    points; an empty zone is absent from the output."""
    from plateau_gis_converter_spark.operators import raster as ra

    # cluster A: 30 points near (10E, 10N); cluster B: 50 near (50E, 20S)
    a = spark.range(0, 30).select(
        (10_000_000 + (F.col("id") * 917) % 100_000).alias("lng_udeg"),
        (10_000_000 + (F.col("id") * 331) % 100_000).alias("lat_udeg"))
    b = spark.range(0, 50).select(
        (50_000_000 + (F.col("id") * 719) % 100_000).alias("lng_udeg"),
        (-20_000_000 + (F.col("id") * 577) % 100_000).alias("lat_udeg"))
    r = ra.rasterize_points(a.unionAll(b), zoom=11, tile_px=16)

    zones = spark.createDataFrame(
        [(0, 9_000_000, 12_000_000, 9_000_000, 12_000_000),    # cluster A
         (1, 49_000_000, 52_000_000, -22_000_000, -19_000_000),  # cluster B
         (2, -60_000_000, -30_000_000, 0, 30_000_000),         # empty
         (3, -179_000_000, 179_000_000, -80_000_000, 80_000_000)],  # all
        "zone_id long, lng_min_udeg long, lng_max_udeg long, "
        "lat_min_udeg long, lat_max_udeg long")
    got = {r2["zone_id"]: (r2["n_cells"], r2["n_points"], r2["max_density"])
           for r2 in ra.zonal_stats(r, zones, zoom=11, tile_px=16).collect()}

    n_cells = r.count()
    mx = r.agg(F.max("n_points")).collect()[0][0]
    assert got[3] == (n_cells, 80, mx)
    assert got[0][1] == 30
    assert got[1][1] == 50
    assert 2 not in got
    assert got[0][0] + got[1][0] <= n_cells
