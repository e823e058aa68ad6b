"""Hilbert-clustered layout (sources/layout.py): row-group data-skipping
evidence from the parquet footers + bbox-query parity across layouts."""
import pytest
from pyspark.sql import functions as F

N = 60000
# the fixture extent is ~0.36 x 0.30 deg — z16 curve cells (~0.0055 deg)
# give ~65 x 55 cells over it; z12 cells would be COARSER than the extent
# (4 x 3 cells), leaving the curve key near-constant and clustering moot.
# Production picks z so a curve cell is well below a row group's span.
Z = 16
# a Shibuya-sized box inside the fixture extent (point_udeg_cols spreads
# points over greater Tokyo)
BBOX = (139_690_000, 139_720_000, 35_650_000, 35_680_000)


@pytest.fixture(scope="module")
def points(spark):
    from plateau_gis_converter_spark.functions import geo

    lng, lat = geo.point_udeg_cols(F.col("id"))
    return (spark.range(N).select(F.col("id").alias("page_id"),
                                  lng.alias("lng_udeg"),
                                  lat.alias("lat_udeg"))
            .persist())


@pytest.fixture(scope="module")
def layouts(spark, points, tmp_path_factory):
    from plateau_gis_converter_spark.sources import layout as lo

    base = tmp_path_factory.mktemp("layout")
    hpath, ipath = str(base / "hilbert"), str(base / "byid")
    # small row groups so each file holds many groups (default 128 MB
    # would put the whole fixture in one group and hide the mechanism)
    lo.write_hilbert_layout(points, hpath, z=Z, n_files=8,
                            row_group_bytes=32 * 1024)
    (points.repartitionByRange(8, "page_id").sortWithinPartitions("page_id")
     .write.mode("overwrite").option("parquet.block.size", str(32 * 1024))
     .parquet(ipath))
    return hpath, ipath


def test_hilbert_layout_prunes_row_groups(layouts):
    from plateau_gis_converter_spark.sources import layout as lo

    hpath, ipath = layouts
    ht, htouch = lo.bbox_rowgroup_stats(hpath, *BBOX)
    it, itouch = lo.bbox_rowgroup_stats(ipath, *BBOX)
    assert ht > 40 and it > 40  # the fixture really has many row groups
    # insert-order layout: every row group spans the extent -> no skipping
    assert itouch == it
    # hilbert layout: the box touches a small fraction of row groups
    assert htouch / ht < 0.35, (htouch, ht)


def test_bbox_query_parity_and_pushdown(spark, points, layouts):
    hpath, ipath = layouts
    lng0, lng1, lat0, lat1 = BBOX

    def bbox(df):
        return df.where((F.col("lng_udeg").between(lng0, lng1))
                        & (F.col("lat_udeg").between(lat0, lat1))) \
            .select("page_id", "lng_udeg", "lat_udeg")

    want = sorted(r["page_id"] for r in bbox(points).collect())
    assert len(want) > 0
    got_h = bbox(spark.read.parquet(hpath))
    got_i = bbox(spark.read.parquet(ipath))
    assert sorted(r["page_id"] for r in got_h.collect()) == want
    assert sorted(r["page_id"] for r in got_i.collect()) == want
    # the bbox predicate must reach the parquet scan for stats skipping
    plan = got_h._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(lng_udeg" in plan


def test_hilbert_key_matches_tile_pipeline(spark, points):
    """The layout key IS the tile pipeline's Hilbert id (same curve, same
    zoom) — clustering at rest aligns with the MVT writer's sort key.
    Checked against the NumPy kernel on the tile of each point."""
    import numpy as np

    from plateau_gis_converter_spark.functions import geo
    from plateau_gis_converter_spark.kernels import hilbert
    from plateau_gis_converter_spark.sources import layout as lo

    sample = points.limit(500)
    keyed = geo.with_point_tiles(lo.hilbert_key(sample, z=Z),
                                 F.lit(Z).cast("int"))
    got = keyed.select("x", "y", "hkey").toPandas()
    assert len(got) == 500
    want = hilbert.zxy_to_id(Z, got["x"].to_numpy(np.int64),
                             got["y"].to_numpy(np.int64)).astype(np.int64)
    np.testing.assert_array_equal(got["hkey"].to_numpy(np.int64), want)


def test_compaction_plan_bounds_and_order(spark):
    """Greedy bound: every task total < target + max_file; path order
    preserved within tasks; every file assigned exactly once."""
    from pyspark.sql import functions as F

    from plateau_gis_converter_spark.sources import layout as ly

    files = spark.range(0, 500).select(
        F.format_string("f-%04d", F.col("id")).alias("path"),
        ((F.col("id") * 977) % 9000 + 1000).alias("bytes"))
    target = 50_000
    plan = ly.compaction_plan(files, target_bytes=target).persist()
    assert plan.count() == 500
    assert plan.select("path").distinct().count() == 500
    mx = files.agg(F.max("bytes")).collect()[0][0]
    summary = ly.compaction_summary(plan).collect()
    for r in summary:
        assert r["total_bytes"] < target + mx
    # tasks partition the path order: max path of task i < min path of i+1
    rows = sorted(((r["task_id"], r["path"]) for r in plan.collect()))
    paths = [p for _, p in rows]
    assert paths == sorted(paths)
    # total bytes conserved
    assert sum(r["total_bytes"] for r in summary) == \
        files.agg(F.sum("bytes")).collect()[0][0]


def test_compaction_plan_rejects_bad_target(spark):
    import pytest as _pt

    from plateau_gis_converter_spark.sources import layout as ly

    files = spark.createDataFrame([("a", 1)], ["path", "bytes"])
    with _pt.raises(ValueError):
        ly.compaction_plan(files, target_bytes=0)


def test_vacuum_plan_never_deletes_retained_reachable_files(spark):
    """Vacuum semantics: a file is deletable iff NO retained snapshot
    references it; a file first written long ago but still referenced
    by a retained snapshot stays; ties in ts rank deterministically by
    snapshot_id."""
    from pyspark.sql import functions as F

    from plateau_gis_converter_spark.sources import layout as ly

    manifests = spark.createDataFrame(
        [("old_only.parquet", 0), ("old_only.parquet", 1),
         ("ancient_but_live.parquet", 0), ("ancient_but_live.parquet", 3),
         ("fresh.parquet", 3),
         ("mid.parquet", 1), ("mid.parquet", 2)],
        "path string, snapshot_id long")
    snapshots = spark.range(0, 4).select(
        F.col("id").alias("snapshot_id"),
        F.expr("timestamp'2024-01-01' + make_interval(0,0,0,id)")
        .alias("ts"))
    got = {r["path"]: (r["first_snapshot"], r["last_snapshot"],
                       r["n_refs"], r["deletable"])
           for r in ly.vacuum_plan(manifests, snapshots,
                                   retain_last=2).collect()}
    # retained = snapshots 3, 2
    assert got["old_only.parquet"] == (0, 1, 2, True)
    assert got["ancient_but_live.parquet"] == (0, 3, 2, False)
    assert got["fresh.parquet"] == (3, 3, 1, False)
    assert got["mid.parquet"] == (1, 2, 2, False)
