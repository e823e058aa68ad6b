"""Round-5 wave 19: general-polygon (concave + holes) even-odd spatial
join, fragment-replicate skew join, stream-static enrichment."""
import numpy as np
from pyspark.sql import Row
from pyspark.sql import functions as F

from plateau_gis_converter_spark.kernels import pip as pk
from plateau_gis_converter_spark.operators import skew
from plateau_gis_converter_spark.operators import spatial_join as sj
from plateau_gis_converter_spark.sources import fixtures as fx


def _scalar_evenodd(px, py, rings):
    """Independent scalar PNPOLY over integer coords (exact: Python ints)."""
    inside = False
    for ring in rings:
        n = len(ring)
        for i in range(n):
            x1, y1 = ring[i]
            x2, y2 = ring[(i + 1) % n]
            dy = y2 - y1
            if dy == 0 or not ((y1 > py) != (y2 > py)):
                continue
            lhs = (px - x1) * dy
            rhs = (x2 - x1) * (py - y1)
            if (lhs < rhs) if dy > 0 else (lhs > rhs):
                inside = not inside
    return inside


def test_pip_evenodd_kernel_matches_scalar_reference():
    rng = np.random.RandomState(7)
    for rec in fx.holed_records():
        rings = rec["rings_udeg"]
        xs = np.concatenate([np.array(r)[:, 0] for r in rings])
        ys = np.concatenate([np.array(r)[:, 1] for r in rings])
        px = rng.randint(xs.min() - 20000, xs.max() + 20000, 500)
        py = rng.randint(ys.min() - 20000, ys.max() + 20000, 500)
        got = pk.points_in_polygon_int(px, py, rings)
        want = np.array([_scalar_evenodd(int(a), int(b), rings)
                         for a, b in zip(px, py)])
        assert (got == want).all()


def test_pip_evenodd_hole_and_concavity_fire():
    rings = fx.holed_records()[0]["rings_udeg"]  # donut
    # center of the hole: inside exterior, inside hole -> OUT
    assert not pk.points_in_polygon_int(
        np.array([139_700_000]), np.array([35_690_000]), rings)[0]
    # in the annulus -> IN
    assert pk.points_in_polygon_int(
        np.array([139_670_000]), np.array([35_690_000]), rings)[0]
    ell = fx.holed_records()[1]["rings_udeg"]
    # inside the exterior bbox but in the concave notch -> OUT
    assert not pk.points_in_polygon_int(
        np.array([139_860_000]), np.array([35_640_000]), ell)[0]
    assert pk.points_in_polygon_int(
        np.array([139_800_000]), np.array([35_580_000]), ell)[0]


def test_spatial_join_evenodd_vs_bruteforce(spark):
    from plateau_gis_converter_spark.functions import geo

    base = spark.range(0, 800).select(F.col("id").alias("doc_id"))
    lng, lat = geo.point_udeg_cols(F.col("doc_id"))
    pts = base.select("doc_id", lng, lat)
    got = {(r["doc_id"], r["ward_code"])
           for r in sj.spatial_join_points(
               spark, pts, fx.holed_records())
           .select("doc_id", "ward_code").collect()}
    raw = pts.collect()
    want = set()
    for rec in fx.holed_records():
        for r in raw:
            if _scalar_evenodd(r["lng_udeg"], r["lat_udeg"],
                               rec["rings_udeg"]):
                want.add((r["doc_id"], rec["ward_code"]))
    assert got == want and len(want) > 0
    # the donut's hole must exclude at least one candidate point (dense
    # center #1 sits inside the hole), i.e. the hole branch fired
    n_in_hole = sum(1 for r in raw
                    if 139_690_000 < r["lng_udeg"] < 139_710_000
                    and 35_680_000 < r["lat_udeg"] < 35_700_000)
    assert n_in_hole > 0


def test_salted_replicated_join_parity_and_plan(spark):
    fact = spark.createDataFrame(
        [Row(k=i % 3, rid=i, v=i * 10) for i in range(60)])
    dim = spark.createDataFrame(
        [Row(k=k, label=f"L{k}") for k in range(4)])  # k=3 dangling
    out = skew.salted_replicated_join(fact, dim, "k", row_col="rid",
                                      buckets=5)
    got = {(r["rid"], r["label"]) for r in out.collect()}
    want = {(i, f"L{i % 3}") for i in range(60)}
    assert got == want
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" in plan


def test_streaming_enrich_matches_static_join(spark):
    from plateau_gis_converter_spark.plans import entry_queries as eq

    sf = "/root/testdata/sf0.001"
    got = {(r["event_id"], r["user_id"], r["c_mktsegment"])
           for r in eq.QUERIES["stream_enrich"](spark, sf).collect()}
    ev = spark.read.parquet(f"{sf}/events.parquet")
    cu = spark.read.parquet(f"{sf}/customer.parquet").selectExpr(
        "c_custkey as user_id", "c_mktsegment")
    want = {(r["event_id"], r["user_id"], r["c_mktsegment"])
            for r in ev.join(cu, "user_id").select(
                "event_id", "user_id", "c_mktsegment").collect()}
    assert got == want and len(want) > 0
