"""Round-5 wave 21: SCC (FW-BW-Trim), edit-distance join, DBSCAN,
integer k-means."""
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from plateau_gis_converter_spark.operators import clustering as cl
from plateau_gis_converter_spark.operators import dedup as dd
from plateau_gis_converter_spark.operators import graph as gr


def _g(spark, nodes, edges):
    n = spark.createDataFrame([Row(id=i) for i in nodes])
    e = spark.createDataFrame([Row(src=a, dst=b) for a, b in edges])
    return n, e


def _scc(spark, nodes, edges, **kw):
    n, e = _g(spark, nodes, edges)
    return {r["id"]: r["scc_id"]
            for r in gr.scc_labels(n, e, **kw).collect()}


def test_scc_cycle_chain_and_isolated(spark):
    # 0->1->2->0 cycle; 3->4->5 chain; 6 isolated; cycle feeds chain 2->3
    got = _scc(spark, range(7),
               [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (2, 3)])
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 5, 6: 6}


def test_scc_two_cycles_bridged_both_directions(spark):
    # cycle A {0,1}, cycle B {2,3}, bridge A->B AND B->A => ONE SCC
    got = _scc(spark, range(4), [(0, 1), (1, 0), (2, 3), (3, 2),
                                 (1, 2), (3, 0)])
    assert got == {0: 0, 1: 0, 2: 0, 3: 0}


def test_scc_downstream_cycle_needs_second_peel(spark):
    # cycle {0,1} -> cycle {5,6}: peel 1 labels {0,1} (and trims nothing);
    # {5,6}'s forward min is 0 until {0,1} is removed -> peel 2
    got = _scc(spark, [0, 1, 5, 6], [(0, 1), (1, 0), (5, 6), (6, 5),
                                     (1, 5)])
    assert got == {0: 0, 1: 0, 5: 5, 6: 5}


def test_scc_raises_on_peel_budget(spark):
    # 3 cycles in a descending-reachability chain need 3 peels
    edges = [(0, 1), (1, 0), (2, 3), (3, 2), (4, 5), (5, 4),
             (1, 2), (3, 4)]
    with pytest.raises(RuntimeError):
        _scc(spark, range(6), edges, max_peels=2)
    assert _scc(spark, range(6), edges, max_peels=3) == {
        0: 0, 1: 0, 2: 2, 3: 2, 4: 4, 5: 4}


def test_scc_ignores_edges_leaving_the_node_set(spark):
    # 5 is no node: the cycle 0 -> 1 -> 5 -> 0 through it must not
    # label 5, and the first trim removes nothing here
    n, e = _g(spark, [0, 1], [(0, 1), (1, 0), (1, 5), (5, 0)])
    got = sorted(tuple(r) for r in gr.scc_labels(n, e).collect())
    assert got == [(0, 0), (1, 0)]


def test_scc_of_no_nodes_is_empty(spark):
    n = spark.createDataFrame([], "id bigint")
    e = spark.createDataFrame([(0, 1)], "src bigint, dst bigint")
    got = gr.scc_labels(n, e)
    assert got.collect() == []
    assert got.columns == ["id", "scc_id"]
    assert [f.dataType.simpleString() for f in got.schema] == [
        "bigint", "bigint"]


def test_edit_distance_pairs_matches_bruteforce(spark):
    import itertools
    strs = ["kitten", "sitten", "sittin", "sitting", "kitte",
            "abcdefgh", "abcdefghxx", "zzz", "zz", ""]
    rows = [Row(k=i, s=s) for i, s in enumerate(strs)]
    df = spark.createDataFrame(rows)
    got = {(r["key_a"], r["key_b"]): r["dist"]
           for r in dd.edit_distance_pairs(df, "k", "s", 2).collect()}

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[len(b)]

    want = {(i, j): lev(strs[i], strs[j])
            for i, j in itertools.combinations(range(len(strs)), 2)
            if lev(strs[i], strs[j]) <= 2}
    assert got == want and (0, 3) not in got and (0, 1) in got


def test_edit_distance_rejects_zero_band(spark):
    df = spark.createDataFrame([Row(k=1, s="a")])
    with pytest.raises(ValueError):
        dd.edit_distance_pairs(df, "k", "s", 0)


def _pts(spark, coords):
    return spark.createDataFrame(
        [Row(doc_id=i, lng_udeg=x, lat_udeg=y)
         for i, (x, y) in enumerate(coords)])


def test_dbscan_core_border_noise(spark):
    # ~0.00100 deg ~ 90 m at lat 0 (lng exact at equator): cluster of 4
    # mutually-within-250m points, one border point 200 m from one core
    # only, one far noise point.
    base = 139_700_000
    coords = [(base, 0), (base + 1000, 0), (base, 1000),
              (base + 1000, 1000),                    # 4 cores (~110m grid)
              (base + 2800, 0),                       # border: near id1 only
              (base + 9_000_000, 0)]                  # noise, ~1000 km
    out = {r["id"]: (r["cluster_id"], r["role"])
           for r in cl.dbscan_clusters(_pts(spark, coords), 250.0, 4)
           .collect()}
    assert out[0] == (0, "core") and out[3] == (0, "core")
    assert out[4] == (0, "border")
    assert 5 not in out
    assert len(out) == 5


def test_dbscan_two_separate_clusters(spark):
    base = 139_700_000
    c1 = [(base + dx, dy) for dx in (0, 1000) for dy in (0, 1000)]
    c2 = [(base + 100_000 + dx, dy) for dx in (0, 1000) for dy in (0, 1000)]
    out = {r["id"]: r["cluster_id"]
           for r in cl.dbscan_clusters(_pts(spark, c1 + c2), 250.0, 4)
           .collect()}
    assert len(out) == 8
    assert {out[i] for i in range(4)} == {0}
    assert {out[i] for i in range(4, 8)} == {4}


def test_kmeans_two_obvious_clusters(spark):
    pts = _pts(spark, [(0, 0), (10, 0), (0, 10),
                       (1000, 1000), (1010, 1000), (1000, 1010)])
    out = {r["id"]: r["cluster"]
           for r in cl.kmeans_lloyd_int(pts, k=2, iters=3,
                                        id_col="doc_id").collect()}
    assert {out[0], out[1], out[2]} == {0}
    assert {out[3], out[4], out[5]} == {1}


def test_kmeans_zero_iters_is_seed_assignment_and_validation(spark):
    pts = _pts(spark, [(0, 0), (100, 0), (7, 0)])
    out = {r["id"]: (r["cluster"], r["cx"])
           for r in cl.kmeans_lloyd_int(pts, k=2, iters=0,
                                        id_col="doc_id").collect()}
    # seeds = ids 0,1 at x=0,100; point 2 (x=7) nearer seed 0
    assert out[0] == (0, 0) and out[1] == (1, 100) and out[2] == (0, 0)
    with pytest.raises(ValueError):
        cl.kmeans_lloyd_int(pts, k=0, iters=1)


def test_kmeans_tie_breaks_to_smaller_centroid(spark):
    # point 2 exactly between the two seeds -> cluster 0
    pts = _pts(spark, [(0, 0), (20, 0), (10, 0)])
    out = {r["id"]: r["cluster"]
           for r in cl.kmeans_lloyd_int(pts, k=2, iters=0,
                                        id_col="doc_id").collect()}
    assert out[2] == 0
