"""Unit tests: CIDR longest-prefix-match join and packed-bitmap overlap."""
import pytest
from pyspark.sql import functions as F

from plateau_gis_converter_spark.operators import bitmap as bmp
from plateau_gis_converter_spark.operators import network as nw


def _ip(o1, o2, o3, o4):
    return o1 * 16777216 + o2 * 65536 + o3 * 256 + o4


@pytest.fixture(scope="module")
def prefixes(spark):
    rows = [
        (_ip(10, 0, 0, 0), 8, "ten"),
        (_ip(10, 1, 0, 0), 16, "ten-one"),
        (_ip(10, 1, 2, 0), 24, "ten-one-two"),
        (_ip(10, 1, 2, 3), 32, "host-route"),
        (_ip(0, 0, 0, 0), 0, "default"),
    ]
    return spark.createDataFrame(rows, "net bigint, plen int, label string")


def test_lpm_longest_match_wins(spark, prefixes):
    ips = spark.createDataFrame(
        [(1, _ip(10, 1, 2, 3)),    # /32 host route
         (2, _ip(10, 1, 2, 99)),   # /24
         (3, _ip(10, 1, 9, 9)),    # /16
         (4, _ip(10, 200, 0, 1)),  # /8
         (5, _ip(192, 168, 0, 1))  # only the /0 default
         ], "k bigint, ip bigint")
    out = {r["k"]: (r["matched_plen"], r["label"])
           for r in nw.lpm_join(ips, prefixes, "ip", ["label"]).collect()}
    assert out == {1: (32, "host-route"), 2: (24, "ten-one-two"),
                   3: (16, "ten-one"), 4: (8, "ten"), 5: (0, "default")}


def test_lpm_unrouted_is_null(spark, prefixes):
    no_default = prefixes.where(F.col("plen") > 0)
    ips = spark.createDataFrame([(1, _ip(8, 8, 8, 8))], "k bigint, ip bigint")
    row = nw.lpm_join(ips, no_default, "ip", ["label"]).collect()[0]
    assert row["matched_plen"] is None and row["label"] is None


def test_lpm_rejects_misaligned_prefix(spark):
    bad = spark.createDataFrame([(_ip(10, 1, 0, 1), 16, "x")],
                                "net bigint, plen int, label string")
    ips = spark.createDataFrame([(1, 0)], "k bigint, ip bigint")
    with pytest.raises(ValueError, match="misaligned"):
        nw.lpm_join(ips, bad, "ip", ["label"])


def test_lpm_rejects_out_of_range_plen(spark):
    bad = spark.createDataFrame([(0, 33, "x")],
                                "net bigint, plen int, label string")
    ips = spark.createDataFrame([(1, 0)], "k bigint, ip bigint")
    with pytest.raises(ValueError):
        nw.lpm_join(ips, bad, "ip", ["label"])


def test_lpm_validation_collects_one_row(spark, prefixes, monkeypatch):
    """10^5 distinct out-of-range lengths still raise, and the driver
    receives one row for them, not one row per length."""
    collected = []
    collect = type(prefixes).collect

    def spy(df):
        rows = collect(df)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(type(prefixes), "collect", spy)
    bad = spark.range(100000).select(
        F.lit(0).cast("bigint").alias("net"),
        (F.col("id") + 33).cast("int").alias("plen"),
        F.lit("x").alias("label"))
    ips = spark.createDataFrame([(1, 0)], "k bigint, ip bigint")
    with pytest.raises(ValueError, match="out-of-range"):
        nw.lpm_join(ips, bad, "ip", ["label"])
    assert collected == [1]
    collected.clear()
    nw.lpm_join(ips, prefixes, "ip", ["label"])
    assert collected == [1]


def test_lpm_plan_is_broadcast_only(spark, prefixes):
    """The cascade must compile to broadcast hash joins — never a
    shuffled join of the fact."""
    ips = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 4294967296).alias("ip"))
    plan = (nw.lpm_join(ips, prefixes, "ip", ["label"])
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_bitmap_overlap_exact_counts(spark):
    rows = ([("a", m) for m in (1, 2, 3, 100, 1000)]
            + [("b", m) for m in (2, 3, 4)]
            + [("b", 2)]             # duplicate membership absorbed
            + [("c", m) for m in (64, 65)])  # no overlap with a or b
    df = spark.createDataFrame(rows, "seg string, m bigint")
    out = {(r["seg_a"], r["seg_b"]):
           (r["n_a"], r["n_b"], r["n_common"], r["n_union"])
           for r in bmp.segment_overlap(df, "seg", "m").collect()}
    assert out == {("a", "b"): (5, 3, 2, 6),
                   ("a", "c"): (5, 2, 0, 7),
                   ("b", "c"): (3, 2, 0, 5)}


def test_bitmap_word_packing(spark):
    """Members 63/64 straddle the word boundary; bitmaps stay sparse
    (only touched words materialize)."""
    df = spark.createDataFrame([("a", 63), ("a", 64), ("a", 10**9)],
                               "seg string, m bigint")
    words = {r["word_idx"]: r["word"]
             for r in bmp.segment_bitmaps(df, "seg", "m").collect()}
    assert words[0] == 1 << 63 or words[0] == -(1 << 63)  # bit 63 (sign)
    assert words[1] == 1
    assert len(words) == 3
    sizes = bmp.bitmap_sizes(bmp.segment_bitmaps(df, "seg", "m")).collect()
    assert sizes[0]["n"] == 3


def test_bitmap_nulls_dropped(spark):
    df = spark.createDataFrame([("a", 1), ("a", None), (None, 2)],
                               "seg string, m bigint")
    rows = bmp.segment_bitmaps(df, "seg", "m").collect()
    assert len(rows) == 1 and rows[0]["seg"] == "a"
