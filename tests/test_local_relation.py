"""Driver-built relations (sources/local.py): the same rows, schema and
driver-side type errors as ``createDataFrame`` on a list, planned as a
``LocalTableScan`` instead of a scan of a Python RDD."""
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from plateau_gis_converter_spark.operators import geocode, packing, spatial_join
from plateau_gis_converter_spark.sources import fixtures as fx
from plateau_gis_converter_spark.sources.local import local_relation

NESTED = T.StructType([
    T.StructField("k", T.StringType(), False),
    T.StructField("rings", T.ArrayType(T.ArrayType(T.ArrayType(
        T.LongType()))), False),
    T.StructField("attrs", T.MapType(T.StringType(), T.StringType()), False),
    T.StructField("n", T.IntegerType()),
])
NESTED_ROWS = [
    ("a", [[[139_600_000, 35_600_000], [139_700_000, 35_650_000]], []],
     {"name": "x", "kind": ""}, 7),
    ("b", [], {}, None),
    ("c", [[[-(2 ** 63), 2 ** 63 - 1]]], {"k": "v"}, -(2 ** 31)),
]


@pytest.mark.parametrize("rows, schema", [
    (NESTED_ROWS, NESTED),
    ([], NESTED),
    ([(1 << 40, "w1", -5), (3, "w2", None)],
     "_cell: long, ward_code: string, x1: long"),
], ids=["nested", "empty", "ddl"])
def test_round_trip_matches_create_dataframe_on_a_list(spark, rows, schema):
    got = local_relation(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got._jdf.schema().json() == want._jdf.schema().json()
    assert got.schema == want.schema
    assert got.collect() == want.collect()


@pytest.mark.parametrize("rows, schema", [
    ([(2 ** 40,)], "a int"),
    ([(1.5,)], "a bigint"),
    ([(None,)], T.StructType([T.StructField("a", T.LongType(), False)])),
    ([([[None]],)], T.StructType([T.StructField(
        "a", T.ArrayType(T.ArrayType(T.LongType(), False)), False)])),
], ids=["int64-in-int", "fraction-in-bigint", "none-not-nullable",
        "none-in-non-nullable-element"])
def test_type_errors_raise_on_the_driver(spark, rows, schema):
    with pytest.raises((TypeError, ValueError)):
        local_relation(spark, rows, schema)


def _broadcast_sides(plan: str) -> list[str]:
    """The text of every BroadcastExchange subtree of a plan string."""
    lines = plan.splitlines()
    col = [len(re.match(r"[\s:|+\-]*", ln).group(0)) for ln in lines]
    sides = []
    for i, ln in enumerate(lines):
        if ln[col[i]:].startswith("BroadcastExchange"):
            j = i + 1
            while j < len(lines) and col[j] > col[i]:
                j += 1
            sides.append("\n".join(lines[i:j]))
    return sides


def _inplan_points(spark, n=200):
    pages = spark.range(0, n).select(
        F.col("id").alias("doc_id"),
        F.format_string("lat_udeg=%d lng_udeg=%d",
                        F.lit(35_660_000) + F.col("id") * 500,
                        F.lit(139_670_000) + F.col("id") * 700)
        .alias("text"))
    return geocode.geocode_expr(pages)


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("records", [fx.tessellation_records,
                                     fx.holed_records],
                         ids=["convex-quads", "holes"])
def test_spatial_join_index_is_a_local_table_scan(spark, records):
    plan = _executed_plan(spatial_join.spatial_join_points(
        spark, _inplan_points(spark), records()))
    sides = _broadcast_sides(plan)
    assert sides and all("LocalTableScan" in s for s in sides), plan
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan


def test_pack_offsets_are_a_local_table_scan(spark):
    docs = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        F.repeat(F.lit("tok "), (F.col("id") % 7).cast("int")).alias("text"))
    plan = _executed_plan(packing.pack_concat_chunks(docs, budget=16,
                                                     num_partitions=4))
    sides = _broadcast_sides(plan)
    assert sides and all("LocalTableScan" in s for s in sides), plan
    # the only RDD scan left is the pinned range partitioning
    assert not any("ExistingRDD" in s or "PythonRDD" in s for s in sides)
