"""operators.materialize: the statistics a loop stops on are observed by the
job that pins the relation, not read by a second action."""
from pyspark.sql import Row
from pyspark.sql import functions as F

from plateau_gis_converter_spark.operators import graph as gr
from plateau_gis_converter_spark.operators.materialize import materialize


def _stats():
    return {"n": F.count(F.lit(1)), "s": F.sum("v"),
            "big": F.count(F.when(F.col("v") > 10, 1))}


def test_observed_stats_equal_an_aggregate(spark):
    grouped = (spark.range(0, 1000, 1, 4)
               .groupBy((F.col("id") % 37).alias("k"))
               .agg(F.sum("id").alias("v")))
    empty = [spark.range(0).select(F.col("id").alias("v")),
             grouped.where(F.col("k") < 0),
             spark.createDataFrame([], "v bigint")]
    for df in [grouped] + empty:
        pinned, st = materialize(df, **_stats())
        want = df.agg(*(c.alias(k) for k, c in _stats().items())).first()
        assert st == want.asDict()
        assert pinned.count() == st["n"]
    assert st == {"n": 0, "s": None, "big": 0}


def _jobs_of(spark, group, fn):
    """(fn(), number of Spark jobs fn ran), counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_sssp_reads_its_stall_check_from_the_checkpoint_job(spark):
    """A 12-edge weighted chain converges in 13 rounds. Each round pins the
    distance relation once and reads (count, sum) from that job: 68 jobs
    in all at local[8]. A separate aggregate after each checkpoint costs
    about 2 more jobs per round (96 in all)."""
    e = spark.createDataFrame([Row(src=i, dst=i + 1, w=2) for i in range(12)])
    seeds = spark.createDataFrame([Row(id=0)])
    dist, jobs = _jobs_of(
        spark, "test_sssp_jobs",
        lambda: gr.sssp_from_seeds(seeds, e, max_rounds=20))
    assert {r["id"]: r["dist"] for r in dist.collect()} == \
        {i: 2 * i for i in range(13)}
    assert jobs <= 13 * 6, jobs
