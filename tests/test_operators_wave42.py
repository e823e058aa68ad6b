"""Round-5 wave 42: water-filling mix solver, calibration bins, nDCG."""
import pytest
from pyspark.sql import Row

from plateau_gis_converter_spark.operators import retrieval as rt
from plateau_gis_converter_spark.operators import sampling as sp
from plateau_gis_converter_spark.operators import stats as st


# ------------------------------------------------------------- mix waterfill

def _src(spark, rows):
    return spark.createDataFrame(
        [Row(source=s, avail=a, weight=w) for s, a, w in rows])


def test_waterfill_scarce_source_saturates_and_residue_spreads(spark):
    # equal weights, budget 90: fair share 30 each; source a only has
    # 10 -> saturated, the other two split the remaining 80 evenly
    src = _src(spark, [("a", 10, 1), ("b", 100, 1), ("c", 100, 1)])
    got = {r["source"]: (r["saturated"], r["quota"])
           for r in sp.mix_waterfill(src, 90).collect()}
    assert got["a"] == (True, 10)
    assert got["b"] == (False, 40) and got["c"] == (False, 40)


def test_waterfill_budget_exceeds_supply_takes_everything(spark):
    src = _src(spark, [("a", 5, 3), ("b", 7, 1)])
    got = {r["source"]: (r["saturated"], r["quota"])
           for r in sp.mix_waterfill(src, 1000).collect()}
    assert got == {"a": (True, 5), "b": (True, 7)}


def test_waterfill_weighted_and_total_bounded(spark):
    src = _src(spark, [("a", 1000, 3), ("b", 1000, 1), ("c", 2, 4)])
    rows = sp.mix_waterfill(src, 400).collect()
    got = {r["source"]: r for r in rows}
    # c saturates (2 tokens); remaining 398 split 3:1
    assert got["c"]["saturated"] and got["c"]["quota"] == 2
    assert got["a"]["quota"] == 398 * 3 // 4
    assert got["b"]["quota"] == 398 * 1 // 4
    assert sum(r["quota"] for r in rows) <= 400


def test_waterfill_zero_weight_gets_nothing(spark):
    src = _src(spark, [("a", 50, 0), ("b", 50, 2)])
    got = {r["source"]: (r["saturated"], r["quota"])
           for r in sp.mix_waterfill(src, 30).collect()}
    assert got["a"] == (False, 0)
    assert got["b"] == (False, 30)


def test_waterfill_lazy_budget_relation_matches_int_form(spark):
    # r6: the budget may be a 1-row relation (folded in as a broadcast
    # crossJoin — no driver collect); results must equal the int form
    from pyspark.sql import functions as F

    src = _src(spark, [("a", 10, 1), ("b", 100, 1), ("c", 100, 1),
                       ("z", 50, 0)])
    bdf = spark.range(1).select(F.lit(90).cast("bigint").alias("b"))
    want = sorted(map(tuple, sp.mix_waterfill(src, 90).collect()))
    got = sorted(map(tuple, sp.mix_waterfill(src, bdf).collect()))
    assert got == want


def test_waterfill_lazy_budget_rejects_multi_column(spark):
    import pytest
    from pyspark.sql import functions as F

    src = _src(spark, [("a", 10, 1)])
    bad = spark.range(1).select(F.lit(1).alias("x"), F.lit(2).alias("y"))
    with pytest.raises(ValueError, match="exactly one"):
        sp.mix_waterfill(src, bad)


@pytest.mark.parametrize("rows, value", [
    (2, 90), (0, 90), (1, None), (1, -1)],
    ids=["multi_row", "empty", "null", "negative"])
def test_waterfill_lazy_budget_rejects_bad_relations(spark, rows, value):
    """A budget relation with several rows, no row, a NULL or a negative
    value fails the query instead of corrupting the quotas."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException
    from pyspark.sql import functions as F

    src = _src(spark, [("a", 10, 1), ("b", 100, 1), ("c", 100, 1)])
    bdf = spark.range(rows).select(F.lit(value).cast("bigint").alias("b"))
    # AQE wraps the error in a plain SparkException (Py4JJavaError) when
    # several stages fail on it at once
    with pytest.raises((PySparkException, Py4JJavaError),
                       match="exactly one non-NULL row"):
        sp.mix_waterfill(src, bdf).collect()


def test_mix_plan_evaluates_the_budget_guard_once(spark):
    """q_mix_plan's budget (a corpus aggregate) feeds both the water level
    and the crossJoin. The initial plan has the guard twice, but after a
    run the final plan evaluates it in one broadcast stage; the other
    branch reuses the window's exchange."""
    from conftest import SF_DIR

    from plateau_gis_converter_spark.plans import entry_queries as eq

    df = eq.QUERIES["mix_plan"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Final Plan ==", 1)[1] \
        .split("== Initial Plan ==", 1)[0]
    assert final.count("raise_error") == 1
    assert "ReusedExchange" in final


# ---------------------------------------------------------- calibration bins

def test_calibration_bins_and_ece(spark):
    rows = ([Row(s=50, y=0)] * 9 + [Row(s=50, y=1)]       # bin 0: 10% pos
            + [Row(s=950, y=1)] * 8 + [Row(s=950, y=0)] * 2)  # bin 9: 80%
    out = {r["bin"]: r for r in st.calibration_bins(
        spark.createDataFrame(rows), "s", "y").collect()}
    assert out[0]["n"] == 10 and out[0]["rate_milli"] == 100
    assert out[0]["conf_milli"] == 50
    assert out[9]["n"] == 10 and out[9]["rate_milli"] == 800
    assert out[9]["conf_milli"] == 950
    # ECE from the bin relation: sum(n_b * |rate-conf|) / N
    ece = sum(r["n"] * abs(r["rate_milli"] - r["conf_milli"])
              for r in out.values()) // sum(r["n"] for r in out.values())
    assert ece == (10 * 50 + 10 * 150) // 20


def test_calibration_score_1000_lands_in_top_bin(spark):
    rows = [Row(s=1000, y=1), Row(s=0, y=0), Row(s=999, y=1)]
    out = {r["bin"]: r["n"] for r in st.calibration_bins(
        spark.createDataFrame(rows), "s", "y").collect()}
    assert out == {0: 1, 9: 2}


# ------------------------------------------------------------------- nDCG

def test_ndcg_perfect_ranking_is_1000(spark):
    res = spark.createDataFrame(
        [Row(query_id=1, doc_id=d, rank=r)
         for r, d in enumerate([10, 20, 30], start=1)])
    rels = spark.createDataFrame(
        [Row(query_id=1, doc_id=10, rel=3),
         Row(query_id=1, doc_id=20, rel=2),
         Row(query_id=1, doc_id=30, rel=1)])
    r = rt.ndcg_at_k(res, rels, k=3).collect()[0]
    assert r["ndcg_milli"] == 1000
    assert r["dcg_micro"] == r["idcg_micro"]


def test_ndcg_counts_unretrieved_judgments(spark):
    # system retrieved only an irrelevant doc; ideal includes the
    # missed rel-3 doc -> ndcg 0
    res = spark.createDataFrame([Row(query_id=1, doc_id=99, rank=1)])
    rels = spark.createDataFrame(
        [Row(query_id=1, doc_id=10, rel=3),
         Row(query_id=1, doc_id=99, rel=0)])
    r = rt.ndcg_at_k(res, rels, k=3).collect()[0]
    assert r["dcg_micro"] == 0 and r["ndcg_milli"] == 0
    assert r["idcg_micro"] > 0


def test_ndcg_matches_scalar(spark):
    import math
    res = spark.createDataFrame(
        [Row(query_id=1, doc_id=d, rank=r)
         for r, d in enumerate([5, 3, 8, 1], start=1)])
    rels = spark.createDataFrame(
        [Row(query_id=1, doc_id=d, rel=rel)
         for d, rel in [(1, 3), (3, 2), (5, 1), (7, 3)]])
    r = rt.ndcg_at_k(res, rels, k=4).collect()[0]

    def g(rel, rank):
        return math.floor(rel / (math.log(rank + 1.0) / math.log(2.0))
                          * 1e6 + 0.5)

    dcg = g(1, 1) + g(2, 2) + g(3, 4)  # doc 8 unjudged contributes 0
    idcg = g(3, 1) + g(3, 2) + g(2, 3) + g(1, 4)
    assert (r["dcg_micro"], r["idcg_micro"]) == (dcg, idcg)
    assert r["ndcg_milli"] == 1000 * dcg // idcg
