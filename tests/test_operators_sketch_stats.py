"""Log-histogram quantile sketch + bottom-k (KMV) sample properties."""
import pytest
from pyspark.sql import functions as F

from plateau_gis_converter_spark.operators import sampling as sp
from plateau_gis_converter_spark.operators import stats as st

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_log_histogram_counts_and_bounds(spark, docs):
    hist = st.log_histogram(docs, "n_chars", subbins=8).persist()
    n_docs = docs.where(F.col("n_chars") >= 1).count()
    assert hist.agg(F.sum("cnt")).collect()[0][0] == n_docs
    # every value lands inside its bin: re-join values to their bin row
    v = docs.select(F.col("n_chars").cast("bigint").alias("v")) \
        .where(F.col("v") >= 1)
    joined = v.join(hist, (F.col("v") >= F.col("lo"))
                    & (F.col("v") < F.col("hi")))
    assert joined.count() == n_docs  # exactly one bin per value
    # relative width law: (hi - lo) <= lo / subbins + 1 (integer floor)
    bad = hist.where((F.col("hi") - F.col("lo"))
                     > F.col("lo") / 8 + 1).count()
    assert bad == 0


def test_log_histogram_merge(spark, docs):
    """Sharded sketches merged == whole-corpus sketch (register merge)."""
    a = st.log_histogram(docs.where(F.col("doc_id") % 2 == 0), "n_chars")
    b = st.log_histogram(docs.where(F.col("doc_id") % 2 == 1), "n_chars")
    merged = (a.unionAll(b).groupBy("bin_id", "lo", "hi")
              .agg(F.sum("cnt").alias("cnt")))
    whole = st.log_histogram(docs, "n_chars")
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_histogram_quantile_brackets_exact(spark, docs):
    """The sketch's [lo, hi) bound must contain the EXACT type-1
    quantile from value_quantiles, for every q."""
    qs = [100_000, 500_000, 900_000, 990_000]
    hist = st.log_histogram(docs, "n_chars", subbins=8)
    bounds = {r["q_ppm"]: (r["lo"], r["hi"])
              for r in st.histogram_quantiles(hist, qs).collect()}
    exact = {r["q_ppm"]: r["value"]
             for r in st.value_quantiles(docs, "n_chars", qs).collect()}
    for q in qs:
        lo, hi = bounds[q]
        assert lo <= exact[q] < hi, (q, lo, exact[q], hi)


def test_target_rank_is_exact_up_to_int64_max(spark):
    """ceil(q * n / 10^6) for totals where the unsplit q * n + 999999
    overflows int64 (ANSI mode raises from n = 9,223,372,036,854 at
    q = 10^6), up to 2^63 - 1; the reference is Python's exact integer
    ceiling."""
    qs = [1, 500_000, 999_999, 1_000_000]
    totals = [0, 1, 999_999, 1_000_000, 9_223_372_036_853,
              9_223_372_036_854, 9_223_372_036_855, 2**63 - 1]
    df = spark.createDataFrame([(q, n) for q in qs for n in totals],
                               "q_ppm long, tw long")
    got = {(r["q_ppm"], r["tw"]): r["t"] for r in df.select(
        "q_ppm", "tw", st._target_rank("tw").alias("t")).collect()}
    assert got == {(q, n): -(-q * n // 10**6) for q in qs for n in totals}


def test_bottom_k_merge_and_uniformity(spark, docs):
    """Merging two shards' sketches (union, keep k smallest) equals the
    whole-corpus sketch; ungrouped sketch is k rows."""
    from pyspark.sql import Window

    k = 16
    whole = sp.bottom_k_sketch(docs, "doc_id", k=k)
    assert whole.count() == k
    a = sp.bottom_k_sketch(docs.where(F.col("doc_id") % 2 == 0),
                           "doc_id", k=k)
    b = sp.bottom_k_sketch(docs.where(F.col("doc_id") % 2 == 1),
                           "doc_id", k=k)
    w = Window.orderBy(F.col("h").asc(), F.col("doc_id").asc())
    merged = (a.unionAll(b)
              .select("doc_id", "h")
              .withColumn("r", F.row_number().over(w).cast("bigint"))
              .where(F.col("r") <= k))
    assert merged.exceptAll(whole.select("doc_id", "h", "r")).count() == 0
    assert whole.select("doc_id", "h", "r").exceptAll(merged).count() == 0


def test_bottom_k_distinct_count_estimate(spark):
    """KMV estimator sanity: N̂ = (k-1) * 2^60 / h_(k) within 40% on a
    10k-distinct-key relation (k=256)."""
    df = spark.range(0, 10000).select(F.col("id").alias("k"))
    sk = sp.bottom_k_sketch(df, "k", k=256).collect()
    hk = max(r["h"] for r in sk)
    est = (256 - 1) * (1 << 60) / hk
    assert 0.6 * 10000 < est < 1.4 * 10000, est
