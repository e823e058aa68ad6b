"""Statistics at sizes the fixtures never reach: each case is sized at or
just past the point where an int64 intermediate would overflow, built
in-plan with ``spark.range``, and checked against exact Python integers
computed from the definitions (not from the operators' formulas)."""
import math
from collections import Counter

from pyspark.sql import functions as F

from plateau_gis_converter_spark.operators import stats as st

DAY_US = 86_400_000_000


def _sign(v):
    return (v > 0) - (v < 0)


def _doubled_ranks(values):
    """2 * average rank of each value (ties share the mean rank)."""
    counts = Counter(values)
    r2, cum = {}, 0
    for v in sorted(counts):
        cum += counts[v]
        r2[v] = 2 * cum - counts[v] + 1
    return [r2[v] for v in values]


def _spearman_ref(xs, ys):
    rx, ry = _doubled_ranks(xs), _doubled_ranks(ys)
    n = len(xs)
    sx, sy = sum(rx), sum(ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    sxx, syy = sum(a * a for a in rx), sum(b * b for b in ry)
    num, den1, den2 = n * sxy - sx * sy, n * sxx - sx * sx, n * syy - sy * sy
    r = math.floor(float(num) / math.sqrt(float(den1) * float(den2))
                   * 1000.0 + 0.5)
    return n, num, den1, den2, r


def test_spearman_is_exact_at_the_int64_bound_and_null_past_it(spark):
    """Without ties n * Sxx = 2n^2 (n+1)(2n+1) / 3, which fits int64 up to
    n = 51,284: that group is exact, one row more is NULL, not an error,
    and so is a group whose Sxx itself passes int64."""
    def group(g, n):
        return spark.range(n).select(
            F.lit(g).alias("g"), F.col("id").alias("x"),
            ((F.col("id") * 7919) % 1000).alias("y"))

    out = {r["g"]: r for r in st.spearman_group_corr(
        group("at", 51_284).unionByName(group("past", 51_285))
        .unionByName(group("sums_past", 1_905_389)),
        "g", "x", "y").collect()}
    n = 51_284
    assert 2 * n * n * (n + 1) * (2 * n + 1) // 3 <= 2**63 - 1
    assert 2 * (n + 1) ** 2 * (n + 2) * (2 * n + 3) // 3 > 2**63 - 1
    at = out["at"]
    assert (at["n"], at["num"], at["den1"], at["den2"], at["r_milli"]) \
        == _spearman_ref(list(range(n)), [i * 7919 % 1000 for i in range(n)])
    big = 1_905_389
    assert sum((2 * i) ** 2 for i in range(1, big + 1)) > 2**63 - 1
    for g, rows in (("past", 51_285), ("sums_past", big)):
        r = out[g]
        assert (r["n"], r["num"], r["den1"], r["den2"], r["r_milli"]) \
            == (rows, None, None, None, None)


def _step_series(n):
    """Daily counts 1, 0 x (m - 1), 1 x (n - m) with m = n // 2: a 0/1
    step at mid-span; the first day's event pins the span start."""
    m = n // 2
    return [1] + [0] * (m - 1) + [1] * (n - m)


def _events(spark, n):
    """One event on each day whose ``_step_series(n)`` count is 1."""
    day = F.col("id")
    return (spark.range(n).where((day == 0) | (day >= n // 2))
            .select(F.lit("k").alias("k"),
                    F.timestamp_micros(day * F.lit(DAY_US))
                    .alias("ts")))


def test_mann_kendall_is_exact_past_the_int64_bound(spark):
    """180000 * (|S| - 1)^2 first exceeds int64 at 5,353 days for this
    step series."""
    c = _step_series(5_353)
    n = len(c)
    s, seen = 0, Counter()
    for x in c:
        s += sum(k * _sign(x - v) for v, k in seen.items())
        seen[x] += 1
    assert 180_000 * (abs(s) - 1) ** 2 > 2**63 - 1
    var18 = n * (n - 1) * (2 * n + 5) - sum(
        t * (t - 1) * (2 * t + 5) for t in Counter(c).values())
    sig = s != 0 and 180_000 * (abs(s) - 1) ** 2 > 38_416 * var18
    r = st.mann_kendall(_events(spark, n), key_col="k").collect()[0]
    assert (r["n_days"], r["s_stat"], r["var18"], r["trend"]) \
        == (n, s, var18, _sign(s) if sig else 0)
    assert r["trend"] == 1


def test_pettitt_is_exact_past_the_int64_bound(spark):
    """6_000_000 * K^2 first exceeds int64 at 2,228 days for this step
    series (K = 1113 * 1114)."""
    c = _step_series(2_228)
    n = len(c)
    best_a, best_t, best_u = -1, None, None
    for t in range(n - 1):
        left, right = Counter(c[:t + 1]), Counter(c[t + 1:])
        u = sum(a * b * _sign(x - y)
                for x, a in left.items() for y, b in right.items())
        if abs(u) > best_a:
            best_a, best_t, best_u = abs(u), t, u
    assert 6_000_000 * best_a ** 2 > 2**63 - 1
    shifted = int(6_000_000 * best_a ** 2 > 3_688_879 * (n ** 3 + n ** 2))
    r = st.pettitt_shift(_events(spark, n), key_col="k").collect()[0]
    assert (r["n_days"], r["u_stat"], r["k_stat"], r["change_day"],
            r["shifted"]) == (n, best_u, best_a, best_t, shifted)
    assert r["shifted"] == 1
