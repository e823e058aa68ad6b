"""Exact distribution quantiles over low-cardinality columns.

Corpus reports need exact percentiles of doc length / token count /
quality — and at 10^12 rows a global sort for ``percentile`` is the
wrong plan.  For the columns these reports use (integer lengths,
counts, quantized scores) the DISTINCT-VALUE relation is tiny even when
the row count is astronomic, so the scalable exact algorithm is:

* one partial-agg groupBy value -> per-value counts (map-side
  combined; the only pass over the data);
* a running-sum window over the SMALL counts relation (this is the
  only ordered step, and it orders values, not rows);
* the type-1 (lower-value) quantile: for target rank
  ``ceil(q * n / 10^6)``, the smallest value whose cumulative count
  reaches it — all-integer, so the gate's oracle reproduces it bit
  for bit.

For genuinely continuous columns, quantize first (``_cents`` style) or
use Spark's ``approx_percentile`` (Greenwald-Khanna) — documented
trade; this operator is the exact path reports and gates need.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.local import local_relation
from .materialize import materialize


def _target_rank(total: str) -> Column:
    """ceil(q_ppm * total / 10^6) for any bigint ``total`` >= 0: split at
    10^6, no intermediate exceeds the result (q_ppm * total would)."""
    return F.expr(f"q_ppm * ({total} div 1000000) + "
                  f"(q_ppm * ({total} % 1000000) + 999999) div 1000000")


def value_quantiles(df: DataFrame, col: str,
                    qs_ppm: list[int]) -> DataFrame:
    """(q_ppm, value): the exact type-1 quantile of ``col`` for each
    requested q (parts-per-million, e.g. 500000 = median)."""
    if not qs_ppm:
        raise ValueError("qs_ppm must be non-empty")
    if not all(0 < q <= 1_000_000 for q in qs_ppm):
        raise ValueError(f"qs_ppm must be in (0, 1e6], got {qs_ppm}")
    # r6 OPTIMIZATION (the group_value_quantiles pattern applied back):
    # the total count n is a second window over the SAME ordered
    # single-partition relation the running sum already uses — no
    # driver collect(), so deriving n no longer forces a second pass
    # over df's lineage before the main job.
    counts = (df.groupBy(F.col(col).alias("v"))
              .agg(F.count(F.lit(1)).alias("c")))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("v").rowsBetween(Window.unboundedPreceding,
                                           Window.unboundedFollowing)
    cum = (counts.withColumn("cum", F.sum("c").over(w))
           .withColumn("n", F.sum("c").over(wall)))
    qdf = local_relation(df.sparkSession,
                         [(int(q),) for q in sorted(set(qs_ppm))],
                         "q_ppm long")
    tgt = _target_rank("n")
    return (cum.join(F.broadcast(qdf), F.col("cum") >= tgt)
            .groupBy("q_ppm")
            .agg(F.min("v").alias("value")))


def log_histogram(df: DataFrame, col: str, subbins: int = 8) -> DataFrame:
    """Mergeable log-scaled histogram sketch over a POSITIVE integer
    column — the bounded-size companion to ``value_quantiles`` for
    columns whose distinct-value relation is NOT small (raw byte
    lengths, latencies). The DDSketch/HdrHistogram idea with
    deterministic integer bins: value v falls in exponent e =
    floor(log2 v) and sub-bin s = (v - 2^e) * subbins // 2^e, i.e.
    ``subbins`` equal-width bins per octave, so any quantile read from
    the sketch has relative error <= 1/subbins. All-integer (the
    exponent comes from the binary-digit count, the sub-bin from one
    integer multiply+divide), hence bit-reproducible in any engine.

    Output registers: (bin_id, lo, hi, cnt) with lo/hi the inclusive/
    exclusive value bounds. Size is bounded by subbins * 64 rows no
    matter the row count; merge = unionAll + sum(cnt) per bin (same
    register discipline as cms/hll). Values must satisfy
    1 <= v < 2^52/subbins (the power-of-two scaling stays exact in the
    double ``pow``); non-positive values raise at read time via the
    count mismatch, not silently.

    One partial-agg groupBy on the data; everything else is O(bins).
    """
    v = F.col(col).cast("bigint")
    e = (F.length(F.conv(v, 10, 2)) - F.lit(1)).cast("bigint")
    powe = F.pow(F.lit(2.0), e.cast("double")).cast("bigint")
    s = F.floor((v - powe) * F.lit(subbins) / powe).cast("bigint")
    bin_id = e * F.lit(subbins) + s
    lo = powe + F.floor(s * powe / F.lit(subbins)).cast("bigint")
    hi = powe + F.floor((s + 1) * powe / F.lit(subbins)).cast("bigint")
    return (df.where(v >= 1)
            .select(bin_id.alias("bin_id"), lo.alias("lo"), hi.alias("hi"))
            .groupBy("bin_id", "lo", "hi")
            .agg(F.count(F.lit(1)).alias("cnt")))


def histogram_quantiles(hist: DataFrame,
                        qs_ppm: list[int]) -> DataFrame:
    """Read type-1 quantile BOUNDS from a ``log_histogram`` sketch: for
    each q, the (lo, hi) of the first bin whose cumulative count
    reaches rank ceil(q * n / 10^6) — the true quantile lies in
    [lo, hi), so the guaranteed relative error is (hi-lo)/lo <=
    1/subbins. Same all-integer rank rule as ``value_quantiles``; the
    window runs over the O(subbins*64)-row register relation."""
    if not qs_ppm:
        raise ValueError("qs_ppm must be non-empty")
    if not all(0 < q <= 1_000_000 for q in qs_ppm):
        raise ValueError(f"qs_ppm must be in (0, 1e6], got {qs_ppm}")
    # r6 OPTIMIZATION (same rework as value_quantiles): n comes from a
    # second window over the same ordered register relation instead of
    # a driver collect() (which re-derived the sketch lineage), and the
    # answering bin's (lo, hi) rides along in a min(struct) so the old
    # join back into hist (a third derivation) is gone — ONE pass over
    # the sketch lineage total. bin_id is unique per register row, so
    # min(struct(bin_id, lo, hi)) is exactly the old min(bin_id) row.
    w = Window.orderBy("bin_id").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("bin_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    cum = (hist.withColumn("cum", F.sum("cnt").over(w))
           .withColumn("n", F.sum("cnt").over(wall)))
    qdf = local_relation(hist.sparkSession,
                         [(int(q),) for q in sorted(set(qs_ppm))],
                         "q_ppm long")
    tgt = _target_rank("n")
    return (cum.join(F.broadcast(qdf), F.col("cum") >= tgt)
            .groupBy("q_ppm")
            .agg(F.min(F.struct("bin_id", "lo", "hi")).alias("b"))
            .select("q_ppm", F.col("b.lo").alias("lo"),
                    F.col("b.hi").alias("hi")))


def decayed_counts(df: DataFrame, key_col: str, ts_col: str = "ts",
                   bucket_us: int = 3_600_000_000,
                   max_shift: int = 40) -> DataFrame:
    """Exponentially-decayed activity counters per key — the classic
    streaming freshness/trend statistic (half-life = one bucket): each
    bucket's event count contributes ``cnt / 2^(age in buckets)``
    relative to the key's LATEST bucket, so a key active right now
    outranks one with the same volume spread across last week.  Crawl
    scheduling, trending-host detection, per-domain rate control all
    key on this.

    Integer-exact: ``decayed_micro = sum(cnt * 10^6 div 2^shift)`` over
    buckets with ``shift < max_shift`` (a 2^-40 tail is sub-micro
    anyway), timestamps bucketed on exact epoch microseconds.  Output:
    (key, n_events, last_bucket, decayed_micro).

    Shape: one (key, bucket) partial agg, one per-key max, and the
    co-keyed join between them — Catalyst reuses the hash partitioning
    (both shuffles key on ``key_col`` first), and nothing is ever
    collected.  Mergeable across shards by re-aggregating with the
    shard-max rule (same discipline as the HLL/CMS register modules).
    """
    kb = (df.select(F.col(key_col).alias("key"),
                    # CAST: parquet TIMESTAMP_NTZ -> session-UTC instant
                    # (unix_micros rejects NTZ; the session tz is UTC)
                    F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP)) "
                           f"div {int(bucket_us)}")
                    .alias("b"))
          .groupBy("key", "b")
          .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
    last = kb.groupBy("key").agg(F.max("b").alias("last_bucket"),
                                 F.sum("cnt").cast("bigint")
                                 .alias("n_events"))
    return (kb.join(last, "key")
            .withColumn("_shift", F.col("last_bucket") - F.col("b"))
            .groupBy("key", "last_bucket", "n_events")
            .agg(F.sum(F.when(
                F.col("_shift") < max_shift,
                F.expr(f"cnt * 1000000 div "
                       f"(CAST(1 AS BIGINT) << CAST(_shift AS INT))"))
                .otherwise(F.lit(0))).cast("bigint")
                .alias("decayed_micro"))
            .select(F.col("key").alias(key_col), "n_events",
                    "last_bucket", "decayed_micro"))


def group_rank_normalize(df: DataFrame, group_col: str, value_col: str,
                         key_col: str, out_col: str = "pct_micro",
                         descending: bool = False) -> DataFrame:
    """Within-group rank normalization to [0, 10^6] — the per-domain
    quality-score calibration trick: a raw quality score is incomparable
    across hosts (boilerplate shifts the whole distribution), so rank it
    WITHIN the group and keep the top X% of every host instead of the
    global top X% (which one clean host would monopolize).

    pct_micro = (rank - 1) * 10^6 div (n - 1) for n > 1 (0 when the
    group is a singleton); rank orders by (value, key) — ties broken by
    the unique key, so the output is deterministic and integer-exact.

    Shape: one window ranking per group + a count window on the same
    partitioning (a single hash-partitioned sort, no second shuffle).
    """
    from pyspark.sql import Window

    v = F.col(value_col).desc() if descending else F.col(value_col).asc()
    kord = F.col(key_col).asc()
    wr = Window.partitionBy(group_col).orderBy(v, kord)
    wn = Window.partitionBy(group_col)
    rank = F.row_number().over(wr).cast("bigint")
    n = F.count(F.lit(1)).over(wn).cast("bigint")
    return (df.withColumn("_rk", rank).withColumn("_n", n)
            .withColumn(out_col,
                        F.when(F.col("_n") > 1, F.expr(
                            "(_rk - 1) * 1000000 div (_n - 1)"))
                        .otherwise(F.lit(0)).cast("bigint"))
            .drop("_rk", "_n"))


def anomalous_bins(events: DataFrame, key_col: str = "event_type",
                   ts_col: str = "ts", z_sq_threshold: int = 9,
                   bin_expr: str = "date_trunc('DAY', ts)") -> DataFrame:
    """Per-key anomalous time bins — bins whose count deviates from the
    key's mean by more than sqrt(z_sq_threshold) population standard
    deviations, decided in EXACT integer arithmetic (the traffic-spike /
    crawler-burst detector a host-level ingest monitor runs).

    The z-score test (x - mu)^2 > T * sigma^2 multiplies out to
        (D*x - S)^2 * ? > T * D * (D*Q - S^2)   with
    D = #bins, S = sum(x), Q = sum(x^2) per key — no division, no
    floats, so partial-agg merge order cannot flip a boundary case.

    Masking bound (pick the threshold with it): with POPULATION stats a
    single outlier inflates sigma itself, capping its own z^2 at D - 1 —
    z^2 > 9 is unreachable under ~11 bins no matter how big the spike.
    A leave-one-out variant ((S - x)/(D - 1) moments) removes the cap at
    one extra subtraction per row; population stats keep the classic
    definition the oracle mirrors.
    Magnitudes: |D*x - S| <= D*max(x), D*Q <= D^2*max(x)^2 — safe in
    i64 for daily bins over years at millions of events/day.

    Two partial-agg shuffles on the same key (bin counts, then key
    moments) + one broadcast-sized join back (keys relation is tiny).

    Output: (key, bin_ts, n, is_anomaly).
    """
    binned = (events.select(F.col(key_col).alias("key"),
                            F.expr(bin_expr).alias("bin_ts"))
              .groupBy("key", "bin_ts")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    moments = binned.groupBy("key").agg(
        F.count(F.lit(1)).cast("bigint").alias("d"),
        F.sum("n").cast("bigint").alias("s"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("q"))
    dev = F.col("d") * F.col("n") - F.col("s")
    var_scaled = F.col("d") * F.col("q") - F.col("s") * F.col("s")
    return (binned.join(moments, "key")
            .select(F.col("key").alias(key_col), "bin_ts", "n",
                    (dev * dev > F.lit(int(z_sq_threshold)) * var_scaled)
                    .alias("is_anomaly")))


def group_value_quantiles(df: DataFrame, group_col: str, col: str,
                          qs_ppm: list[int]) -> DataFrame:
    """Per-GROUP exact type-1 quantiles with no global sort and no
    driver roundtrip — the grouped generalization of ``value_quantiles``
    (both keep the total as a second window over the same ordered
    relation; this version partitions the windows by the group key, so
    it scales to any number of groups).

    One partial-agg shuffle ((group, value) counts), two windows over
    the SAME group key (running count + group total — one Exchange),
    a broadcast of the tiny q-list, then the per-(group, q) min over
    qualifying values. All-integer target ranks: tgt = ceil(q * n / 1e6)
    (``_target_rank``).

    Output: (group, q_ppm, value).
    """
    if not qs_ppm:
        raise ValueError("qs_ppm must be non-empty")
    if not all(0 < q <= 1_000_000 for q in qs_ppm):
        raise ValueError(f"qs_ppm must be in (0, 1e6], got {qs_ppm}")
    counts = (df.groupBy(F.col(group_col).alias("g"),
                         F.col(col).alias("v"))
              .agg(F.count(F.lit(1)).alias("c")))
    wcum = (Window.partitionBy("g").orderBy("v")
            .rowsBetween(Window.unboundedPreceding, 0))
    wall = Window.partitionBy("g")
    cum = (counts.withColumn("cum", F.sum("c").over(wcum))
           .withColumn("n", F.sum("c").over(wall)))
    qdf = local_relation(df.sparkSession,
                         [(int(q),) for q in sorted(set(qs_ppm))],
                         "q_ppm long")
    tgt = _target_rank("n")
    return (cum.crossJoin(F.broadcast(qdf))
            .where(F.col("cum") >= tgt)
            .groupBy("g", "q_ppm")
            .agg(F.min("v").alias("value"))
            .select(F.col("g").alias(group_col), "q_ppm", "value"))


def trend_slope(events: DataFrame, key_col: str = "event_type",
                ts_col: str = "ts") -> DataFrame:
    """Per-key OLS trend slope of daily activity, integer-exact — the
    crawl-freshness / traffic-trend diagnostic (is this host growing or
    dying?) that feeds recrawl scheduling alongside
    ``temporal``'s change-frequency priority.

    Least-squares slope over the (day index, daily count) series:

        slope = (n*S_xy - S_x*S_y) / (n*S_xx - S_x^2)

    Every sum is computed over INTEGER (x, y): x = epoch-day relative
    to the key's own first active day (OLS slope is translation
    invariant, and the numerator/denominator are EXACTLY invariant in
    integer arithmetic, so the per-key offset changes nothing except
    keeping magnitudes small — at 10 years x 10^9 events/day,
    n*S_xy stays ~5e19-bounded only with the offset applied; raw epoch
    days would overflow i64), y = that day's event count.  The output
    is slope_uday = 10^6 * num DIV den in micro-events/day/day —
    integer division TRUNCATING toward zero, which Spark's `div` and
    DuckDB's integer `//` both do (verified: -7 div 2 = -7 // 2 = -3),
    so negative slopes agree bit-for-bit with no float in the chain.

    Shape: one partial-agg groupBy to daily counts, one window over the
    SMALL per-key daily relation (days/key rows, not events) for the
    x offset, one second partial agg — no window ever touches the raw
    event stream.  Keys with a single active day get NULL slope
    (den = 0) and are kept with n_days = 1.
    """
    from pyspark.sql import Window

    daily = (events.where(F.col(key_col).isNotNull())
             .groupBy(F.col(key_col).alias("k"),
                      F.expr(f"CAST(to_date({ts_col}) AS DATE)")
                      .alias("d"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("y")))
    w = Window.partitionBy("k")
    daily = daily.withColumn(
        "x", (F.datediff(F.col("d"), F.min("d").over(w))).cast("bigint"))
    agg = (daily.groupBy("k")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("x").cast("bigint").alias("sx"),
                F.sum("y").cast("bigint").alias("sy"),
                F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
                F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy")))
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) \
        * F.lit(1000000)
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.expr(
        "CASE WHEN _den = 0 THEN NULL ELSE _num div _den END")
    return (agg.withColumn("_num", num).withColumn("_den", den)
            .select(F.col("k").alias(key_col),
                    F.col("n").alias("n_days"),
                    F.col("sy").alias("total_events"),
                    slope.cast("bigint").alias("slope_uday")))


def chi2_flags(df: DataFrame, row_col: str, col_col: str,
               threshold: int = 4) -> DataFrame:
    """Chi-squared association cells over a two-way contingency table,
    flagged in EXACT integers — drift/association detection between two
    categorical columns (language x source, event type x hour): which
    cells deviate from independence by more than ``threshold`` in their
    chi-squared contribution.

    Cell contribution (O-E)^2/E with E = R*C/N equals
    (O*N - R*C)^2 / (N*R*C), so the flag

        (O*N - R*C)^2  >  threshold * N * R * C

    is decided entirely in int64 (safe while O*N < ~3e9*sqrt(thr) —
    fixture and any per-shard table qualify; a corpus-global table
    would pre-aggregate per shard first, these counts being additive).

    Shape: one partial-agg groupBy for cells + two tiny margin aggs
    broadcast back; map-side flag math. Output: (row_key, col_key, o,
    r, c, n, flagged).
    """
    cells, st = materialize(df.groupBy(F.col(row_col).alias("row_key"),
                                       F.col(col_col).alias("col_key"))
                            .agg(F.count(F.lit(1)).alias("o")),
                            n=F.sum("o"))
    n_total = st["n"]
    rows = cells.groupBy("row_key").agg(F.sum("o").alias("r"))
    colm = cells.groupBy("col_key").agg(F.sum("o").alias("c"))
    dev = (F.col("o") * F.lit(n_total) - F.col("r") * F.col("c"))
    return (cells.join(F.broadcast(rows), "row_key")
            .join(F.broadcast(colm), "col_key")
            .select("row_key", "col_key",
                    F.col("o").cast("bigint").alias("o"),
                    F.col("r").cast("bigint").alias("r"),
                    F.col("c").cast("bigint").alias("c"),
                    F.lit(n_total).cast("bigint").alias("n"),
                    (dev * dev > F.lit(int(threshold)) * F.lit(n_total)
                     * F.col("r") * F.col("c")).alias("flagged")))


def lag_autocorrelation(events: DataFrame, key_col: str = "event_type",
                        ts_col: str = "ts", lag_days: int = 7) -> DataFrame:
    """Per-key lag-k autocorrelation of DAILY activity — the seasonality
    detector (lag 7 = weekly rhythm) a traffic pipeline reports next to
    ``trend_slope`` and ``anomalous_bins``. The 1-D sibling of
    ``morans_i``'s integer-moment discipline.

    The series is the count per calendar day over the key's OWN
    [min_day, max_day] span with missing days as true zeros (a gap IS
    a signal for autocorrelation — skipping empty days would splice
    the series and fake correlation across the gap). With n = span
    days, S = total events: d_i = n*c_i - S is exact int64, and

        r = n * sum(d_i * d_{i+k}) / ((n - k) adjusted? -- no:
        r_milli = round(1000 * num / den),  num = sum_i d_i * d_{i+k},
        den = sum_i d_i^2

    num/den/n/S are all associative integer aggregates (merge-order
    free); only the final scalar ratio is a double, computed in one
    fixed op order (the morans_i pattern). r_milli is NULL when den = 0
    (a constant series has no autocorrelation).

    Plan: one groupBy for per-key span/totals, one map-side sequence
    explode materializing the grid (span rows per key — bounded by the
    calendar, never by event volume), one left join for counts, one
    self-equi-join on (key, day + k) for the lag pairs, two partial
    aggs. Zero Python, zero windows.
    """
    day = F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP)) "
                 "div 86400000000")
    daily = (events.select(F.col(key_col).alias("k"), day.alias("d"))
             .groupBy("k", "d")
             .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    span = daily.groupBy("k").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1"),
        F.sum("c").cast("bigint").alias("s"))
    grid = (span.select("k", "s",
                        (F.col("d1") - F.col("d0") + 1).alias("n"),
                        F.explode(F.sequence("d0", "d1")).alias("d")))
    cd = (grid.join(daily, ["k", "d"], "left")
          .select("k", "n", "s", "d",
                  (F.col("n") * F.coalesce(F.col("c"), F.lit(0))
                   - F.col("s")).alias("dev")))
    lagged = cd.select(F.col("k").alias("k2"),
                       (F.col("d") - F.lit(int(lag_days))).alias("d2"),
                       F.col("dev").alias("dev2"))
    pairs = cd.join(lagged, (F.col("k") == F.col("k2"))
                    & (F.col("d") == F.col("d2")))
    num = pairs.groupBy("k").agg(
        F.sum(F.col("dev") * F.col("dev2")).cast("bigint").alias("num"))
    den = cd.groupBy("k").agg(
        F.max("n").alias("n_days"),
        F.sum(F.col("dev") * F.col("dev")).cast("bigint").alias("den"))
    out = den.join(num, "k", "left")
    r = F.when(
        (F.col("den") > 0) & F.col("num").isNotNull(),
        F.floor(F.col("num").cast("double") / F.col("den").cast("double")
                * F.lit(1000.0) + F.lit(0.5)).cast("bigint"))
    return out.select(F.col("k").alias(key_col),
                      F.col("n_days").cast("bigint").alias("n_days"),
                      F.coalesce(F.col("num"), F.lit(0)).cast("bigint")
                      .alias("num"),
                      F.col("den").cast("bigint").alias("den"),
                      r.alias("r_milli"))


def trimmed_group_stats(df: DataFrame, group_col: str, value_col: str,
                        trim_ppm: int = 100_000) -> DataFrame:
    """Exact per-group trimmed (winsor-style truncated) mean: drop the
    ``trim_ppm``-fraction lowest AND highest values, aggregate the rest
    — the robust location estimate quality dashboards use when a few
    corrupt documents would drag a plain mean.

    Scale shape: NO row-level window. Trimming by rank needs order
    statistics, but any tie order yields the same kept MULTISET within
    equal values — so the operator works on the (group, value) COUNT
    relation (one partial-agg pass over the fact, the value_quantiles
    discipline): a cumulative-count window over the small distinct-value
    relation, then each value keeps
    ``max(0, min(cum, n-k) - max(cum-c, k))`` of its ``c`` copies.
    All-integer and engine-exact for integer values; the mean is emitted
    milli-scaled via DIV (non-negative values; floor==trunc divergence
    on negatives is the caller's contract).

    Output: (group, n, n_trim, n_kept, sum_kept, mean_milli).
    """
    if not 0 <= trim_ppm < 500_000:
        raise ValueError(f"trim_ppm must be in [0, 5e5), got {trim_ppm}")
    counts = (df.groupBy(F.col(group_col).alias("g"),
                         F.col(value_col).cast("bigint").alias("v"))
              .agg(F.count(F.lit(1)).alias("c")))
    wcum = (Window.partitionBy("g").orderBy("v")
            .rowsBetween(Window.unboundedPreceding, 0))
    wall = Window.partitionBy("g")
    cum = (counts
           .withColumn("cum", F.sum("c").over(wcum))
           .withColumn("n", F.sum("c").over(wall))
           .withColumn("k", F.expr(f"n * {int(trim_ppm)} div 1000000")))
    kept = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(F.col("cum"), F.col("n") - F.col("k"))
        - F.greatest(F.col("cum") - F.col("c"), F.col("k")))
    return (cum.withColumn("kept", kept)
            .groupBy("g")
            .agg(F.max("n").alias("n"), F.max("k").alias("n_trim"),
                 F.sum("kept").alias("n_kept"),
                 F.sum(F.col("v") * F.col("kept")).alias("sum_kept"))
            .withColumn("mean_milli",
                        F.when(F.col("n_kept") > 0, F.expr(
                            "1000 * sum_kept div n_kept")))
            .withColumnRenamed("g", group_col))


def mann_kendall(events: DataFrame, key_col: str = "event_type",
                 ts_col: str = "ts") -> DataFrame:
    """Per-key Mann-Kendall trend test over DAILY activity — the
    distribution-free companion of ``trend_slope``: OLS answers "how
    steep", Mann-Kendall answers "is there a monotone trend at all"
    without assuming linearity or normal noise (Mann 1945, Kendall 1975;
    the standard test in hydrology/air-quality monitoring, applied here
    to traffic series).

    The series is the count per calendar day over the key's OWN
    [min_day, max_day] span with missing days as true zeros (the
    ``lag_autocorrelation`` grid discipline — an empty day is evidence).
    Statistics, all exact int64:

        S     = sum over day pairs i < j of sign(c_j - c_i)
        var18 = 18 * Var(S) = n(n-1)(2n+5) - sum_t t(t-1)(2t+5)
                (t = size of each tied-value group; integer before the
                conventional /18, so no float division ever happens)
        trend = +1 / -1 / 0 at 95% two-sided: with the continuity
                correction Z = (S - sign(S)) / sqrt(Var), Z^2 > 1.96^2
                becomes the integer test
                180000 * (|S| - 1)^2 > 38416 * var18
                (38416 = 1.96^2 * 10^4), evaluated in decimal(38,0):
                in int64 the left side overflows past 3,784 days for a
                strictly monotone series.

    Shape: the pairwise sum is a per-key self-join of the CALENDAR grid
    (span^2/2 rows per key, bounded by the calendar — 30 days = 435
    pairs — never by event volume), after one partial-agg daily rollup;
    tie groups are one more partial agg over the grid. Zero Python,
    zero row-level windows over the fact table.

    Output: (key, n_days, s_stat, var18, trend).
    """
    day = F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP)) "
                 "div 86400000000")
    daily = (events.select(F.col(key_col).alias("k"), day.alias("d"))
             .groupBy("k", "d")
             .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    span = daily.groupBy("k").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = (span.select(
        "k", (F.col("d1") - F.col("d0") + 1).alias("n"),
        F.explode(F.sequence("d0", "d1")).alias("d"))
        .join(daily, ["k", "d"], "left")
        .select("k", "n", "d",
                F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("c")))
    later = grid.select(F.col("k").alias("k2"), F.col("d").alias("d2"),
                        F.col("c").alias("c2"))
    sgn = (F.when(F.col("c2") > F.col("c"), 1)
           .when(F.col("c2") < F.col("c"), -1).otherwise(0))
    s = (grid.join(later, (F.col("k") == F.col("k2"))
                   & (F.col("d2") > F.col("d")))
         .groupBy("k")
         .agg(F.sum(sgn).cast("bigint").alias("s_stat")))
    ties = (grid.groupBy("k", "n", "c")
            .agg(F.count(F.lit(1)).cast("bigint").alias("t")))
    var = (ties.groupBy("k")
           .agg(F.max("n").alias("n_days"),
                (F.max("n") * (F.max("n") - 1) * (2 * F.max("n") + 5)
                 - F.sum(F.col("t") * (F.col("t") - 1)
                         * (2 * F.col("t") + 5))).alias("var18")))
    out = var.join(s, "k")
    abs_s = F.abs(F.col("s_stat"))
    sig = ((F.col("s_stat") != 0)
           & (F.lit(180000).cast("decimal(38,0)") * (abs_s - 1) * (abs_s - 1)
              > F.lit(38416).cast("decimal(38,0)") * F.col("var18")))
    trend = (F.when(sig & (F.col("s_stat") > 0), 1)
             .when(sig & (F.col("s_stat") < 0), -1)
             .otherwise(0).cast("bigint"))
    return out.select(F.col("k").alias(key_col),
                      F.col("n_days").cast("bigint").alias("n_days"),
                      "s_stat", F.col("var18").cast("bigint").alias("var18"),
                      trend.alias("trend"))


def pettitt_shift(events: DataFrame, key_col: str = "event_type",
                  ts_col: str = "ts") -> DataFrame:
    """Per-key Pettitt change-point test over DAILY activity (Pettitt
    1979) — the change-point companion of ``mann_kendall``: MK asks "is
    there a monotone trend", Pettitt asks "did the level SHIFT, and on
    which day" — rank-based, so a single outlier day cannot fake a
    shift the way it drags a mean-split test.

    Series = zero-filled daily counts on the key's own calendar span
    (the ``lag_autocorrelation`` grid). For each split day t,

        U_t = sum over i <= t < j of sign(c_i - c_j)

    computed via the exact recurrence U_t = U_{t-1} + V_t with
    V_t = sum over j != t of sign(c_t - c_j): one grid self-join per
    key (span^2 rows, bounded by the CALENDAR), one cumulative window
    over the span-sized relation. K = max |U_t| over t in [d0, d1);
    the change day is the smallest maximizing t (deterministic), both
    picked by ONE max(struct) partial agg — no row windows over the
    fact, no driver roundtrip. Significance at 95% is the approximate
    p = 2 exp(-6 K^2 / (n^3 + n^2)) < 0.05, decided in integers:

        6_000_000 * K^2 > 3_688_879 * (n^3 + n^2)
        (3_688_879 = ceil-free 10^6 * ln(2 / 0.05)), evaluated in
        decimal(38,0): in int64 the left side overflows past 2,226 days
        for a step at mid-span, where K = n^2 / 4.

    Output: (key, n_days, u_stat, k_stat, change_day, shifted) —
    u_stat signed (positive = level stepped DOWN after change_day,
    counts before exceed counts after), change_day = last day of the
    pre-change regime, shifted = 0/1.
    """
    day = F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP)) "
                 "div 86400000000")
    daily = (events.select(F.col(key_col).alias("k"), day.alias("d"))
             .groupBy("k", "d")
             .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    span = daily.groupBy("k").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = (span.select(
        "k", (F.col("d1") - F.col("d0") + 1).alias("n"), "d1",
        F.explode(F.sequence("d0", "d1")).alias("d"))
        .join(daily, ["k", "d"], "left")
        .select("k", "n", "d1", "d",
                F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("c")))
    other = grid.select(F.col("k").alias("k2"), F.col("d").alias("d2"),
                        F.col("c").alias("c2"))
    sgn = (F.when(F.col("c") > F.col("c2"), 1)
           .when(F.col("c") < F.col("c2"), -1).otherwise(0))
    v = (grid.join(other, (F.col("k") == F.col("k2"))
                   & (F.col("d") != F.col("d2")))
         .groupBy("k", "n", "d1", "d")
         .agg(F.sum(sgn).cast("bigint").alias("v")))
    wcum = (Window.partitionBy("k").orderBy("d")
            .rowsBetween(Window.unboundedPreceding, 0))
    u = (v.withColumn("u", F.sum("v").over(wcum))
         .where(F.col("d") < F.col("d1")))  # U_n == 0 is not a split
    best = (u.groupBy("k")
            .agg(F.max("n").alias("n_days"),
                 F.max(F.struct(F.abs(F.col("u")).alias("a"),
                                (-F.col("d")).alias("nd"),
                                F.col("u").alias("u"))).alias("m")))
    shifted = (F.lit(6_000_000).cast("decimal(38,0)")
               * F.col("m.a") * F.col("m.a")
               > F.lit(3_688_879).cast("decimal(38,0)")
               * (F.col("n_days") * F.col("n_days") * F.col("n_days")
                  + F.col("n_days") * F.col("n_days")))
    return best.select(
        F.col("k").alias(key_col),
        F.col("n_days").cast("bigint").alias("n_days"),
        F.col("m.u").cast("bigint").alias("u_stat"),
        F.col("m.a").cast("bigint").alias("k_stat"),
        (-F.col("m.nd")).cast("bigint").alias("change_day"),
        F.when(shifted, 1).otherwise(0).cast("bigint").alias("shifted"))


def spearman_group_corr(df: DataFrame, group_col: str, x_col: str,
                        y_col: str) -> DataFrame:
    """Per-group Spearman rank correlation between two integer columns —
    the robust monotone-association measure (does quality rise with
    document length? does fetch latency track page size?) that ignores
    outliers and nonlinearity where Pearson is dragged by both.

    Exactness: ranks are DOUBLED average ranks (2*avg keeps ties
    integer: for value v, r2 = 2*|{u < v}| + tie_count + 1), derived
    from the (group, value) COUNT relation — one partial agg per column
    + a cumulative window over the small distinct-value relation, then
    two equi-joins back to the fact (the ``value_quantiles``/
    ``trimmed_group_stats`` discipline: NO row-level window over the
    fact). All five moments (n, Sx, Sy, Sxy, Sxx, Syy) are associative
    integer sums; only the final ratio is a double in one fixed op
    order:

        r_milli = floor(num / sqrt(den1_d * den2_d) * 1000 + 0.5)
        num  = n*Sxy - Sx*Sy,  den1 = n*Sxx - Sx^2,  den2 likewise.

    i64 bound: the widest product is n * Sxx, and Sxx is largest
    without ties (sum of (2i)^2), so n * Sxx <= 2n^2 (n+1)(2n+1) / 3
    stays below 2^63 up to n = 51,284 rows per group. Larger groups emit
    NULL num, den1, den2 and r_milli; the products are never evaluated
    past the bound, and the moment sums (which overflow past 1,905,388
    rows) are try_sums. Per-key daily/monthly series are thousands of
    points, far inside the bound.

    Output: (group, n, num, den1, den2, r_milli); r_milli NULL when a
    side is constant (den = 0), all four NULL when the group exceeds
    the exact bound.
    """
    g = F.col(group_col)
    # r6: base feeds three branches (both rank derivations and the
    # ranked fact join) — persist so the source union scans once
    base = (df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
            .select(g.alias("g"), F.col(x_col).cast("bigint").alias("x"),
                    F.col(y_col).cast("bigint").alias("y"))
            .persist())

    def doubled(col: str, out: str) -> DataFrame:
        counts = (base.groupBy("g", col)
                  .agg(F.count(F.lit(1)).alias("c")))
        wc = (Window.partitionBy("g").orderBy(col)
              .rowsBetween(Window.unboundedPreceding, 0))
        return (counts.withColumn("cum", F.sum("c").over(wc))
                .select("g", col,
                        (2 * F.col("cum") - F.col("c") + 1).alias(out)))

    ranked = (base.join(doubled("x", "r2x"), ["g", "x"])
              .join(doubled("y", "r2y"), ["g", "y"]))
    m = ranked.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.try_sum("r2x").cast("bigint").alias("sx"),
        F.try_sum("r2y").cast("bigint").alias("sy"),
        F.try_sum(F.col("r2x") * F.col("r2y")).cast("bigint").alias("sxy"),
        F.try_sum(F.col("r2x") * F.col("r2x")).cast("bigint").alias("sxx"),
        F.try_sum(F.col("r2y") * F.col("r2y")).cast("bigint").alias("syy"))
    exact = F.col("n") <= 51_284
    num = F.when(exact, F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
    den1 = F.when(exact, F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    den2 = F.when(exact, F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    r = F.when((F.col("den1") > 0) & (F.col("den2") > 0),
               F.floor(F.col("num").cast("double")
                       / F.sqrt(F.col("den1").cast("double")
                                * F.col("den2").cast("double"))
                       * F.lit(1000.0) + F.lit(0.5)).cast("bigint"))
    return (m.withColumn("num", num.cast("bigint"))
            .withColumn("den1", den1.cast("bigint"))
            .withColumn("den2", den2.cast("bigint"))
            .select(F.col("g").alias(group_col), "n", "num", "den1",
                    "den2", r.alias("r_milli")))


def theil_sen_slope(events: DataFrame, key_col: str = "event_type",
                    ts_col: str = "ts") -> DataFrame:
    """Per-key Theil-Sen robust trend slope over DAILY activity (Theil
    1950, Sen 1968): the MEDIAN of all pairwise day-slopes — up to ~29%
    of the days can be corrupt (outages, bot storms) before the
    estimate moves, where the OLS ``trend_slope`` is dragged by a
    single spike. Completes the robust-trend trio: mann_kendall (is
    there a trend), pettitt_shift (where did the level break),
    theil_sen (how steep, robustly).

    Series = zero-filled daily counts on the key's own span (the
    shared calendar-grid discipline). Every pair i < j yields the
    RATIONAL slope (c_j - c_i) / (d_j - d_i); pairs are ordered by the
    computed-double quotient (one fixed op order — identical in both
    engines since the operands are exact int64) with (d_i, d_j) as the
    deterministic tiebreak, and the LOWER median (rank (m+1) div 2) is
    selected per key. The window ranks span^2/2 rows per key — bounded
    by the CALENDAR, never event volume. The median pair's exact
    integer numerator/denominator ship alongside the milli-quantized
    quotient.

    Output: (key, n_days, n_pairs, med_num, med_den, slope_milli).
    """
    day = F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP)) "
                 "div 86400000000")
    daily = (events.select(F.col(key_col).alias("k"), day.alias("d"))
             .groupBy("k", "d")
             .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    span = daily.groupBy("k").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = (span.select(
        "k", (F.col("d1") - F.col("d0") + 1).alias("n"),
        F.explode(F.sequence("d0", "d1")).alias("d"))
        .join(daily, ["k", "d"], "left")
        .select("k", "n", "d",
                F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("c")))
    later = grid.select(F.col("k").alias("k2"), F.col("d").alias("d2"),
                        F.col("c").alias("c2"))
    pairs = (grid.join(later, (F.col("k") == F.col("k2"))
                       & (F.col("d2") > F.col("d")))
             .select("k", "n", "d", "d2",
                     (F.col("c2") - F.col("c")).alias("num"),
                     (F.col("d2") - F.col("d")).alias("den")))
    slope = F.col("num").cast("double") / F.col("den").cast("double")
    w = Window.partitionBy("k").orderBy(slope.asc(), F.col("d").asc(),
                                        F.col("d2").asc())
    ranked = (pairs
              .withColumn("rn", F.row_number().over(w))
              .withColumn("m", F.count(F.lit(1))
                          .over(Window.partitionBy("k"))))
    med = ranked.where(F.col("rn") == F.expr("(m + 1) div 2"))
    s_milli = F.floor(F.col("num").cast("double")
                      / F.col("den").cast("double")
                      * F.lit(1000.0) + F.lit(0.5)).cast("bigint")
    return med.select(F.col("k").alias(key_col),
                      F.col("n").cast("bigint").alias("n_days"),
                      F.col("m").cast("bigint").alias("n_pairs"),
                      F.col("num").cast("bigint").alias("med_num"),
                      F.col("den").cast("bigint").alias("med_den"),
                      s_milli.alias("slope_milli"))


def pareto_front(df: DataFrame, group_col: str, x_col: str,
                 y_col: str) -> DataFrame:
    """Per-group 2-D skyline (Borzsonyi, Kossmann & Stocker, ICDE
    2001): the rows not DOMINATED in (x, y), both maximized — a point
    q dominates p when q.x >= p.x, q.y >= p.y and q is strictly better
    on at least one axis. The multi-objective shortlist operator:
    "documents no other document beats on BOTH quality and freshness",
    crawl candidates on (authority, staleness), ANN candidates on
    (similarity, diversity). Duplicate frontier points all survive
    (neither strictly beats the other).

    Scale shape — never the quadratic self-join (that is the ORACLE's
    formulation): within a group only the max-y rows of each distinct
    x can survive, so the frontier test runs on the (group, x) AGG
    relation: one partial-agg max(y) per (g, x), one running-max
    window ordered by x DESC over that small relation (a point's x
    group survives iff its max-y strictly exceeds every higher-x
    group's max-y), then one equi-join back to the fact. Minimize an
    axis by negating it.

    Output: the input rows on the frontier (all columns preserved).
    """
    g, x, y = F.col(group_col), F.col(x_col), F.col(y_col)
    mx = (df.where(x.isNotNull() & y.isNotNull())
          .groupBy(g.alias("__g"), x.alias("__x"))
          .agg(F.max(y).alias("__mx")))
    w = (Window.partitionBy("__g").orderBy(F.col("__x").desc())
         .rowsBetween(Window.unboundedPreceding, -1))
    keep = (mx.withColumn("__pre", F.max("__mx").over(w))
            .where(F.col("__pre").isNull()
                   | (F.col("__mx") > F.col("__pre"))))
    return (df.join(keep,
                    (g == F.col("__g")) & (x == F.col("__x"))
                    & (y == F.col("__mx")))
            .drop("__g", "__x", "__mx", "__pre"))


def mutual_information(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Mutual information between two categorical columns in integer
    micro-nats — the feature-selection score (how much does SOURCE tell
    you about LANGUAGE? does the crawl tier predict quality bucket?)
    that, unlike ``chi2_flags``' per-cell test, summarizes the WHOLE
    association in one number comparable across feature candidates.

    Exactness discipline (the ``token_entropy`` rule): each cell's
    contribution  c * ln(c * N / (r * s))  is computed as ONE
    fixed-op-order double and floor-quantized to micro-nats BEFORE the
    sum, so the aggregate is an associative integer (merge-order free)
    and both engines agree bit-for-bit; mi_micro_nats = sum DIV N at
    the end. Zero cells contribute zero (lim x->0 x ln x = 0).

    Shape: one contingency partial agg over the fact, margins via two
    partial aggs over the CELL relation, two broadcast-sized joins
    back — never a second fact scan.

    Output (one row): (n, n_cells, mi_sum_micro, mi_micro_nats).
    """
    cells = (df.where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
             .groupBy(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    ra = cells.groupBy("a").agg(F.sum("c").cast("bigint").alias("r"))
    cb = cells.groupBy("b").agg(F.sum("c").cast("bigint").alias("s"))
    nn = cells.agg(F.sum("c").cast("bigint").alias("n"))
    j = (cells.join(ra, "a").join(cb, "b")
         .crossJoin(F.broadcast(nn)))
    term = F.floor(
        F.col("c").cast("double")
        * F.log(F.col("c").cast("double") * F.col("n").cast("double")
                / (F.col("r").cast("double") * F.col("s").cast("double")))
        * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    agg = j.agg(F.max("n").alias("n"),
                F.count(F.lit(1)).cast("bigint").alias("n_cells"),
                F.sum(term).cast("bigint").alias("mi_sum_micro"))
    return agg.select(
        F.col("n").cast("bigint").alias("n"), "n_cells", "mi_sum_micro",
        F.expr("mi_sum_micro div n").cast("bigint")
        .alias("mi_micro_nats"))


import math as _math

# Poisson(1) CDF thresholds on the 60-bit hash domain: weight w is the
# smallest k with hash < floor(P(X <= k) * 2^60).  Shared constants
# with the gate oracle (config parity, like the PSL suffix snapshot).
POISSON1_T60 = [
    int(_math.floor(sum(_math.exp(-1) / _math.factorial(i)
                        for i in range(k + 1)) * (1 << 60)))
    for k in range(5)
]


def bootstrap_mean_ci(df: DataFrame, value_col: str,
                      id_col: str = "doc_id",
                      n_resamples: int = 40,
                      lo_ppm: int = 25_000,
                      hi_ppm: int = 975_000) -> DataFrame:
    """Poisson-bootstrap confidence interval for a mean — THE
    distributed bootstrap (Chamandy et al., Google 2012): classic
    resampling needs n draws per replicate (a shuffle per replicate);
    the Poisson trick gives every row an independent Poisson(1)
    multiplicity per replicate, so ALL B replicates compute in ONE
    map-side explode + one partial agg. Here the multiplicities are
    DETERMINISTIC (md5-derived uniform against the Poisson CDF
    thresholds), so the interval is reproducible and engine-exact.

    Replicate means are milli-quantized integers (1000 * sum(w*x) div
    sum(w)); the CI bounds are type-1 quantiles of the B means (rank
    ceil(q*B) — ties/order deterministic). B is a constant, so the
    final window runs over B rows.

    Output (one row): (n, mean_milli, n_resamples, lo_milli, hi_milli).
    """
    if n_resamples < 2:
        raise ValueError(f"need n_resamples >= 2, got {n_resamples}")
    base = (df.where(F.col(value_col).isNotNull())
            .select(F.col(id_col).alias("id"),
                    F.col(value_col).cast("bigint").alias("x")))
    b = F.explode(F.sequence(F.lit(0), F.lit(int(n_resamples) - 1)))
    h = F.conv(F.substring(
        F.md5(F.concat(F.col("id").cast("string"), F.lit(":bs"),
                       F.col("b").cast("string"))), 1, 15),
        16, 10).cast("bigint")
    w = F.when(F.col("h") < POISSON1_T60[0], 0)
    for k in range(1, 5):
        w = w.when(F.col("h") < POISSON1_T60[k], k)
    w = w.otherwise(5)
    rep = (base.select("id", "x", b.alias("b"))
           .withColumn("h", h)
           .withColumn("w", w.cast("bigint"))
           .groupBy("b")
           .agg(F.sum(F.col("w") * F.col("x")).cast("bigint").alias("sw"),
                F.sum("w").cast("bigint").alias("nw")))
    means = rep.where(F.col("nw") > 0).select(
        "b", F.expr("1000 * sw div nw").cast("bigint").alias("m"))
    wr = Window.orderBy("m", "b")
    ranked = (means.withColumn("rn", F.row_number().over(wr))
              .withColumn("nb", F.count(F.lit(1)).over(
                  Window.partitionBy())))
    lo_rank = F.greatest(F.lit(1), F.ceil(
        F.col("nb") * F.lit(int(lo_ppm)) / F.lit(1_000_000)))
    hi_rank = F.greatest(F.lit(1), F.ceil(
        F.col("nb") * F.lit(int(hi_ppm)) / F.lit(1_000_000)))
    bounds = ranked.agg(
        F.max(F.when(F.col("rn") == lo_rank, F.col("m"))).alias("lo"),
        F.max(F.when(F.col("rn") == hi_rank, F.col("m"))).alias("hi"),
        F.max("nb").alias("n_resamples"))
    full = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("1000 * sum(x) div count(1)").cast("bigint")
        .alias("mean_milli"))
    return (full.crossJoin(F.broadcast(bounds))
            .select("n", "mean_milli",
                    F.col("n_resamples").cast("bigint")
                    .alias("n_resamples"),
                    F.col("lo").cast("bigint").alias("lo_milli"),
                    F.col("hi").cast("bigint").alias("hi_milli")))


def gini_best_split(df: DataFrame, feature_col: str,
                    label_col: str) -> DataFrame:
    """Decision-stump learner: the exact best threshold of one integer
    feature for a binary label by weighted Gini impurity — the split
    finder inside every tree ensemble, and on its own the quickest
    "is this quality signal predictive?" probe (fastText-style quality
    classifiers are stacks of these).

    Scale shape (the ``value_quantiles`` discipline): ONE partial agg
    to the (feature value, n, positives) relation, cumulative windows
    over that SMALL relation to get left/right class counts per
    candidate split (split after each distinct value except the last),
    then an argmin fold. The impurity ordering is decided on the
    computed double (exact int64 operands, one fixed op order — the
    theil_sen rule) with the smaller threshold as tiebreak; the exact
    integer counts at the winning split ship alongside.

    Output (one row per call): (n, n_pos, thr, n_left, pos_left,
    n_right, pos_right, gini_milli) — thr = split is
    ``feature <= thr``; gini_milli = weighted impurity of the split,
    milli-quantized. Empty/degenerate inputs (one distinct value)
    return zero rows.
    """
    vals = (df.where(F.col(feature_col).isNotNull()
                     & F.col(label_col).isNotNull())
            .groupBy(F.col(feature_col).cast("bigint").alias("v"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"),
                 F.sum(F.col(label_col).cast("bigint")).cast("bigint")
                 .alias("a")))
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = (vals
           .withColumn("nl", F.sum("c").over(wc))
           .withColumn("al", F.sum("a").over(wc))
           .withColumn("n", F.sum("c").over(wall))
           .withColumn("ap", F.sum("a").over(wall))
           .where(F.col("nl") < F.col("n")))  # last value: no split
    nl, al = F.col("nl").cast("double"), F.col("al").cast("double")
    nr = (F.col("n") - F.col("nl")).cast("double")
    ar = (F.col("ap") - F.col("al")).cast("double")
    bl, br = nl - al, nr - ar
    g = ((nl - (al * al + bl * bl) / nl)
         + (nr - (ar * ar + br * br) / nr)) / F.col("n").cast("double")
    scored = cum.withColumn("g", g)
    best = scored.agg(F.min(F.struct(
        F.col("g"), F.col("v"), F.col("n"), F.col("ap"),
        F.col("nl").alias("n_left"), F.col("al").alias("pos_left")))
        .alias("m"))
    return best.where(F.col("m").isNotNull()).select(
        F.col("m.n").cast("bigint").alias("n"),
        F.col("m.ap").cast("bigint").alias("n_pos"),
        F.col("m.v").cast("bigint").alias("thr"),
        F.col("m.n_left").cast("bigint").alias("n_left"),
        F.col("m.pos_left").cast("bigint").alias("pos_left"),
        (F.col("m.n") - F.col("m.n_left")).cast("bigint")
        .alias("n_right"),
        (F.col("m.ap") - F.col("m.pos_left")).cast("bigint")
        .alias("pos_right"),
        F.floor(F.col("m.g") * F.lit(1000.0) + F.lit(0.5))
        .cast("bigint").alias("gini_milli"))


def cohens_kappa(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Cohen's kappa inter-annotator agreement — the labeling-QA number
    every supervised-data pipeline reports (raw percent agreement
    overstates quality when one class dominates; kappa subtracts the
    chance-agreement floor).

    All moments exact int64 (one contingency partial agg; expected
    agreement numerator sum(r_k * c_k) over the small margin
    relation); kappa = (n*agree - pe) / (n*n - pe) computed as ONE
    fixed-op-order double, milli-quantized. NULL when pe = n*n (a
    constant rater — kappa undefined).

    Output (one row): (n, n_agree, pe_num, kappa_milli).
    """
    cells = (df.where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
             .groupBy(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    ra = cells.groupBy("a").agg(F.sum("c").cast("bigint").alias("r"))
    cb = cells.groupBy("b").agg(F.sum("c").cast("bigint").alias("s"))
    pe = (ra.join(cb, ra["a"] == cb["b"])
          .agg(F.coalesce(F.sum(F.col("r") * F.col("s")), F.lit(0))
               .cast("bigint").alias("pe_num")))
    base = cells.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), F.col("c"))
              .otherwise(F.lit(0))).cast("bigint").alias("n_agree"))
    j = base.crossJoin(F.broadcast(pe))
    kappa = F.when(
        F.col("n") * F.col("n") != F.col("pe_num"),
        F.floor((F.col("n") * F.col("n_agree")
                 - F.col("pe_num")).cast("double")
                / (F.col("n") * F.col("n")
                   - F.col("pe_num")).cast("double")
                * F.lit(1000.0) + F.lit(0.5)).cast("bigint"))
    return j.select("n", "n_agree", "pe_num",
                    kappa.alias("kappa_milli"))


def calibration_bins(df: DataFrame, score_col: str, label_col: str,
                     n_bins: int = 10) -> DataFrame:
    """Reliability-diagram bins for a probabilistic classifier: bucket
    milli-scaled scores (0..1000) into ``n_bins`` equal bins; per bin
    the count, positives, mean confidence and observed rate — the
    relation a calibration report (and the ECE sum) reads. A quality
    classifier whose 0.9-bucket is right 60% of the time needs
    recalibration before its threshold means anything.

    All integer: conf_milli = sum(score) div n (scores already milli),
    rate_milli = 1000 * pos div n. One partial agg; ECE derives from
    the bin relation as sum(n_b * |rate-conf|) div N (pytest).

    Output: (bin, n, n_pos, conf_milli, rate_milli).
    """
    if n_bins < 2:
        raise ValueError(f"need n_bins >= 2, got {n_bins}")
    sc = F.col(score_col).cast("bigint")
    bin_id = F.least(F.expr(f"CAST({score_col} AS BIGINT) "
                            f"* {int(n_bins)} div 1000"),
                     F.lit(int(n_bins) - 1))
    return (df.where(sc.isNotNull() & F.col(label_col).isNotNull()
                     & (sc >= 0) & (sc <= 1000))
            .groupBy(bin_id.cast("bigint").alias("bin"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.sum(F.col(label_col).cast("bigint")).cast("bigint")
                 .alias("n_pos"),
                 F.expr(f"sum(CAST({score_col} AS BIGINT)) div count(1)")
                 .cast("bigint").alias("conf_milli"))
            .withColumn("rate_milli",
                        F.expr("1000 * n_pos div n").cast("bigint")))


def auc_roc(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """Exact ROC AUC from (score, label) — THE threshold-free
    classifier metric, computed by the rank formulation
    AUC = (R_pos - P(P+1)/2) / (P*N) with AVERAGE ranks for tied
    scores (the Mann-Whitney U identity: ties count half).

    Scale shape (the ``spearman_group_corr`` doubled-rank discipline):
    ONE partial agg to the (score, n, positives) relation, a cumulative
    window over that SMALL relation for doubled average ranks
    r2 = 2*cum - c + 1, and one aggregate:

        num = sum(pos_v * r2_v) - P*(P+1)   (exact int64)
        den = 2 * P * N
        auc_micro = floor(num / den * 1e6 + 0.5)  (one fixed-op-order
        double — keeps 10^9-row inputs exact where a 1e6*num integer
        product would overflow)

    Output (one row): (n, n_pos, num, den, auc_micro); NULL auc when a
    class is absent (den = 0).
    """
    vals = (df.where(F.col(score_col).isNotNull()
                     & F.col(label_col).isNotNull())
            .groupBy(F.col(score_col).cast("bigint").alias("v"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"),
                 F.sum(F.col(label_col).cast("bigint")).cast("bigint")
                 .alias("a")))
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    r2 = 2 * F.sum("c").over(wc) - F.col("c") + 1
    agg = (vals.withColumn("r2", r2)
           .agg(F.sum("c").cast("bigint").alias("n"),
                F.sum("a").cast("bigint").alias("p"),
                F.sum(F.col("a") * F.col("r2")).cast("bigint")
                .alias("rp")))
    num = F.col("rp") - F.col("p") * (F.col("p") + 1)
    den = 2 * F.col("p") * (F.col("n") - F.col("p"))
    out = (agg.withColumn("num", num.cast("bigint"))
           .withColumn("den", den.cast("bigint")))
    auc = F.when(F.col("den") > 0,
                 F.floor(F.col("num").cast("double")
                         / F.col("den").cast("double")
                         * F.lit(1e6) + F.lit(0.5)).cast("bigint"))
    return out.select(F.col("n"), F.col("p").alias("n_pos"),
                      "num", "den", auc.alias("auc_micro"))


def simpson_diversity(df: DataFrame, group_col: str,
                      cat_col: str) -> DataFrame:
    """Simpson diversity index per group, exactly: the probability two
    random members of the group share a category is
    sum n_i(n_i - 1) / (N(N - 1)) — a pure integer rational, unlike
    Shannon entropy's logs — so the diversity 1 - lambda ships as an
    exact ppm. Per-tile SOURCE diversity is the geo×web monoculture
    detector: a tile whose pages all come from one SEO farm scores 0.

    Two partial aggs ((group, cat) then group), nothing else.

    Output: (group, n, n_cats, concentration_ppm, diversity_ppm) —
    NULL ppms for singleton groups (undefined).
    """
    cells = (df.where(F.col(cat_col).isNotNull())
             .groupBy(F.col(group_col).alias("g"),
                      F.col(cat_col).alias("cat"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    agg = (cells.groupBy("g")
           .agg(F.sum("c").cast("bigint").alias("n"),
                F.count(F.lit(1)).cast("bigint").alias("n_cats"),
                F.sum(F.col("c") * (F.col("c") - 1)).cast("bigint")
                .alias("num")))
    conc = F.when(F.col("n") > 1,
                  F.expr("1000000 * num div (n * (n - 1))"))
    return (agg.withColumn("concentration_ppm", conc.cast("bigint"))
            .select(F.col("g").alias(group_col), "n", "n_cats",
                    "concentration_ppm",
                    (F.lit(1_000_000) - F.col("concentration_ppm"))
                    .cast("bigint").alias("diversity_ppm")))


def mad_outlier_flags(df: DataFrame, group_col: str, value_col: str,
                      key_col: str, k_milli: int = 3000) -> DataFrame:
    """Robust outlier flags by median absolute deviation — the
    breakdown-resistant alternative to z-scores (one wild value drags
    a mean AND its variance, masking itself; the median and MAD barely
    move). Rule: |x - median| > (k_milli/1000) * MAD, decided by the
    integer cross-multiplication 1000*|x - med| > k_milli * MAD — no
    float anywhere; both medians are exact type-1 over the (group,
    value) COUNT relations (the ``group_value_quantiles`` machinery,
    twice: values, then absolute deviations).

    Degenerate MAD = 0 (more than half the group at the median):
    every x != median flags — the standard convention, documented.

    Output: (key, group, value, med, mad, outlier).
    """
    # r6: base feeds the median derivation AND the fact join; dev feeds
    # the MAD derivation AND the output join — persist both so each
    # subtree runs once per query instead of per branch
    base = (df.where(F.col(value_col).isNotNull())
            .select(F.col(key_col).alias("k"),
                    F.col(group_col).alias("g"),
                    F.col(value_col).cast("bigint").alias("x"))
            .persist())
    med = (group_value_quantiles(base, "g", "x", [500_000])
           .select(F.col("g"), F.col("value").alias("med")))
    with_med = base.join(med, "g")
    dev = (with_med.withColumn("ad", F.abs(F.col("x") - F.col("med")))
           .persist())
    mad = (group_value_quantiles(dev, "g", "ad", [500_000])
           .select(F.col("g"), F.col("value").alias("mad")))
    out = dev.join(mad, "g")
    flag = (1000 * F.col("ad") > F.lit(int(k_milli)) * F.col("mad"))
    return out.select(F.col("k").alias(key_col),
                      F.col("g").alias(group_col),
                      F.col("x").alias(value_col), "med", "mad",
                      flag.cast("int").alias("outlier"))


def impute_group_median(df: DataFrame, group_col: str,
                        value_col: str) -> DataFrame:
    """Median imputation per group — the standard tabular-ML prep step
    for missing numerics, with the exact type-1 group median (the
    ``group_value_quantiles`` machinery; never an approx percentile,
    so the imputed table is reproducible bit-for-bit). Groups that are
    ALL null have no median and stay null (imputed = 0 — the honest
    outcome; a global-fallback variant is one more coalesce).

    Output: all input columns with ``value_col`` filled, plus
    ``imputed`` (1 = was null and a group median existed).
    """
    med = (group_value_quantiles(
        df.where(F.col(value_col).isNotNull())
        .select(F.col(group_col).alias("g"),
                F.col(value_col).cast("bigint").alias("v")),
        "g", "v", [500_000])
        .select(F.col("g"), F.col("value").alias("__med")))
    joined = df.join(med, df[group_col] == med["g"], "left").drop("g")
    was_null = F.col(value_col).isNull()
    filled = F.coalesce(F.col(value_col).cast("bigint"),
                        F.col("__med"))
    return (joined
            .withColumn("imputed",
                        (was_null & F.col("__med").isNotNull())
                        .cast("int"))
            .withColumn(value_col, filled)
            .drop("__med"))


def classification_report(df: DataFrame, true_col: str,
                          pred_col: str) -> DataFrame:
    """Per-class precision / recall / F1 (the sklearn
    classification_report as a relation) — the multiclass companion of
    ``pair_eval``: per label, tp is the diagonal cell, fp the rest of
    the predicted column, fn the rest of the true row; all ppm values
    integer (f1 = 2PR div (P+R)). One contingency partial agg + two
    margin aggs over the CELL relation + one join — never a second
    fact scan; labels = union of observed true and predicted values.

    Output: (label, n_true, n_pred, tp, precision_ppm, recall_ppm,
    f1_ppm) — ratios NULL when their denominator is 0.
    """
    cells = (df.where(F.col(true_col).isNotNull()
                      & F.col(pred_col).isNotNull())
             .groupBy(F.col(true_col).alias("t"),
                      F.col(pred_col).alias("p"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    rows = cells.groupBy(F.col("t").alias("label")).agg(
        F.sum("c").cast("bigint").alias("n_true"))
    cols = cells.groupBy(F.col("p").alias("label")).agg(
        F.sum("c").cast("bigint").alias("n_pred"))
    diag = (cells.where(F.col("t") == F.col("p"))
            .select(F.col("t").alias("label"),
                    F.col("c").alias("tp")))
    out = (rows.join(cols, "label", "full_outer")
           .join(diag, "label", "left")
           .select("label",
                   F.coalesce(F.col("n_true"), F.lit(0)).cast("bigint")
                   .alias("n_true"),
                   F.coalesce(F.col("n_pred"), F.lit(0)).cast("bigint")
                   .alias("n_pred"),
                   F.coalesce(F.col("tp"), F.lit(0)).cast("bigint")
                   .alias("tp")))
    p = F.when(F.col("n_pred") > 0, F.expr("1000000 * tp div n_pred"))
    r = F.when(F.col("n_true") > 0, F.expr("1000000 * tp div n_true"))
    out = (out.withColumn("precision_ppm", p.cast("bigint"))
           .withColumn("recall_ppm", r.cast("bigint")))
    f1 = F.when(F.col("precision_ppm").isNotNull()
                & F.col("recall_ppm").isNotNull()
                & (F.col("precision_ppm") + F.col("recall_ppm") > 0),
                F.expr("2 * precision_ppm * recall_ppm "
                       "div (precision_ppm + recall_ppm)"))
    return out.withColumn("f1_ppm", f1.cast("bigint"))


def emd_1d(df: DataFrame, side_col: str, value_col: str) -> DataFrame:
    """Exact 1-D earth-mover (Wasserstein-1) distance between two
    labeled samples — the distribution-drift monitor a training
    pipeline runs between corpus snapshots (did the length/quality
    distribution move, and by how much in VALUE units — where a KS
    flag only says "something moved").

    Identity: EMD = integral |F_a - F_b| dv = sum over the merged
    value grid of |cumA * nB - cumB * nA| * gap / (nA * nB) — computed
    with the numerator entirely int64 (one partial agg to per-value
    side counts, one cumulative window over the small distinct-value
    relation, ``gap`` from a lead window) and ONE final fixed-op-order
    double for the milli quantization.

    Output (one row): (n_a, n_b, emd_num, emd_milli) — emd in value
    units, milli-scaled. Sides named 'a' and 'b' in ``side_col``.
    """
    base = (df.where(F.col(value_col).isNotNull())
            .groupBy(F.col(value_col).cast("bigint").alias("v"))
            .agg(F.sum(F.when(F.col(side_col) == "a", 1).otherwise(0))
                 .cast("bigint").alias("ca"),
                 F.sum(F.when(F.col(side_col) == "b", 1).otherwise(0))
                 .cast("bigint").alias("cb")))
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wl = Window.orderBy("v")
    wall = Window.partitionBy()
    cum = (base
           .withColumn("cuma", F.sum("ca").over(wc))
           .withColumn("cumb", F.sum("cb").over(wc))
           .withColumn("na", F.sum("ca").over(wall))
           .withColumn("nb", F.sum("cb").over(wall))
           .withColumn("gap", F.coalesce(F.lead("v").over(wl)
                                         - F.col("v"), F.lit(0))))
    term = (F.abs(F.col("cuma") * F.col("nb")
                  - F.col("cumb") * F.col("na")) * F.col("gap"))
    agg = cum.agg(F.max("na").alias("n_a"), F.max("nb").alias("n_b"),
                  F.sum(term).cast("bigint").alias("emd_num"))
    milli = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0),
        F.floor(F.col("emd_num").cast("double")
                / (F.col("n_a").cast("double")
                   * F.col("n_b").cast("double"))
                * F.lit(1000.0) + F.lit(0.5)).cast("bigint"))
    return agg.select(F.col("n_a").cast("bigint").alias("n_a"),
                      F.col("n_b").cast("bigint").alias("n_b"),
                      "emd_num", milli.alias("emd_milli"))


def sprt_monitor(events: DataFrame, key_col: str, ts_col: str,
                 pos_col: str, llr_pos_micro: int, llr_neg_micro: int,
                 boundary_micro: int) -> DataFrame:
    """Sequential probability-ratio test monitor (Wald 1945) — the
    always-valid A/B decision rule an experimentation platform runs
    daily: each observation adds a constant log-likelihood-ratio
    increment (quantized micro-nats, supplied by the caller from its
    H0/H1 rates), and the experiment DECIDES the first day the
    cumulative LLR leaves (-boundary, +boundary). Fixed-horizon tests
    peeked at daily are invalid; SPRT's boundaries are exactly the
    peek-proof correction.

    All integer: per-day (positives, negatives) partial agg, cumulative
    sum over each key's day relation, first crossing picked by ONE
    min(struct) fold (earliest day, deterministic).

    Output: (key, n_days, llr_final_micro, decision, decided_day) —
    decision +1 (H1) / -1 (H0) / 0 (still running, decided_day NULL).
    """
    day = F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP)) "
                 "div 86400000000")
    daily = (events
             .select(F.col(key_col).alias("k"), day.alias("d"),
                     F.col(pos_col).cast("int").alias("y"))
             .groupBy("k", "d")
             .agg(F.sum("y").cast("bigint").alias("pos"),
                  (F.count(F.lit(1)) - F.sum("y")).cast("bigint")
                  .alias("neg")))
    wc = (Window.partitionBy("k").orderBy("d")
          .rowsBetween(Window.unboundedPreceding, 0))
    cum = daily.withColumn(
        "llr", F.sum(F.col("pos") * F.lit(int(llr_pos_micro))
                     + F.col("neg") * F.lit(int(llr_neg_micro)))
        .over(wc))
    b = F.lit(int(boundary_micro))
    crossed = cum.withColumn(
        "hit", F.when(F.col("llr") >= b, 1)
        .when(F.col("llr") <= -b, -1).otherwise(0))
    agg = (crossed.groupBy("k")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_days"),
                F.max(F.struct(F.col("d").alias("dd"),
                               F.col("llr").alias("lf"))).alias("last"),
                F.min(F.when(F.col("hit") != 0,
                             F.struct(F.col("d").alias("dd"),
                                      F.col("hit").alias("h"))))
                .alias("first_hit")))
    return agg.select(
        F.col("k").alias(key_col), "n_days",
        F.col("last.lf").cast("bigint").alias("llr_final_micro"),
        F.coalesce(F.col("first_hit.h"), F.lit(0)).cast("bigint")
        .alias("decision"),
        F.col("first_hit.dd").cast("bigint").alias("decided_day"))


def loglog_ols_fit(hist: DataFrame, x_col: str = "x",
                   cnt_col: str = "cnt") -> DataFrame:
    """Power-law exponent estimate by log-log OLS over a histogram
    relation — the quick-look alpha for degree distributions and
    near-dup cluster sizes (a training corpus whose duplicate-cluster
    tail flattens is being gamed). ln values quantize to micro (the
    token_entropy rule) BEFORE the five integer moments, so the fit is
    merge-order free; slope/intercept are the two fixed-op-order
    doubles at the end. Read alpha = -slope for p(x) ~ x^alpha tails.

    Output (one row): (n_points, slope_milli, intercept_milli); NULL
    when fewer than two distinct x (no line).
    """
    pts = (hist.where((F.col(x_col) > 0) & (F.col(cnt_col) > 0))
           .select(
               F.floor(F.log(F.col(x_col).cast("double")) * F.lit(1e6)
                       + F.lit(0.5)).cast("bigint").alias("lx"),
               F.floor(F.log(F.col(cnt_col).cast("double")) * F.lit(1e6)
                       + F.lit(0.5)).cast("bigint").alias("ly")))
    m = pts.agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("lx").cast("bigint").alias("sx"),
                F.sum("ly").cast("bigint").alias("sy"),
                F.sum(F.col("lx") * F.col("ly")).cast("bigint")
                .alias("sxy"),
                F.sum(F.col("lx") * F.col("lx")).cast("bigint")
                .alias("sxx"))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(den > 0, num.cast("double") / den.cast("double"))
    slope_milli = F.floor(slope * F.lit(1000.0) + F.lit(0.5))
    icept = F.when(
        den > 0,
        F.floor((F.col("sy").cast("double")
                 - slope * F.col("sx").cast("double"))
                / F.col("n").cast("double") / F.lit(1e6)
                * F.lit(1000.0) + F.lit(0.5)))
    return m.select(F.col("n").alias("n_points"),
                    slope_milli.cast("bigint").alias("slope_milli"),
                    icept.cast("bigint").alias("intercept_milli"))


def hurst_variance_scaling(events: DataFrame, key_col: str = "event_type",
                           ts_col: str = "ts",
                           scales: tuple = (1, 2, 4, 8)) -> DataFrame:
    """Hurst exponent per key by the aggregated-variance method: for a
    self-similar series, Var of m-day bucket sums scales as
    m^(2H - 1)... precisely, Var(X^(m)) ~ m^(2H-2) for the MEAN-
    aggregated series; for SUM-aggregated buckets Var ~ m^(2H), so
    H = slope/2 from the log-log fit of bucket-sum variance vs m.
    H > 0.5 = long-range-dependent traffic (bursts cluster — the
    Leland et al. self-similar-traffic result), H ≈ 0.5 = memoryless.

    Series = the shared zero-filled daily grid; per scale m the bucket
    sums are one partial agg, the population variance the exact
    rational (B·Σx² − S²)/B²; each (key, m) point's ln(var) quantizes
    to micro BEFORE the per-key OLS moments (all integer, merge-order
    free; zero-variance points drop). Bounded fan-out: |scales| rows
    per day.

    Output: (key, n_scales, slope_milli, h_milli).
    """
    day = F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP)) "
                 "div 86400000000")
    daily = (events.select(F.col(key_col).alias("k"), day.alias("d"))
             .groupBy("k", "d")
             .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    span = daily.groupBy("k").agg(F.min("d").alias("d0"),
                                  F.max("d").alias("d1"))
    grid = (span.select("k", "d0",
                        F.explode(F.sequence("d0", "d1")).alias("d"))
            .join(daily, ["k", "d"], "left")
            .select("k", "d0", "d",
                    F.coalesce(F.col("c"), F.lit(0)).cast("bigint")
                    .alias("c")))
    sc = F.explode(F.array(*[F.lit(int(m)) for m in scales])).alias("m")
    bucketed = (grid.select("k", "c", sc,
                            ((F.col("d") - F.col("d0"))).alias("off"))
                .select("k", "m", "c",
                        F.expr("off div m").alias("b"))
                .groupBy("k", "m", "b")
                .agg(F.sum("c").cast("bigint").alias("x")))
    v = (bucketed.groupBy("k", "m")
         .agg(F.count(F.lit(1)).cast("bigint").alias("nb"),
              F.sum("x").cast("bigint").alias("s"),
              F.sum(F.col("x") * F.col("x")).cast("bigint").alias("ss")))
    var_d = ((F.col("nb") * F.col("ss") - F.col("s") * F.col("s"))
             .cast("double")
             / (F.col("nb") * F.col("nb")).cast("double"))
    pts = (v.where(F.col("nb") * F.col("ss") - F.col("s") * F.col("s")
                   > 0)
           .select("k",
                   F.floor(F.log(F.col("m").cast("double")) * F.lit(1e6)
                           + F.lit(0.5)).cast("bigint").alias("lx"),
                   F.floor(F.log(var_d) * F.lit(1e6) + F.lit(0.5))
                   .cast("bigint").alias("ly")))
    m = pts.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("lx").cast("bigint").alias("sx"),
        F.sum("ly").cast("bigint").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).cast("bigint").alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).cast("bigint").alias("sxx"))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(den > 0, num.cast("double") / den.cast("double"))
    return m.select(
        F.col("k").alias(key_col), F.col("n").alias("n_scales"),
        F.floor(slope * F.lit(1000.0) + F.lit(0.5)).cast("bigint")
        .alias("slope_milli"),
        F.floor(slope * F.lit(500.0) + F.lit(0.5)).cast("bigint")
        .alias("h_milli"))


def ks_test(df: DataFrame, side_col: str, value_col: str,
            c_milli: int = 1358) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test — the significance companion
    of ``emd_1d`` (EMD says how far the distributions moved; KS says
    whether the move is statistically real): D = max |F_a - F_b|, with
    the supremum taken over the merged value grid and the numerator
    D_num = max |cumA*nB - cumB*nA| kept exact int64. Reject at level
    alpha when D > c(alpha) * sqrt((na+nb)/(na*nb)) — c defaults to
    1.358 (alpha = 0.05) — decided as one fixed-op-order double
    comparison, mirrored in the oracle.

    Output (one row): (n_a, n_b, d_num, d_milli, reject).
    """
    base = (df.where(F.col(value_col).isNotNull())
            .groupBy(F.col(value_col).cast("bigint").alias("v"))
            .agg(F.sum(F.when(F.col(side_col) == "a", 1).otherwise(0))
                 .cast("bigint").alias("ca"),
                 F.sum(F.when(F.col(side_col) == "b", 1).otherwise(0))
                 .cast("bigint").alias("cb")))
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = (base
           .withColumn("cuma", F.sum("ca").over(wc))
           .withColumn("cumb", F.sum("cb").over(wc))
           .withColumn("na", F.sum("ca").over(wall))
           .withColumn("nb", F.sum("cb").over(wall)))
    agg = cum.agg(
        F.max("na").alias("n_a"), F.max("nb").alias("n_b"),
        F.max(F.abs(F.col("cuma") * F.col("nb")
                    - F.col("cumb") * F.col("na"))).cast("bigint")
        .alias("d_num"))
    d = (F.col("d_num").cast("double")
         / (F.col("n_a").cast("double") * F.col("n_b").cast("double")))
    thr = (F.lit(float(c_milli)) / F.lit(1000.0)
           * F.sqrt((F.col("n_a") + F.col("n_b")).cast("double")
                    / (F.col("n_a").cast("double")
                       * F.col("n_b").cast("double"))))
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return agg.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"), "d_num",
        F.when(ok, F.floor(d * F.lit(1000.0) + F.lit(0.5)))
        .cast("bigint").alias("d_milli"),
        F.when(ok, (d > thr).cast("int")).cast("int").alias("reject"))


def weighted_group_quantiles(df: DataFrame, group_col: str, col: str,
                             weight_col: str,
                             qs_ppm: list[int]) -> DataFrame:
    """Per-group exact type-1 WEIGHTED quantiles — the
    ``group_value_quantiles`` machinery with integer row weights
    (token counts, byte sizes): the q-quantile is the smallest value
    whose cumulative WEIGHT reaches ceil(q * W / 1e6). Token-weighted
    length percentiles answer "the median TOKEN sits in how long a
    document?" — a different (and for training mixes, the right)
    question from the median document.

    Output: (group, q_ppm, value).
    """
    if not qs_ppm:
        raise ValueError("qs_ppm must be non-empty")
    if not all(0 < q <= 1_000_000 for q in qs_ppm):
        raise ValueError(f"qs_ppm must be in (0, 1e6], got {qs_ppm}")
    counts = (df.where(F.col(weight_col).cast("bigint") > 0)
              .groupBy(F.col(group_col).alias("g"),
                       F.col(col).alias("v"))
              .agg(F.sum(F.col(weight_col).cast("bigint"))
                   .cast("bigint").alias("w")))
    wcum = (Window.partitionBy("g").orderBy("v")
            .rowsBetween(Window.unboundedPreceding, 0))
    wall = Window.partitionBy("g")
    cum = (counts.withColumn("cum", F.sum("w").over(wcum))
           .withColumn("tw", F.sum("w").over(wall)))
    qdf = local_relation(df.sparkSession,
                         [(int(q),) for q in sorted(set(qs_ppm))],
                         "q_ppm long")
    tgt = _target_rank("tw")
    return (cum.crossJoin(F.broadcast(qdf))
            .where(F.col("cum") >= tgt)
            .groupBy("g", "q_ppm")
            .agg(F.min("v").alias("value"))
            .select(F.col("g").alias(group_col), "q_ppm", "value"))


def fdr_bh(df: DataFrame, id_col: str, p_col: str,
           alpha_ppm: int = 50_000) -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate control — the multiple-
    testing correction every metrics sweep needs (run 10^4 per-segment
    tests at alpha=0.05 and ~500 'significant' results are noise; BH
    caps the EXPECTED false-discovery fraction at alpha): sort
    p-values ascending, find the largest k with p_(k) <= k*alpha/m,
    reject ranks 1..k.

    Integer-exact: with p in micro units and alpha in ppm the
    condition cross-multiplies to p_micro * m <= rank * alpha_ppm —
    no division; the step-up cutoff is ONE max window over the ranked
    relation (which is the tests relation, not the fact table).

    Output: (id, p_micro, rank, rejected).
    """
    m = Window.partitionBy()
    w = Window.orderBy(F.col("p_micro"), F.col("id"))
    ranked = (df.select(F.col(id_col).alias("id"),
                        F.col(p_col).cast("bigint").alias("p_micro"))
              .where(F.col("p_micro").isNotNull())
              .withColumn("rank", F.row_number().over(w)
                          .cast("bigint"))
              .withColumn("m", F.count(F.lit(1)).over(m)))
    hit = F.when(F.col("p_micro") * F.col("m")
                 <= F.col("rank") * F.lit(int(alpha_ppm)),
                 F.col("rank")).otherwise(F.lit(0))
    cut = (ranked.withColumn("k_max", F.max(hit).over(m)))
    return cut.select(
        F.col("id").alias(id_col), "p_micro", "rank",
        (F.col("rank") <= F.col("k_max")).cast("int").alias("rejected"))


def pr_curve(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """Precision-recall sweep: one point per distinct score threshold
    (predict positive when score >= thr) — the curve a threshold
    choice is read off, complementing ``auc_roc``'s single number.
    Reverse-cumulative windows over the (score, n, positives) COUNT
    relation give tp/fp at every threshold in one pass; fn = P - tp.
    All counts exact; ratios integer ppm.

    Output: (thr, tp, fp, fn, precision_ppm, recall_ppm).
    """
    vals = (df.where(F.col(score_col).isNotNull()
                     & F.col(label_col).isNotNull())
            .groupBy(F.col(score_col).cast("bigint").alias("thr"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"),
                 F.sum(F.col(label_col).cast("bigint")).cast("bigint")
                 .alias("a")))
    wrev = (Window.orderBy(F.col("thr").desc())
            .rowsBetween(Window.unboundedPreceding, 0))
    wall = Window.partitionBy()
    cum = (vals
           .withColumn("tp", F.sum("a").over(wrev))
           .withColumn("pp", F.sum("c").over(wrev))
           .withColumn("p_all", F.sum("a").over(wall)))
    return cum.select(
        "thr", F.col("tp").cast("bigint").alias("tp"),
        (F.col("pp") - F.col("tp")).cast("bigint").alias("fp"),
        (F.col("p_all") - F.col("tp")).cast("bigint").alias("fn"),
        F.expr("1000000 * tp div pp").cast("bigint")
        .alias("precision_ppm"),
        F.when(F.col("p_all") > 0, F.expr("1000000 * tp div p_all"))
        .cast("bigint").alias("recall_ppm"))


def corr_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """All-pairs Pearson correlation across k integer feature columns
    in ONE aggregate pass — the EDA correlation matrix: per ordered
    pair (i < j), exact int64 moments (n, Si, Sj, Sii, Sjj, Sij) from
    a single df.agg (never k^2 scans), r_milli as the fixed-op-order
    double. NULL-row policy: rows with ANY null feature drop (matrix
    stays consistent on one sample).

    Output: (col_a, col_b, n, r_milli) — NULL r for constant columns.
    """
    if len(cols) < 2:
        raise ValueError(f"need >= 2 cols, got {cols}")
    base = df.where(
        None if not cols else
        F.lit(True) & F.expr(" AND ".join(
            f"{c} IS NOT NULL" for c in cols)))
    aggs = [F.count(F.lit(1)).cast("bigint").alias("__n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).cast("bigint")).cast("bigint")
                    .alias(f"__s_{c}"))
        aggs.append(F.sum(F.col(c).cast("bigint")
                          * F.col(c).cast("bigint")).cast("bigint")
                    .alias(f"__q_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            aggs.append(F.sum(F.col(a).cast("bigint")
                              * F.col(b).cast("bigint")).cast("bigint")
                        .alias(f"__x_{a}_{b}"))
    row = base.agg(*aggs)
    cells = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            n = F.col("__n")
            num = n * F.col(f"__x_{a}_{b}") \
                - F.col(f"__s_{a}") * F.col(f"__s_{b}")
            d1 = n * F.col(f"__q_{a}") - F.col(f"__s_{a}") \
                * F.col(f"__s_{a}")
            d2 = n * F.col(f"__q_{b}") - F.col(f"__s_{b}") \
                * F.col(f"__s_{b}")
            r = F.when((d1 > 0) & (d2 > 0),
                       F.floor(num.cast("double")
                               / F.sqrt(d1.cast("double")
                                        * d2.cast("double"))
                               * F.lit(1000.0) + F.lit(0.5))
                       .cast("bigint"))
            cells.append(F.struct(F.lit(a).alias("col_a"),
                                  F.lit(b).alias("col_b"),
                                  n.alias("n"), r.alias("r_milli")))
    return (row.select(F.explode(F.array(*cells)).alias("c"))
            .select("c.*"))


def dispersion_index(events: DataFrame, key_col: str = "event_type",
                     ts_col: str = "ts",
                     over_milli: int = 1500) -> DataFrame:
    """Index of dispersion (variance-to-mean ratio) of daily counts per
    key — the Poisson-ness check: D ≈ 1 for memoryless arrivals, D >> 1
    for bursty/clumped traffic (the cheap screen run before the heavier
    ``hurst`` / ``anomalous_bins`` diagnostics). Series = the shared
    zero-filled calendar grid; D = var/mean as the exact rational
    (n·Q − S²)/(n·S) with the burst flag decided by pure integer
    cross-multiplication (n·Q − S²)·1000 > over_milli·n·S.

    Output: (key, n_days, s_total, d_milli, overdispersed) — NULL/0
    for silent keys (S = 0).
    """
    day = F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP)) "
                 "div 86400000000")
    daily = (events.select(F.col(key_col).alias("k"), day.alias("d"))
             .groupBy("k", "d")
             .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    span = daily.groupBy("k").agg(F.min("d").alias("d0"),
                                  F.max("d").alias("d1"))
    grid = (span.select(
        "k", (F.col("d1") - F.col("d0") + 1).alias("n"),
        F.explode(F.sequence("d0", "d1")).alias("d"))
        .join(daily, ["k", "d"], "left")
        .select("k", "n",
                F.coalesce(F.col("c"), F.lit(0)).cast("bigint")
                .alias("c")))
    agg = (grid.groupBy("k")
           .agg(F.max("n").cast("bigint").alias("n_days"),
                F.sum("c").cast("bigint").alias("s"),
                F.sum(F.col("c") * F.col("c")).cast("bigint")
                .alias("q")))
    num = F.col("n_days") * F.col("q") - F.col("s") * F.col("s")
    den = F.col("n_days") * F.col("s")
    d_milli = F.when(F.col("s") > 0,
                     F.floor(num.cast("double") / den.cast("double")
                             * F.lit(1000.0) + F.lit(0.5))
                     .cast("bigint"))
    over = F.when(F.col("s") > 0,
                  (num * 1000 > F.lit(int(over_milli)) * den)
                  .cast("int")).cast("int")
    return agg.select(F.col("k").alias(key_col), "n_days",
                      F.col("s").alias("s_total"),
                      d_milli.alias("d_milli"),
                      over.alias("overdispersed"))


def cluster_purity(labels: DataFrame, cluster_col: str, class_col: str
                   ) -> DataFrame:
    """Cluster-vs-class purity: assign every cluster its majority
    class, purity = fraction of members matching their cluster's
    majority — the standard external clustering evaluation (how
    language-homogeneous are the spatial tiles? how lang-pure are the
    dedup components?). One contingency partial agg, one per-cluster
    max(struct) majority fold (count desc, class asc tie), one global
    aggregate — exact integer ppm.

    Output (one row): (n, n_clusters, n_majority, purity_ppm).
    """
    cells = (labels.where(F.col(cluster_col).isNotNull()
                          & F.col(class_col).isNotNull())
             .groupBy(F.col(cluster_col).alias("g"),
                      F.col(class_col).alias("cl"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    maj = (cells.groupBy("g")
           .agg(F.sum("c").cast("bigint").alias("nc"),
                F.min(F.struct((-F.col("c")).alias("neg"),
                               F.col("cl"))).alias("m")))
    agg = maj.agg(F.sum("nc").cast("bigint").alias("n"),
                  F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
                  F.sum(-F.col("m.neg")).cast("bigint")
                  .alias("n_majority"))
    return agg.select("n", "n_clusters", "n_majority",
                      F.expr("1000000 * n_majority div n")
                      .cast("bigint").alias("purity_ppm"))


def smoothed_rates(df: DataFrame, group_col: str, pos_col: str,
                   alpha: int = 5, beta: int = 5) -> DataFrame:
    """Beta-prior (Laplace-style) smoothed success rates per group —
    the cold-start ranking fix: a 1-for-1 item must not outrank a
    980-for-1000 one, so rates shrink toward the prior mean
    alpha/(alpha+beta) by integer pseudo-counts:
    rate = (x + alpha)/(n + alpha + beta). All integer ppm.

    Output: (group, n, n_pos, raw_ppm, smoothed_ppm).
    """
    if alpha < 0 or beta < 0:
        raise ValueError(f"alpha/beta must be >= 0, got {alpha}/{beta}")
    agg = (df.where(F.col(pos_col).isNotNull())
           .groupBy(F.col(group_col).alias("g"))
           .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(F.col(pos_col).cast("bigint")).cast("bigint")
                .alias("x")))
    return agg.select(
        F.col("g").alias(group_col), "n", F.col("x").alias("n_pos"),
        F.expr("1000000 * x div n").cast("bigint").alias("raw_ppm"),
        F.expr(f"1000000 * (x + {int(alpha)}) "
               f"div (n + {int(alpha) + int(beta)})").cast("bigint")
        .alias("smoothed_ppm"))


def odds_ratio(df: DataFrame, exposure_col: str, outcome_col: str,
               z_milli: int = 1960) -> DataFrame:
    """2x2 odds ratio with the Woolf confidence interval — the effect
    SIZE companion to ``chi2_flags``' significance test (a p-value
    says the association is real; the OR says how big): OR = ad/bc
    exact from the contingency counts, ln(OR) and its CI on the micro
    scale via the standard SE = sqrt(1/a+1/b+1/c+1/d) in one mirrored
    double chain. Zero cells yield NULL (the caller applies Haldane's
    +0.5 correction upstream if wanted — kept out so the exact path
    stays exact).

    Output (one row): (a, b, c, d, or_milli, ln_or_micro, lo_micro,
    hi_micro) — a = exposed+outcome, b = exposed-only,
    c = unexposed+outcome, d = neither.
    """
    e = F.col(exposure_col).cast("int")
    y = F.col(outcome_col).cast("int")
    agg = (df.where(e.isNotNull() & y.isNotNull())
           .agg(F.sum(((e == 1) & (y == 1)).cast("int")).cast("bigint")
                .alias("a"),
                F.sum(((e == 1) & (y == 0)).cast("int")).cast("bigint")
                .alias("b"),
                F.sum(((e == 0) & (y == 1)).cast("int")).cast("bigint")
                .alias("c"),
                F.sum(((e == 0) & (y == 0)).cast("int")).cast("bigint")
                .alias("d")))
    ok = (F.col("a") > 0) & (F.col("b") > 0) & (F.col("c") > 0) \
        & (F.col("d") > 0)
    orr = (F.col("a") * F.col("d")).cast("double") \
        / (F.col("b") * F.col("c")).cast("double")
    se = F.sqrt(F.lit(1.0) / F.col("a").cast("double")
                + F.lit(1.0) / F.col("b").cast("double")
                + F.lit(1.0) / F.col("c").cast("double")
                + F.lit(1.0) / F.col("d").cast("double"))
    ln_or = F.log(orr)
    z = F.lit(float(z_milli)) / F.lit(1000.0)
    return agg.select(
        "a", "b", "c", "d",
        F.when(ok, F.floor(orr * F.lit(1000.0) + F.lit(0.5)))
        .cast("bigint").alias("or_milli"),
        F.when(ok, F.floor(ln_or * F.lit(1e6) + F.lit(0.5)))
        .cast("bigint").alias("ln_or_micro"),
        F.when(ok, F.floor((ln_or - z * se) * F.lit(1e6) + F.lit(0.5)))
        .cast("bigint").alias("lo_micro"),
        F.when(ok, F.floor((ln_or + z * se) * F.lit(1e6) + F.lit(0.5)))
        .cast("bigint").alias("hi_micro"))


def cramers_v(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Cramér's V association strength for an r×c contingency table —
    the normalized companion to ``chi2_flags`` (which flags cells) and
    ``mutual_information`` (nats): V = sqrt(chi2 / (n·min(r-1,c-1)))
    in [0,1], comparable across tables of different shapes. Each
    cell's chi2 term (O·N − R·C)²/(N·R·C) is ONE fixed-op-order double
    micro-quantized BEFORE the sum (the mi_assoc discipline), so the
    aggregate is an associative integer; V is the final double.

    Output (one row): (n, r, c, chi2_micro, v_milli).
    """
    cells = (df.where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
             .groupBy(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("o")))
    ra = cells.groupBy("a").agg(F.sum("o").cast("bigint").alias("rr"))
    cb = cells.groupBy("b").agg(F.sum("o").cast("bigint").alias("cc"))
    nn = cells.agg(F.sum("o").cast("bigint").alias("n"),
                   F.countDistinct("a").cast("bigint").alias("r"),
                   F.countDistinct("b").cast("bigint").alias("c"))
    j = cells.join(ra, "a").join(cb, "b").crossJoin(F.broadcast(nn))
    dev = (F.col("o") * F.col("n")
           - F.col("rr") * F.col("cc")).cast("double")
    # chi2 cell = (O - E)^2/E with E = R*C/N  ==  (O*N - R*C)^2/(N*R*C);
    # quantized per OBSERVED cell before the sum (associative integer).
    term = F.floor(dev * dev
                   / (F.col("n").cast("double")
                      * F.col("rr").cast("double")
                      * F.col("cc").cast("double"))
                   * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    # zero-observed cells contribute E = R*C/N each; their total is
    # N - sum_observed(R*C)/N — the R*C sum stays an exact INTEGER
    # aggregate (merge-order free), one double at the end.
    agg0 = (j.groupBy("n", "r", "c")
            .agg(F.sum(term).cast("bigint").alias("t_sum"),
                 F.sum(F.col("rr") * F.col("cc")).cast("bigint")
                 .alias("src")))
    zsum = F.floor((F.col("n").cast("double")
                    - F.col("src").cast("double")
                      / F.col("n").cast("double"))
                   * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    agg = agg0.withColumn("chi2_micro", F.col("t_sum") + zsum)
    k = F.least(F.col("r") - 1, F.col("c") - 1)
    v = F.when(
        (k > 0) & (F.col("n") > 0),
        F.floor(F.sqrt(F.col("chi2_micro").cast("double") / F.lit(1e6)
                       / (F.col("n") * k).cast("double"))
                * F.lit(1000.0) + F.lit(0.5)).cast("bigint"))
    return agg.select("n", "r", "c",
                      F.col("chi2_micro").cast("bigint")
                      .alias("chi2_micro"),
                      v.alias("v_milli"))


def gini_inequality(df: DataFrame, value_col: str) -> DataFrame:
    """Exact Gini coefficient of a non-negative integer quantity —
    concentration of traffic/tokens across hosts or sources (0 =
    perfectly even, ->1 = one key holds everything; the corpus-balance
    number next to ``simpson_diversity``). Computed on the VALUE-COUNT
    relation (the value_quantiles discipline): with values sorted
    ascending, sum of rank*value uses the closed form over tied
    blocks — for a block of c copies of v starting at cumulative
    position p, sum(rank*v) = v * (c*p + c*(c+1)/2) — keeping
    everything int64; G = (2*S1 / (n*S)) - (n+1)/n is the final
    mirrored double.

    Output (one row): (n, total, s1, gini_milli) — NULL for empty or
    all-zero input.
    """
    vals = (df.where(F.col(value_col).isNotNull()
                     & (F.col(value_col) >= 0))
            .groupBy(F.col(value_col).cast("bigint").alias("v"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    blk = (vals.withColumn("p", F.coalesce(F.sum("c").over(wc),
                                           F.lit(0)))
           .withColumn("s1b", F.col("v")
                       * (F.col("c") * F.col("p")
                          + F.expr("c * (c + 1) div 2"))))
    agg = blk.agg(F.sum("c").cast("bigint").alias("n"),
                  F.sum(F.col("v") * F.col("c")).cast("bigint")
                  .alias("total"),
                  F.sum("s1b").cast("bigint").alias("s1"))
    g = F.when(
        (F.col("n") > 0) & (F.col("total") > 0),
        F.floor((F.lit(2.0) * F.col("s1").cast("double")
                 / (F.col("n").cast("double")
                    * F.col("total").cast("double"))
                 - (F.col("n") + 1).cast("double")
                   / F.col("n").cast("double"))
                * F.lit(1000.0) + F.lit(0.5)).cast("bigint"))
    return agg.select("n", "total", "s1", g.alias("gini_milli"))


def lorenz_points(df: DataFrame, value_col: str,
                  n_points: int = 10) -> DataFrame:
    """Lorenz-curve points — the concentration curve behind
    ``gini_inequality``'s single number: at each population decile
    (poorest first), the cumulative share of the total the bottom
    fraction holds ("the bottom 90% of hosts carry 12% of traffic").
    Computed on the value-count relation: cumulative population and
    mass sums ascending, each decile read as the smallest value block
    whose cumulative population reaches ceil(q*n/points) — all
    integer; shares exact ppm of interpolation-free block boundaries
    (type-1, like every quantile here).

    Output: (point, pop_ppm, mass_ppm) for point = 1..n_points.
    """
    if n_points < 2:
        raise ValueError(f"n_points must be >= 2, got {n_points}")
    vals = (df.where(F.col(value_col).isNotNull()
                     & (F.col(value_col) >= 0))
            .groupBy(F.col(value_col).cast("bigint").alias("v"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("c")))
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = (vals
           .withColumn("cp", F.sum("c").over(wc))
           .withColumn("cm", F.sum(F.col("v") * F.col("c")).over(wc))
           .withColumn("n", F.sum("c").over(wall))
           .withColumn("tot", F.sum(F.col("v") * F.col("c"))
                       .over(wall)))
    pts = (df.sparkSession.range(1, int(n_points) + 1)
           .withColumnRenamed("id", "point"))
    tgt = F.expr(f"(point * n + {int(n_points)} - 1) "
                 f"div {int(n_points)}")
    return (cum.crossJoin(F.broadcast(pts))
            .where(F.col("cp") >= tgt)
            .groupBy("point")
            .agg(F.min(F.struct("cp", "cm", "n", "tot")).alias("m"))
            .select("point",
                    F.expr("1000000 * m.cp div m.n").cast("bigint")
                    .alias("pop_ppm"),
                    F.when(F.col("m.tot") > 0,
                           F.expr("1000000 * m.cm div m.tot"))
                    .cast("bigint").alias("mass_ppm")))


def welch_t(df: DataFrame, side_col: str, value_col: str,
            t_crit_milli: int = 1960) -> DataFrame:
    """Welch's two-sample t-test — the parametric mean-difference test
    next to ``ks_test`` (distribution shape) and ``emd_1d`` (distance):
    unequal variances, no pooling. Per-side moments (n, S, Q) are
    exact int64 partial aggs; t and the Welch-Satterthwaite df are the
    final fixed-op-order double chain, the decision |t| > crit one
    mirrored comparison (crit defaults to the large-sample 1.96; pass
    the df-appropriate critical value for small samples).

    Output (one row): (n_a, n_b, mean_a_milli, mean_b_milli, t_milli,
    df_milli, reject).
    """
    base = (df.where(F.col(value_col).isNotNull())
            .groupBy(F.col(side_col).alias("s"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.sum(F.col(value_col).cast("bigint")).cast("bigint")
                 .alias("sv"),
                 F.sum(F.col(value_col).cast("bigint")
                       * F.col(value_col).cast("bigint")).cast("bigint")
                 .alias("q")))
    a = (base.where(F.col("s") == "a")
         .select(F.col("n").alias("na"), F.col("sv").alias("sa"),
                 F.col("q").alias("qa")))
    b = (base.where(F.col("s") == "b")
         .select(F.col("n").alias("nb"), F.col("sv").alias("sb"),
                 F.col("q").alias("qb")))
    j = a.crossJoin(F.broadcast(b))
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    ma = F.col("sa").cast("double") / na
    mb = F.col("sb").cast("double") / nb
    # unbiased sample variances from exact moments
    va = (F.col("qa").cast("double") - na * ma * ma) / (na - F.lit(1.0))
    vb = (F.col("qb").cast("double") - nb * mb * mb) / (nb - F.lit(1.0))
    sea, seb = va / na, vb / nb
    t = (ma - mb) / F.sqrt(sea + seb)
    dfree = ((sea + seb) * (sea + seb)
             / (sea * sea / (na - F.lit(1.0))
                + seb * seb / (nb - F.lit(1.0))))
    ok = (F.col("na") > 1) & (F.col("nb") > 1)
    rej = F.when(ok, (F.abs(t) > F.lit(float(t_crit_milli)) / F.lit(
        1000.0)).cast("int")).cast("int")
    return j.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.floor(ma * F.lit(1000.0) + F.lit(0.5)).cast("bigint")
        .alias("mean_a_milli"),
        F.floor(mb * F.lit(1000.0) + F.lit(0.5)).cast("bigint")
        .alias("mean_b_milli"),
        F.when(ok, F.floor(t * F.lit(1000.0) + F.lit(0.5)))
        .cast("bigint").alias("t_milli"),
        F.when(ok, F.floor(dfree * F.lit(1000.0) + F.lit(0.5)))
        .cast("bigint").alias("df_milli"),
        rej.alias("reject"))


def topk_overlap(rank_a: DataFrame, rank_b: DataFrame,
                 ks: tuple = (10, 20, 50),
                 id_col: str = "id", rank_col: str = "rank") -> DataFrame:
    """Agreement@k between two rankings — "how much did the new scorer
    reorder the top of the list": per cutoff k the exact top-k set
    overlap and Jaccard ppm, the cheap first look before a full RBO.
    One bounded |ks| explode per side + one co-keyed join; never
    materializes pairs.

    Output: (k, n_common, jaccard_ppm) — Jaccard of the two top-k
    sets (size k each when both rankings have >= k entries).
    """
    kdf = F.explode(F.array(*[F.lit(int(k)) for k in ks])).alias("k")

    def top(df, tag):
        return (df.select(F.col(id_col).alias("i"),
                          F.col(rank_col).alias("r"), kdf)
                .where(F.col("r") <= F.col("k"))
                .select("k", "i", F.lit(1).alias(tag)))

    a, b = top(rank_a, "ina"), top(rank_b, "inb")
    m = a.join(b, ["k", "i"], "full_outer")
    return (m.groupBy("k")
            .agg(F.sum(F.when(F.col("ina").isNotNull()
                              & F.col("inb").isNotNull(), 1)
                       .otherwise(0)).cast("bigint").alias("n_common"),
                 F.count(F.lit(1)).cast("bigint").alias("n_union"))
            .select(F.col("k").cast("bigint").alias("k"), "n_common",
                    F.expr("1000000 * n_common div n_union")
                    .cast("bigint").alias("jaccard_ppm")))


def capture_recapture(df: DataFrame, in_a_col: str,
                      in_b_col: str) -> DataFrame:
    """Lincoln-Petersen capture-recapture population estimate: from
    two independent samples of an unknown population (rows carry
    membership flags), N_hat = n_a * n_b / m where m = overlap — the
    classic "how many duplicates/entities exist in TOTAL when we can
    only sample" estimator (also the Chapman bias-corrected variant,
    (n_a+1)(n_b+1)/(m+1) - 1, exact integers). One aggregate.

    Output (one row): (n_a, n_b, n_both, n_hat, n_hat_chapman) — NULL
    plain estimate when the overlap is empty (Chapman still defined).
    """
    a = F.col(in_a_col).cast("int")
    b = F.col(in_b_col).cast("int")
    agg = df.agg(
        F.sum(a).cast("bigint").alias("n_a"),
        F.sum(b).cast("bigint").alias("n_b"),
        F.sum((a * b)).cast("bigint").alias("n_both"))
    nhat = F.when(F.col("n_both") > 0,
                  F.expr("n_a * n_b div n_both")).cast("bigint")
    chap = F.expr("(n_a + 1) * (n_b + 1) div (n_both + 1) - 1") \
        .cast("bigint")
    return agg.select("n_a", "n_b", "n_both", nhat.alias("n_hat"),
                      chap.alias("n_hat_chapman"))
