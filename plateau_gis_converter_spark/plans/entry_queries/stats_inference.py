"""Inferential statistics gates (``operators/stats.py``): hypothesis
tests, correlation and association measures, trend and change-point
tests, sequential tests and population estimates."""

from __future__ import annotations

from pyspark.sql import functions as F

from ._common import _cents, _cents_sql, _t, gate


SQL_TREND_SLOPE = """
WITH daily AS (
  SELECT event_type AS k, CAST(ts AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS y
  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
xd AS (
  SELECT k,
         CAST(date_diff('day', min(d) OVER (PARTITION BY k), d) AS BIGINT)
             AS x,
         y
  FROM daily),
agg AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM xd GROUP BY 1)
SELECT k AS event_type, n AS n_days, sy AS total_events,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
            ELSE CAST(((n * sxy - sx * sy) * 1000000)
                      // (n * sxx - sx * sx) AS BIGINT)
       END AS slope_uday
FROM agg
"""


@gate(SQL_TREND_SLOPE)
def q_trend_slope(spark, sf_dir):
    """Per-key OLS trend slope of daily activity (stats.trend_slope):
    integer-exact least-squares slope over (day index, daily count) per
    event type — the crawl-freshness / traffic-trend signal. Oracle
    re-derives daily counts, the per-key x offset, and the identical
    truncating integer division (Spark `div` == DuckDB integer `//`,
    both toward zero — verified on negatives)."""
    from ...operators import stats as st

    ev = _t(spark, sf_dir, "events")
    return st.trend_slope(ev)


SQL_CHI2_ASSOC = """
WITH cells AS MATERIALIZED (
  SELECT lang AS row_key, source AS col_key,
         CAST(count(*) AS BIGINT) AS o
  FROM documents GROUP BY 1, 2),
r AS (SELECT row_key, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
c AS (SELECT col_key, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells)
SELECT cells.row_key, cells.col_key, o, r.r, c.c, n.n,
       (o * n.n - r.r * c.c) * (o * n.n - r.r * c.c)
         > 2 * n.n * r.r * c.c AS flagged
FROM cells JOIN r USING (row_key) JOIN c USING (col_key), n
"""


@gate(SQL_CHI2_ASSOC)
def q_chi2_assoc(spark, sf_dir):
    """Chi-squared association cells (stats.chi2_flags) over the
    lang x source contingency table, flagged where the cell's exact
    integer contribution test (O*N - R*C)^2 > 2*N*R*C fires (threshold
    2 flags ~8/100 fixture cells — both branches exercised; the
    population-stat masking note on anomalous_days applies to z^2, not
    to contingency cells). Oracle rebuilds cells and margins."""
    from ...operators import stats as st

    docs = _t(spark, sf_dir, "documents")
    return st.chi2_flags(docs, "lang", "source", threshold=2)


SQL_ANOMALOUS_DAYS = """
WITH b AS (
  SELECT event_type AS key, date_trunc('day', ts) AS bin_ts,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
m AS (
  SELECT key, CAST(count(*) AS BIGINT) AS d, CAST(sum(n) AS BIGINT) AS s,
         CAST(sum(n * n) AS BIGINT) AS q
  FROM b GROUP BY 1)
SELECT b.key AS event_type, b.bin_ts, b.n,
       (m.d * b.n - m.s) * (m.d * b.n - m.s) > 4 * (m.d * m.q - m.s * m.s)
           AS is_anomaly
FROM b JOIN m USING (key)
"""


@gate(SQL_ANOMALOUS_DAYS)
def q_anomalous_days(spark, sf_dir):
    """Per-event-type anomalous days (stats.anomalous_bins): daily counts
    flagged when (x - mu)^2 > 4 sigma^2, decided in exact integer
    arithmetic ((D*x - S)^2 > 4*(D*Q - S^2)) so no float variance enters
    the compare. z^2 = 4 here because population stats bound a single
    spike's z^2 by D-1 (masking) and the fixture spans 30 days — both
    branches of the flag are exercised (4/150 rows flag at sf0.01).
    Oracle re-derives counts and moments independently."""
    from ...operators import stats as st

    ev = _t(spark, sf_dir, "events")
    return st.anomalous_bins(ev, z_sq_threshold=4)


SQL_LAG_AUTOCORR = """
WITH daily AS (
  SELECT event_type AS k, epoch_us(ts) // 86400000000 AS d,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
sp AS (SELECT k, min(d) AS d0, max(d) AS d1, sum(c) AS s
       FROM daily GROUP BY 1),
grid AS (SELECT k, s, d1 - d0 + 1 AS n, d0 + u.i AS d
         FROM sp, UNNEST(range(d1 - d0 + 1)) AS u(i)),
cd AS (SELECT g.k, g.n, g.s, g.d,
              g.n * coalesce(dl.c, 0) - g.s AS dev
       FROM grid g LEFT JOIN daily dl ON dl.k = g.k AND dl.d = g.d),
nm AS (SELECT a.k, CAST(sum(a.dev * b.dev) AS BIGINT) AS num
       FROM cd a JOIN cd b ON a.k = b.k AND b.d = a.d - 7 GROUP BY 1),
dn AS (SELECT k, CAST(max(n) AS BIGINT) AS n_days,
              CAST(sum(dev * dev) AS BIGINT) AS den
       FROM cd GROUP BY 1)
SELECT dn.k AS event_type, n_days,
       CAST(coalesce(num, 0) AS BIGINT) AS num, den,
       CASE WHEN den > 0 AND num IS NOT NULL THEN
         CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                    * 1000.0 + 0.5) AS BIGINT)
       END AS r_milli
FROM dn LEFT JOIN nm ON nm.k = dn.k
"""


@gate(SQL_LAG_AUTOCORR)
def q_lag_autocorr(spark, sf_dir):
    """Weekly-rhythm detector (stats.lag_autocorrelation): lag-7
    autocorrelation of daily counts per event type over each key's own
    calendar span with missing days as TRUE ZEROS (sequence-explode
    grid), integer n-scaled moments (the morans_i discipline in 1-D),
    one fixed-order scalar double for r_milli."""
    from ...operators import stats as st

    ev = _t(spark, sf_dir, "events")
    return st.lag_autocorrelation(ev, lag_days=7)


SQL_MANN_KENDALL = """
WITH mm AS (SELECT min(epoch_us(ts) // 86400000000) AS dmin,
                   max(epoch_us(ts) // 86400000000) AS dmax FROM events),
src AS (
  SELECT event_type AS k, ts FROM events
  UNION ALL
  SELECT 'ramp_up', ts FROM events, mm
  WHERE event_id % 60 < 2 * (epoch_us(ts) // 86400000000 - dmin)
  UNION ALL
  SELECT 'ramp_down', ts FROM events, mm
  WHERE event_id % 60 < 2 * (dmax - epoch_us(ts) // 86400000000)),
daily AS (SELECT k, epoch_us(ts) // 86400000000 AS d,
                 CAST(count(*) AS BIGINT) AS c
          FROM src GROUP BY 1, 2),
sp AS (SELECT k, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
grid AS (SELECT sp.k, d1 - d0 + 1 AS n, d0 + u.i AS d
         FROM sp, UNNEST(range(d1 - d0 + 1)) AS u(i)),
cd AS (SELECT g.k, g.n, g.d, coalesce(dl.c, 0) AS c
       FROM grid g LEFT JOIN daily dl ON dl.k = g.k AND dl.d = g.d),
s AS (SELECT a.k,
             CAST(sum(CASE WHEN b.c > a.c THEN 1
                           WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT)
                 AS s_stat
      FROM cd a JOIN cd b ON a.k = b.k AND b.d > a.d GROUP BY 1),
tg AS (SELECT k, n, c, CAST(count(*) AS BIGINT) AS t
       FROM cd GROUP BY 1, 2, 3),
v AS (SELECT k, CAST(max(n) AS BIGINT) AS n_days,
             CAST(max(n) * (max(n) - 1) * (2 * max(n) + 5)
                  - sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS var18
      FROM tg GROUP BY 1)
SELECT v.k, n_days, s_stat, var18,
       CAST(CASE WHEN s_stat <> 0
                  AND CAST(180000 AS DECIMAL(38,0))
                      * (abs(s_stat) - 1) * (abs(s_stat) - 1)
                      > CAST(38416 AS DECIMAL(38,0)) * var18
                 THEN CASE WHEN s_stat > 0 THEN 1 ELSE -1 END
            ELSE 0 END AS BIGINT) AS trend
FROM v JOIN s USING (k)
"""


@gate(SQL_MANN_KENDALL)
def q_mann_kendall(spark, sf_dir):
    """Distribution-free trend test (stats.mann_kendall): per-key S
    statistic + tie-corrected 18·Var(S) + 95% trend flag over daily
    counts on each key's own zero-filled calendar span. The natural
    event types are stationary (trend 0); two derived keys keep events
    with a deterministic day-ramped modulus filter — ramp_up's keep
    fraction grows ~6.7%/day, ramp_down's shrinks — so +1, -1 AND 0
    all provably fire. Oracle re-derives the grid, the pairwise sign
    sum, and the integer significance test independently."""
    from ...operators import stats as st

    ev = _t(spark, sf_dir, "events")
    d = F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000")
    evd = ev.select("event_type", "ts", "event_id", d.alias("d"))
    mm = evd.agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    evm = evd.crossJoin(F.broadcast(mm))
    base = evm.select(F.col("event_type").alias("k"), "ts")
    up = (evm.where((F.col("event_id") % 60)
                    < 2 * (F.col("d") - F.col("dmin")))
          .select(F.lit("ramp_up").alias("k"), "ts"))
    down = (evm.where((F.col("event_id") % 60)
                      < 2 * (F.col("dmax") - F.col("d")))
            .select(F.lit("ramp_down").alias("k"), "ts"))
    return st.mann_kendall(base.unionAll(up).unionAll(down), key_col="k")


SQL_PETTITT_SHIFT = """
WITH mm AS (SELECT min(epoch_us(ts) // 86400000000) AS dmin,
                   max(epoch_us(ts) // 86400000000) AS dmax FROM events),
src AS (
  SELECT event_type AS k, ts FROM events
  UNION ALL
  SELECT 'step_up', ts FROM events, mm
  WHERE CASE WHEN 2 * (epoch_us(ts) // 86400000000 - dmin) >= dmax - dmin
             THEN event_id % 2 = 0 ELSE event_id % 8 = 0 END),
daily AS (SELECT k, epoch_us(ts) // 86400000000 AS d,
                 CAST(count(*) AS BIGINT) AS c
          FROM src GROUP BY 1, 2),
sp AS (SELECT k, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
grid AS (SELECT sp.k, d0 + u.i AS d
         FROM sp, UNNEST(range(d1 - d0 + 1)) AS u(i)),
cd AS (SELECT g.k, g.d, coalesce(dl.c, 0) AS c
       FROM grid g LEFT JOIN daily dl ON dl.k = g.k AND dl.d = g.d),
u AS (SELECT t.k, t.d,
             CAST(sum(CASE WHEN a.c > b.c THEN 1
                           WHEN a.c < b.c THEN -1 ELSE 0 END) AS BIGINT)
                 AS u
      FROM cd t
      JOIN cd a ON a.k = t.k AND a.d <= t.d
      JOIN cd b ON b.k = t.k AND b.d > t.d
      GROUP BY 1, 2),
pick AS (SELECT k, d, u, abs(u) AS a FROM u
         QUALIFY row_number() OVER (PARTITION BY k
                                    ORDER BY abs(u) DESC, d) = 1)
SELECT p.k, CAST(sp.d1 - sp.d0 + 1 AS BIGINT) AS n_days,
       p.u AS u_stat, p.a AS k_stat, CAST(p.d AS BIGINT) AS change_day,
       CAST(CASE WHEN CAST(6000000 AS DECIMAL(38,0)) * p.a * p.a
                      > CAST(3688879 AS DECIMAL(38,0))
                        * ((sp.d1 - sp.d0 + 1)
                                   * (sp.d1 - sp.d0 + 1)
                                   * (sp.d1 - sp.d0 + 1)
                                   + (sp.d1 - sp.d0 + 1)
                                   * (sp.d1 - sp.d0 + 1))
                 THEN 1 ELSE 0 END AS BIGINT) AS shifted
FROM pick p JOIN sp ON sp.k = p.k
"""


@gate(SQL_PETTITT_SHIFT)
def q_pettitt_shift(spark, sf_dir):
    """Change-point detection (stats.pettitt_shift): rank-based Pettitt
    U statistic over zero-filled daily counts — the natural event types
    are level-stable; a derived step key keeps 1-in-8 events in the
    first half of the span and 1-in-2 in the second, a provable level
    shift, so both shifted branches fire. The operator computes U via
    the V-recurrence + cumsum; the oracle computes U_t from the
    DEFINITION (sum over pairs i <= t < j) — an independent
    formulation whose agreement proves the recurrence."""
    from ...operators import stats as st

    ev = _t(spark, sf_dir, "events")
    d = F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000")
    evd = ev.select("event_type", "ts", "event_id", d.alias("d"))
    mm = evd.agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    evm = evd.crossJoin(F.broadcast(mm))
    base = evm.select(F.col("event_type").alias("k"), "ts")
    step = (evm.where(
        F.when(2 * (F.col("d") - F.col("dmin"))
               >= F.col("dmax") - F.col("dmin"),
               (F.col("event_id") % 2) == 0)
        .otherwise((F.col("event_id") % 8) == 0))
        .select(F.lit("step_up").alias("k"), "ts"))
    return st.pettitt_shift(base.unionAll(step), key_col="k")


SQL_SPEARMAN_CORR = f"""
WITH base AS (
  SELECT event_type AS k, {_cents_sql('value')} AS x,
         epoch_us(ts) AS y
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
  UNION ALL
  SELECT 'mono_up', {_cents_sql('value')}, {_cents_sql('value')}
  FROM events WHERE value IS NOT NULL
  UNION ALL
  SELECT 'mono_down', {_cents_sql('value')}, -{_cents_sql('value')}
  FROM events WHERE value IS NOT NULL),
rk AS (
  SELECT k,
         2 * rank() OVER (PARTITION BY k ORDER BY x)
           + count(*) OVER (PARTITION BY k, x) - 1 AS r2x,
         2 * rank() OVER (PARTITION BY k ORDER BY y)
           + count(*) OVER (PARTITION BY k, y) - 1 AS r2y
  FROM base),
m AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n,
         TRY_CAST(sum(r2x) AS BIGINT) AS sx,
         TRY_CAST(sum(r2y) AS BIGINT) AS sy,
         TRY_CAST(sum(r2x * r2y) AS BIGINT) AS sxy,
         TRY_CAST(sum(r2x * r2x) AS BIGINT) AS sxx,
         TRY_CAST(sum(r2y * r2y) AS BIGINT) AS syy
  FROM rk GROUP BY 1),
d AS (
  SELECT k, n,
         CAST(CASE WHEN n <= 51284 THEN n * sxy - sx * sy END AS BIGINT)
             AS num,
         CAST(CASE WHEN n <= 51284 THEN n * sxx - sx * sx END AS BIGINT)
             AS den1,
         CAST(CASE WHEN n <= 51284 THEN n * syy - sy * sy END AS BIGINT)
             AS den2
  FROM m)
SELECT k, n, num, den1, den2,
       CAST(CASE WHEN den1 > 0 AND den2 > 0
                 THEN floor(CAST(num AS DOUBLE)
                            / sqrt(CAST(den1 AS DOUBLE)
                                   * CAST(den2 AS DOUBLE))
                            * 1000.0 + 0.5)
            END AS BIGINT) AS r_milli
FROM d
"""


@gate(SQL_SPEARMAN_CORR)
def q_spearman_corr(spark, sf_dir):
    """Spearman rank correlation (stats.spearman_group_corr): per
    event type between cent-quantized value and the event's microsecond
    timestamp, plus two derived keys pinning the spec — mono_up (y = x,
    r exactly +1000 even under ties) and mono_down (y = -x, -1000).
    The operator ranks through the (group, value) COUNT relation; the
    oracle ranks each ROW via rank() + tie-count windows — independent
    mechanics for the same doubled average rank."""
    from ...operators import stats as st

    ev = _t(spark, sf_dir, "events")
    cents = _cents("value")
    base = (ev.where(F.col("value").isNotNull() & F.col("ts").isNotNull())
            .select(F.col("event_type").alias("k"),
                    cents.alias("x"),
                    F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
                    .alias("y")))
    up = (ev.where(F.col("value").isNotNull())
          .select(F.lit("mono_up").alias("k"), cents.alias("x"),
                  cents.alias("y")))
    down = (ev.where(F.col("value").isNotNull())
            .select(F.lit("mono_down").alias("k"), cents.alias("x"),
                    (-cents).alias("y")))
    return st.spearman_group_corr(base.unionAll(up).unionAll(down),
                                  "k", "x", "y")


SQL_THEIL_SEN = """
WITH mm AS (SELECT min(epoch_us(ts) // 86400000000) AS dmin,
                   max(epoch_us(ts) // 86400000000) AS dmax FROM events),
src AS (
  SELECT event_type AS k, ts FROM events
  UNION ALL
  SELECT 'ramp_up', ts FROM events, mm
  WHERE event_id % 60 < 2 * (epoch_us(ts) // 86400000000 - dmin)
  UNION ALL
  SELECT 'ramp_down', ts FROM events, mm
  WHERE event_id % 60 < 2 * (dmax - epoch_us(ts) // 86400000000)),
daily AS (SELECT k, epoch_us(ts) // 86400000000 AS d,
                 CAST(count(*) AS BIGINT) AS c
          FROM src GROUP BY 1, 2),
sp AS (SELECT k, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
grid AS (SELECT sp.k, d0 + u.i AS d
         FROM sp, UNNEST(range(d1 - d0 + 1)) AS u(i)),
cd AS (SELECT g.k, g.d, coalesce(dl.c, 0) AS c
       FROM grid g LEFT JOIN daily dl ON dl.k = g.k AND dl.d = g.d),
pr AS (SELECT a.k, a.d AS da, b.d AS db,
              b.c - a.c AS num, b.d - a.d AS den
       FROM cd a JOIN cd b ON a.k = b.k AND b.d > a.d),
rk AS (SELECT k, da, db, num, den,
              row_number() OVER (
                PARTITION BY k
                ORDER BY CAST(num AS DOUBLE) / CAST(den AS DOUBLE) ASC,
                         da, db) AS rn,
              count(*) OVER (PARTITION BY k) AS m
       FROM pr)
SELECT rk.k, CAST(sp.d1 - sp.d0 + 1 AS BIGINT) AS n_days,
       CAST(m AS BIGINT) AS n_pairs,
       CAST(num AS BIGINT) AS med_num, CAST(den AS BIGINT) AS med_den,
       CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1000.0
                  + 0.5) AS BIGINT) AS slope_milli
FROM rk JOIN sp ON sp.k = rk.k
WHERE rn = (m + 1) // 2
"""


@gate(SQL_THEIL_SEN)
def q_theil_sen(spark, sf_dir):
    """Robust trend slope (stats.theil_sen_slope): per-key lower median
    of all pairwise daily slopes over the same ramp-extended event
    series as the mann_kendall gate (so up / down / flat medians all
    appear). Median selection orders by the computed-double quotient of
    exact int64 operands — identical in both engines — with the day
    pair as deterministic tiebreak; oracle re-ranks independently."""
    from ...operators import stats as st

    ev = _t(spark, sf_dir, "events")
    d = F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000")
    evd = ev.select("event_type", "ts", "event_id", d.alias("d"))
    mm = evd.agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    evm = evd.crossJoin(F.broadcast(mm))
    base = evm.select(F.col("event_type").alias("k"), "ts")
    up = (evm.where((F.col("event_id") % 60)
                    < 2 * (F.col("d") - F.col("dmin")))
          .select(F.lit("ramp_up").alias("k"), "ts"))
    down = (evm.where((F.col("event_id") % 60)
                      < 2 * (F.col("dmax") - F.col("d")))
            .select(F.lit("ramp_down").alias("k"), "ts"))
    return st.theil_sen_slope(base.unionAll(up).unionAll(down),
                              key_col="k")


SQL_MI_ASSOC = """
WITH base AS (SELECT lang AS a, n_chars // 200 AS b FROM documents
              WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c
          FROM base GROUP BY 1, 2),
ra AS (SELECT a, CAST(sum(c) AS BIGINT) AS r FROM cells GROUP BY 1),
cb AS (SELECT b, CAST(sum(c) AS BIGINT) AS s FROM cells GROUP BY 1),
nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
j AS (SELECT cells.c, ra.r, cb.s, nn.n
      FROM cells JOIN ra USING (a) JOIN cb USING (b), nn),
t AS (SELECT CAST(floor(CAST(c AS DOUBLE)
                 * ln(CAST(c AS DOUBLE) * CAST(n AS DOUBLE)
                      / (CAST(r AS DOUBLE) * CAST(s AS DOUBLE)))
                 * 1000000.0 + 0.5) AS BIGINT) AS term, n
      FROM j)
SELECT CAST(max(n) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(term) AS BIGINT) AS mi_sum_micro,
       CAST(sum(term) // max(n) AS BIGINT) AS mi_micro_nats
FROM t
"""


@gate(SQL_MI_ASSOC)
def q_mi_assoc(spark, sf_dir):
    """Mutual information (stats.mutual_information): MI between
    language and the 200-char length bucket in integer micro-nats —
    each cell's c·ln(cN/(rs)) quantized BEFORE the sum (the
    token_entropy discipline) so the aggregate is associative. Oracle
    mirrors the fixed op order over its own contingency CTEs."""
    from ...operators import stats as st

    docs = _t(spark, sf_dir, "documents")
    d = (docs.where(F.col("lang").isNotNull()
                    & F.col("n_chars").isNotNull())
         .select(F.col("lang").alias("a"),
                 F.expr("n_chars div 200").alias("b")))
    return st.mutual_information(d, "a", "b")


def _bootstrap_sql() -> str:
    from ...operators.stats import POISSON1_T60 as T

    w_case = (f"CASE WHEN h < {T[0]} THEN 0 WHEN h < {T[1]} THEN 1 "
              f"WHEN h < {T[2]} THEN 2 WHEN h < {T[3]} THEN 3 "
              f"WHEN h < {T[4]} THEN 4 ELSE 5 END")
    return f"""
WITH base AS (SELECT event_id AS id, {_cents_sql('value')} AS x
              FROM events WHERE value IS NOT NULL),
rep AS (SELECT b.i AS b, x,
               CAST(concat('0x', substr(md5(CAST(id AS VARCHAR)
                    || ':bs' || CAST(b.i AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
        FROM base, UNNEST(range(40)) AS b(i)),
wm AS (SELECT b, {w_case} AS w, x FROM rep),
mns AS (SELECT b, CAST(1000 * sum(w * x) // sum(w) AS BIGINT) AS m
        FROM wm GROUP BY b HAVING sum(w) > 0),
rk AS (SELECT m, b, row_number() OVER (ORDER BY m, b) AS rn,
              count(*) OVER () AS nb
       FROM mns),
bounds AS (SELECT
    max(CASE WHEN rn = greatest(1, ceil(nb * 25000 / 1000000))
             THEN m END) AS lo,
    max(CASE WHEN rn = greatest(1, ceil(nb * 975000 / 1000000))
             THEN m END) AS hi,
    CAST(max(nb) AS BIGINT) AS n_resamples
  FROM rk),
full_s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(1000 * sum(x) // count(*) AS BIGINT) AS mean_milli
           FROM base)
SELECT n, mean_milli, n_resamples,
       CAST(lo AS BIGINT) AS lo_milli, CAST(hi AS BIGINT) AS hi_milli
FROM full_s, bounds
"""


SQL_BOOTSTRAP_CI = _bootstrap_sql()


@gate(SQL_BOOTSTRAP_CI)
def q_bootstrap_ci(spark, sf_dir):
    """Poisson bootstrap (stats.bootstrap_mean_ci): 95% CI for the
    mean event value via 40 deterministic Poisson(1)-weighted
    replicates — all replicates in ONE explode + partial agg (the
    Chamandy distributed-bootstrap shape). Shared CDF threshold
    constants; the oracle re-derives replicate means and rank bounds
    with its own windows."""
    from ...operators import stats as st

    ev = _t(spark, sf_dir, "events").select(
        "event_id", _cents("value").alias("v_cents"))
    return st.bootstrap_mean_ci(ev, "v_cents", id_col="event_id",
                                n_resamples=40)


SQL_COHENS_KAPPA = """
WITH d AS (SELECT lang AS ra,
                  CASE WHEN doc_id % 7 = 0 THEN 'xx' ELSE lang END AS rb
           FROM documents
           WHERE lang IS NOT NULL),
cells AS (SELECT ra, rb, CAST(count(*) AS BIGINT) AS c
          FROM d GROUP BY 1, 2),
ra AS (SELECT ra AS k, CAST(sum(c) AS BIGINT) AS r
       FROM cells GROUP BY 1),
cb AS (SELECT rb AS k, CAST(sum(c) AS BIGINT) AS s
       FROM cells GROUP BY 1),
pe AS (SELECT CAST(coalesce(sum(r * s), 0) AS BIGINT) AS pe_num
       FROM ra JOIN cb USING (k)),
base AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                CAST(sum(CASE WHEN ra = rb THEN c ELSE 0 END) AS BIGINT)
                    AS n_agree
         FROM cells)
SELECT n, n_agree, pe_num,
       CAST(CASE WHEN n * n <> pe_num THEN
         floor(CAST(n * n_agree - pe_num AS DOUBLE)
               / CAST(n * n - pe_num AS DOUBLE) * 1000.0 + 0.5)
       END AS BIGINT) AS kappa_milli
FROM base, pe
"""


@gate(SQL_COHENS_KAPPA)
def q_cohens_kappa(spark, sf_dir):
    """Inter-annotator agreement (stats.cohens_kappa): rater A = lang,
    rater B = lang with every 7th document corrupted to 'xx' — kappa
    strictly between 0 and 1, chance floor from the margin products.
    Oracle re-derives the contingency, margins and the fixed-op-order
    kappa independently."""
    from ...operators import stats as st

    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        F.col("lang").alias("ra"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("xx"))
        .otherwise(F.col("lang")).alias("rb"))
    return st.cohens_kappa(d, "ra", "rb")


SQL_DIST_DRIFT = f"""
WITH d AS (
  SELECT CASE WHEN event_id % 2 = 0 THEN 'a' ELSE 'b' END AS side,
         {_cents_sql('value')}
           + CASE WHEN event_id % 2 = 1 AND event_type = 'purchase'
                  THEN 500 ELSE 0 END AS v
  FROM events WHERE value IS NOT NULL),
base AS (SELECT v,
                CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END)
                     AS BIGINT) AS ca,
                CAST(sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END)
                     AS BIGINT) AS cb
         FROM d GROUP BY 1),
cum AS (SELECT v, ca, cb,
               sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                   AS cuma,
               sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                   AS cumb,
               sum(ca) OVER () AS na, sum(cb) OVER () AS nb,
               coalesce(lead(v) OVER (ORDER BY v) - v, 0) AS gap
        FROM base)
SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
       CAST(sum(abs(cuma * nb - cumb * na) * gap) AS BIGINT)
           AS emd_num,
       CAST(CASE WHEN max(na) > 0 AND max(nb) > 0 THEN
         floor(CAST(sum(abs(cuma * nb - cumb * na) * gap) AS DOUBLE)
               / (CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE))
               * 1000.0 + 0.5)
       END AS BIGINT) AS emd_milli
FROM cum
"""


@gate(SQL_DIST_DRIFT)
def q_dist_drift(spark, sf_dir):
    """Snapshot drift (stats.emd_1d): exact Wasserstein-1 between even
    event values (side a) and odd ones with purchases shifted +5.00
    (side b) — the numerator pure int64 over the merged value grid,
    one final double for milli units. Oracle re-derives CDFs and gaps
    with its own windows."""
    from ...operators import stats as st

    ev = _t(spark, sf_dir, "events")
    cents = _cents("value")
    d = ev.where(F.col("value").isNotNull()).select(
        F.when(F.col("event_id") % 2 == 0, F.lit("a"))
        .otherwise(F.lit("b")).alias("side"),
        (cents + F.when((F.col("event_id") % 2 == 1)
                        & (F.col("event_type") == "purchase"),
                        F.lit(500)).otherwise(F.lit(0))).alias("v"))
    return st.emd_1d(d, "side", "v")


SQL_SPRT_MONITOR = f"""
WITH ev AS (SELECT event_type, ts, event_id,
                   CASE WHEN {_cents_sql('value')} >= 3500
                        THEN 1 ELSE 0 END AS pos
            FROM events WHERE value IS NOT NULL),
src AS (
  SELECT event_type AS k, ts, pos FROM ev
  UNION ALL
  SELECT 'biased_up', ts, pos FROM ev
  WHERE pos = 1 OR event_id % 2 = 0
  UNION ALL
  SELECT 'biased_down', ts, pos FROM ev
  WHERE pos = 0 OR event_id % 2 = 0
  UNION ALL
  SELECT 'balanced', ts, CAST(event_id % 2 AS INT) FROM ev),
daily AS (SELECT k, epoch_us(ts) // 86400000000 AS d,
                 CAST(sum(pos) AS BIGINT) AS p,
                 CAST(count(*) - sum(pos) AS BIGINT) AS ng
          FROM src GROUP BY 1, 2),
cum AS (SELECT k, d,
               sum(p * 200671 + ng * (-200671)) OVER (
                 PARTITION BY k ORDER BY d ROWS UNBOUNDED PRECEDING)
                   AS llr
        FROM daily),
hit AS (SELECT k, d, llr,
               CASE WHEN llr >= 2944439 THEN 1
                    WHEN llr <= -2944439 THEN -1 ELSE 0 END AS h
        FROM cum),
agg AS (SELECT k, CAST(count(*) AS BIGINT) AS n_days,
               CAST(max_by(llr, d) AS BIGINT) AS llr_final_micro,
               CAST(min(CASE WHEN h <> 0 THEN d END) AS BIGINT)
                   AS decided_day
        FROM hit GROUP BY 1)
SELECT agg.k, n_days, llr_final_micro,
       CAST(coalesce(
         (SELECT h FROM hit WHERE hit.k = agg.k
          AND hit.d = agg.decided_day), 0) AS BIGINT) AS decision,
       decided_day
FROM agg
"""


@gate(SQL_SPRT_MONITOR)
def q_sprt_monitor(spark, sf_dir):
    """Sequential A/B monitor (stats.sprt_monitor): H0 p=0.45 vs H1
    p=0.55 over the daily value>=50 rate — natural event types random-
    walk, two derived keys with 2:1 outcome filtering cross the Wald
    boundaries early. LLR increments and boundaries are shared micro
    constants; oracle re-derives daily cumsums and the first crossing
    with its own windows."""
    from ...operators import stats as st

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    pos = (_cents("value") >= 3500).cast("int")
    base = ev.select(F.col("event_type").alias("k"), "ts",
                     pos.alias("pos"), "event_id")
    up = (base.where((F.col("pos") == 1) | (F.col("event_id") % 2 == 0))
          .select(F.lit("biased_up").alias("k"), "ts", "pos"))
    down = (base.where((F.col("pos") == 0)
                       | (F.col("event_id") % 2 == 0))
            .select(F.lit("biased_down").alias("k"), "ts", "pos"))
    # perfectly alternating outcomes: |LLR| never leaves the band ->
    # the still-running (decision 0) branch provably fires
    bal = base.select(F.lit("balanced").alias("k"), "ts",
                      (F.col("event_id") % 2).cast("int").alias("pos"))
    allk = (base.select("k", "ts", "pos")
            .unionAll(up).unionAll(down).unionAll(bal))
    return st.sprt_monitor(allk, "k", "ts", "pos",
                           llr_pos_micro=200671,
                           llr_neg_micro=-200671,
                           boundary_micro=2944439)


SQL_HURST = """
WITH daily AS (
  SELECT event_type AS k, epoch_us(ts) // 86400000000 AS d,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
sp AS (SELECT k, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
grid AS (SELECT sp.k, sp.d0, sp.d0 + u.i AS d
         FROM sp, UNNEST(range(d1 - d0 + 1)) AS u(i)),
cd AS (SELECT g.k, g.d0, g.d, coalesce(dl.c, 0) AS c
       FROM grid g LEFT JOIN daily dl ON dl.k = g.k AND dl.d = g.d),
bk AS (SELECT k, m.m, (d - d0) // m.m AS b, CAST(sum(c) AS BIGINT) AS x
       FROM cd, UNNEST([1, 2, 4, 8]) AS m(m)
       GROUP BY 1, 2, 3),
v AS (SELECT k, m, CAST(count(*) AS BIGINT) AS nb,
             CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(x * x) AS BIGINT) AS ss
      FROM bk GROUP BY 1, 2),
pts AS (SELECT k,
  CAST(floor(ln(CAST(m AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS lx,
  CAST(floor(ln(CAST(nb * ss - s * s AS DOUBLE)
              / CAST(nb * nb AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
      AS ly
  FROM v WHERE nb * ss - s * s > 0),
mm AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(lx) AS BIGINT) AS sx,
              CAST(sum(ly) AS BIGINT) AS sy,
              CAST(sum(lx * ly) AS BIGINT) AS sxy,
              CAST(sum(lx * lx) AS BIGINT) AS sxx
       FROM pts GROUP BY 1)
SELECT k AS event_type, n AS n_scales,
       CAST(CASE WHEN n * sxx - sx * sx > 0 THEN
         floor(CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) * 1000.0 + 0.5)
       END AS BIGINT) AS slope_milli,
       CAST(CASE WHEN n * sxx - sx * sx > 0 THEN
         floor(CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) * 500.0 + 0.5)
       END AS BIGINT) AS h_milli
FROM mm
"""


@gate(SQL_HURST)
def q_hurst(spark, sf_dir):
    """Traffic self-similarity (stats.hurst_variance_scaling): per-key
    Hurst exponent from bucket-sum variances at scales 1/2/4/8 days —
    per-(key, scale) ln(var) micro-quantized before the per-key OLS.
    Oracle mirrors grid, buckets, variance rationals and the fit."""
    from ...operators import stats as st

    ev = _t(spark, sf_dir, "events")
    return st.hurst_variance_scaling(ev, scales=(1, 2, 4, 8))


SQL_KS_TEST = f"""
WITH d AS (
  SELECT CASE WHEN event_id % 2 = 0 THEN 'a' ELSE 'b' END AS side,
         {_cents_sql('value')}
           + CASE WHEN event_id % 2 = 1 AND event_type = 'purchase'
                  THEN 500 ELSE 0 END AS v
  FROM events WHERE value IS NOT NULL),
base AS (SELECT v,
                CAST(sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END)
                     AS BIGINT) AS ca,
                CAST(sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END)
                     AS BIGINT) AS cb
         FROM d GROUP BY 1),
cum AS (SELECT
          sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cuma,
          sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumb,
          sum(ca) OVER () AS na, sum(cb) OVER () AS nb
        FROM base),
agg AS (SELECT CAST(max(na) AS BIGINT) AS n_a,
               CAST(max(nb) AS BIGINT) AS n_b,
               CAST(max(abs(cuma * nb - cumb * na)) AS BIGINT) AS d_num
        FROM cum)
SELECT n_a, n_b, d_num,
       CAST(CASE WHEN n_a > 0 AND n_b > 0 THEN
         floor(CAST(d_num AS DOUBLE)
               / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
               * 1000.0 + 0.5) END AS BIGINT) AS d_milli,
       CAST(CASE WHEN n_a > 0 AND n_b > 0 THEN
         CASE WHEN CAST(d_num AS DOUBLE)
                   / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                   > 1358.0 / 1000.0
                     * sqrt(CAST(n_a + n_b AS DOUBLE)
                            / (CAST(n_a AS DOUBLE)
                               * CAST(n_b AS DOUBLE)))
              THEN 1 ELSE 0 END END AS INT) AS reject
FROM agg
"""


@gate(SQL_KS_TEST)
def q_ks_test(spark, sf_dir):
    """Two-sample KS (stats.ks_test): the dist_drift fixture's
    even/odd-with-shifted-purchases split — exact integer D numerator,
    95% decision as one mirrored double comparison."""
    from ...operators import stats as st

    ev = _t(spark, sf_dir, "events")
    cents = _cents("value")
    d = ev.where(F.col("value").isNotNull()).select(
        F.when(F.col("event_id") % 2 == 0, F.lit("a"))
        .otherwise(F.lit("b")).alias("side"),
        (cents + F.when((F.col("event_id") % 2 == 1)
                        & (F.col("event_type") == "purchase"),
                        F.lit(500)).otherwise(F.lit(0))).alias("v"))
    return st.ks_test(d, "side", "v")


SQL_FDR_BH = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN (doc_id % 50) * 10
              ELSE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)
                   || ':p'), 1, 15)) AS BIGINT) % 1000000
         END AS p_micro
  FROM documents),
rk AS (SELECT doc_id, p_micro,
              CAST(row_number() OVER (ORDER BY p_micro, doc_id)
                   AS BIGINT) AS rank,
              count(*) OVER () AS m
       FROM d),
cut AS (SELECT max(CASE WHEN p_micro * m <= rank * 50000
                        THEN rank ELSE 0 END) AS k_max
        FROM rk)
SELECT doc_id, p_micro, rank,
       CAST(CASE WHEN rank <= cut.k_max THEN 1 ELSE 0 END AS INT)
           AS rejected
FROM rk, cut
"""


@gate(SQL_FDR_BH)
def q_fdr_bh(spark, sf_dir):
    """Multiple-testing correction (stats.fdr_bh): md5-uniform
    p-values with every 13th document's replaced by a tiny one — BH
    step-up at alpha 0.05 rejects the planted cluster plus whatever
    uniform stragglers clear the ladder; decision fully integer
    (p·m <= rank·alpha cross-multiplied). Oracle re-derives the ranked
    ladder and cutoff."""
    from ...operators import stats as st

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    h = (F.conv(F.substring(F.md5(F.concat(did.cast("string"),
                                           F.lit(":p"))), 1, 15),
                16, 10).cast("bigint") % 1_000_000)
    p = F.when(did % 13 == 0, (did % 50) * 10).otherwise(h)
    d = docs.select("doc_id", p.cast("bigint").alias("p_micro"))
    return st.fdr_bh(d, "doc_id", "p_micro", alpha_ppm=50_000)


SQL_CORR_MATRIX = f"""
WITH d AS (
  SELECT {_cents_sql('value')} AS v_cents,
         CAST(floor({_cents_sql('value')} / 2) AS BIGINT) AS v_half,
         epoch_us(ts) // 86400000000 - 19700 AS day_off,
         event_id % 97 AS em
  FROM events WHERE value IS NOT NULL
    AND ts IS NOT NULL AND event_id IS NOT NULL),
pairs AS (
  SELECT 'v_cents' AS col_a, 'v_half' AS col_b,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v_cents) AS BIGINT) AS sa,
         CAST(sum(v_half) AS BIGINT) AS sb,
         CAST(sum(v_cents * v_cents) AS BIGINT) AS qa,
         CAST(sum(v_half * v_half) AS BIGINT) AS qb,
         CAST(sum(v_cents * v_half) AS BIGINT) AS x FROM d
  UNION ALL
  SELECT 'v_cents', 'day_off', count(*), sum(v_cents), sum(day_off),
         sum(v_cents * v_cents), sum(day_off * day_off),
         sum(v_cents * day_off) FROM d
  UNION ALL
  SELECT 'v_cents', 'em', count(*), sum(v_cents), sum(em),
         sum(v_cents * v_cents), sum(em * em), sum(v_cents * em) FROM d
  UNION ALL
  SELECT 'v_half', 'day_off', count(*), sum(v_half), sum(day_off),
         sum(v_half * v_half), sum(day_off * day_off),
         sum(v_half * day_off) FROM d
  UNION ALL
  SELECT 'v_half', 'em', count(*), sum(v_half), sum(em),
         sum(v_half * v_half), sum(em * em), sum(v_half * em) FROM d
  UNION ALL
  SELECT 'day_off', 'em', count(*), sum(day_off), sum(em),
         sum(day_off * day_off), sum(em * em), sum(day_off * em)
  FROM d)
SELECT col_a, col_b, n,
       CAST(CASE WHEN n * qa - sa * sa > 0 AND n * qb - sb * sb > 0
                 THEN floor(CAST(n * x - sa * sb AS DOUBLE)
                      / sqrt(CAST(n * qa - sa * sa AS DOUBLE)
                             * CAST(n * qb - sb * sb AS DOUBLE))
                      * 1000.0 + 0.5)
            END AS BIGINT) AS r_milli
FROM pairs
"""


@gate(SQL_CORR_MATRIX)
def q_corr_matrix(spark, sf_dir):
    """EDA correlation matrix (stats.corr_matrix): all six Pearson
    pairs over four event features in ONE aggregate pass — the
    engineered v_half pair pins r≈1000, the rest hover near 0. Oracle
    re-derives every pair's moments independently."""
    from ...operators import stats as st

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    d = ev.select(
        _cents("value").alias("v_cents"),
        F.floor(_cents("value") / 2).cast("bigint").alias("v_half"),
        (F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000")
         - 19700).alias("day_off"),
        (F.col("event_id") % 97).alias("em"))
    return st.corr_matrix(d, ["v_cents", "v_half", "day_off", "em"])


SQL_OVERDISPERSION = """
WITH daily AS (SELECT event_type AS k,
                      epoch_us(ts) // 86400000000 AS d,
                      CAST(count(*) AS BIGINT) AS c
               FROM events GROUP BY 1, 2),
sp AS (SELECT k, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
grid AS (SELECT sp.k, d1 - d0 + 1 AS n, d0 + u.i AS d
         FROM sp, UNNEST(range(d1 - d0 + 1)) AS u(i)),
cd AS (SELECT g.k, g.n, coalesce(dl.c, 0) AS c
       FROM grid g LEFT JOIN daily dl ON dl.k = g.k AND dl.d = g.d),
agg AS (SELECT k, CAST(max(n) AS BIGINT) AS n_days,
               CAST(sum(c) AS BIGINT) AS s,
               CAST(sum(c * c) AS BIGINT) AS q
        FROM cd GROUP BY 1)
SELECT k AS event_type, n_days, s AS s_total,
       CAST(CASE WHEN s > 0 THEN
         floor(CAST(n_days * q - s * s AS DOUBLE)
               / CAST(n_days * s AS DOUBLE) * 1000.0 + 0.5)
       END AS BIGINT) AS d_milli,
       CAST(CASE WHEN s > 0 THEN
         CASE WHEN (n_days * q - s * s) * 1000 > 1500 * n_days * s
              THEN 1 ELSE 0 END
       END AS INT) AS overdispersed
FROM agg
"""


@gate(SQL_OVERDISPERSION)
def q_overdispersion(spark, sf_dir):
    """Burstiness screen (stats.dispersion_index): variance-to-mean of
    daily counts per key over the zero-filled grid — exact rational,
    integer cross-multiplied flag at D > 1.5. Oracle mirrors the
    moments."""
    from ...operators import stats as st

    ev = _t(spark, sf_dir, "events")
    return st.dispersion_index(ev, over_milli=1500)


SQL_ODDS_RATIO = f"""
WITH d AS (SELECT CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS e,
                  CASE WHEN {_cents_sql('value')} >= 3500
                       THEN 1 ELSE 0 END AS y
           FROM events WHERE value IS NOT NULL),
agg AS (SELECT
  CAST(sum(CASE WHEN e = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
  CAST(sum(CASE WHEN e = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
  CAST(sum(CASE WHEN e = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
  CAST(sum(CASE WHEN e = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM d)
SELECT a, b, c, d,
       CAST(CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
         floor(CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE)
               * 1000.0 + 0.5) END AS BIGINT) AS or_milli,
       CAST(CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
         floor(ln(CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE))
               * 1000000.0 + 0.5) END AS BIGINT) AS ln_or_micro,
       CAST(CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
         floor((ln(CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE))
                - 1960.0 / 1000.0
                  * sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
                         + 1.0 / CAST(c AS DOUBLE)
                         + 1.0 / CAST(d AS DOUBLE)))
               * 1000000.0 + 0.5) END AS BIGINT) AS lo_micro,
       CAST(CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
         floor((ln(CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE))
                + 1960.0 / 1000.0
                  * sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
                         + 1.0 / CAST(c AS DOUBLE)
                         + 1.0 / CAST(d AS DOUBLE)))
               * 1000000.0 + 0.5) END AS BIGINT) AS hi_micro
FROM agg
"""


@gate(SQL_ODDS_RATIO)
def q_odds_ratio(spark, sf_dir):
    """Effect size (stats.odds_ratio): odds ratio of high value given
    even event_id with the Woolf log-CI — the magnitude companion of
    chi2_assoc. All four 2x2 cells exact; OR/CI one mirrored double
    chain."""
    from ...operators import stats as st

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    d = ev.select((F.col("event_id") % 2 == 0).cast("int").alias("e"),
                  (_cents("value") >= 3500).cast("int").alias("y"))
    return st.odds_ratio(d, "e", "y")


SQL_CRAMERS_V = """
WITH base AS (SELECT lang AS a, n_chars // 200 AS b FROM documents
              WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS o
          FROM base GROUP BY 1, 2),
ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS rr FROM cells GROUP BY 1),
cb AS (SELECT b, CAST(sum(o) AS BIGINT) AS cc FROM cells GROUP BY 1),
nn AS (SELECT CAST(sum(o) AS BIGINT) AS n,
              CAST(count(DISTINCT a) AS BIGINT) AS r,
              CAST(count(DISTINCT b) AS BIGINT) AS c
       FROM cells),
j AS (SELECT cells.o, ra.rr, cb.cc, nn.n, nn.r, nn.c
      FROM cells JOIN ra USING (a) JOIN cb USING (b), nn),
t AS (SELECT n, r, c,
             CAST(sum(CAST(floor(
               CAST(o * n - rr * cc AS DOUBLE)
               * CAST(o * n - rr * cc AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(rr AS DOUBLE)
                  * CAST(cc AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS t_sum,
             CAST(sum(rr * cc) AS BIGINT) AS src
      FROM j GROUP BY 1, 2, 3),
f AS (SELECT n, r, c,
             t_sum + CAST(floor((CAST(n AS DOUBLE)
                    - CAST(src AS DOUBLE) / CAST(n AS DOUBLE))
                    * 1000000.0 + 0.5) AS BIGINT) AS chi2_micro
      FROM t)
SELECT n, r, c, chi2_micro,
       CAST(CASE WHEN least(r - 1, c - 1) > 0 AND n > 0 THEN
         floor(sqrt(CAST(chi2_micro AS DOUBLE) / 1000000.0
                    / CAST(n * least(r - 1, c - 1) AS DOUBLE))
               * 1000.0 + 0.5) END AS BIGINT) AS v_milli
FROM f
"""


@gate(SQL_CRAMERS_V)
def q_cramers_v(spark, sf_dir):
    """Association strength (stats.cramers_v): Cramér's V between
    language and the 200-char length bucket — per-observed-cell chi2
    terms micro-quantized before the sum, zero cells folded via the
    exact integer sum(R·C) identity. Oracle mirrors both parts."""
    from ...operators import stats as st

    docs = _t(spark, sf_dir, "documents")
    d = (docs.where(F.col("lang").isNotNull()
                    & F.col("n_chars").isNotNull())
         .select(F.col("lang").alias("a"),
                 F.expr("n_chars div 200").alias("b")))
    return st.cramers_v(d, "a", "b")


SQL_WELCH_T = f"""
WITH d AS (
  SELECT CASE WHEN event_id % 2 = 0 THEN 'a' ELSE 'b' END AS side,
         {_cents_sql('value')}
           + CASE WHEN event_id % 2 = 1 AND event_type = 'purchase'
                  THEN 500 ELSE 0 END AS v
  FROM events WHERE value IS NOT NULL),
m AS (SELECT side, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS BIGINT) AS sv,
             CAST(sum(v * v) AS BIGINT) AS q
      FROM d GROUP BY 1),
j AS (SELECT a.n AS na, a.sv AS sa, a.q AS qa,
             b.n AS nb, b.sv AS sb, b.q AS qb
      FROM (SELECT * FROM m WHERE side = 'a') a,
           (SELECT * FROM m WHERE side = 'b') b),
c AS (SELECT na, nb, sa, sb, qa, qb,
             CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
             CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb
      FROM j),
v AS (SELECT *,
             (CAST(qa AS DOUBLE) - CAST(na AS DOUBLE) * ma * ma)
               / (CAST(na AS DOUBLE) - 1.0) / CAST(na AS DOUBLE) AS sea,
             (CAST(qb AS DOUBLE) - CAST(nb AS DOUBLE) * mb * mb)
               / (CAST(nb AS DOUBLE) - 1.0) / CAST(nb AS DOUBLE) AS seb
      FROM c)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST(floor(ma * 1000.0 + 0.5) AS BIGINT) AS mean_a_milli,
       CAST(floor(mb * 1000.0 + 0.5) AS BIGINT) AS mean_b_milli,
       CAST(CASE WHEN na > 1 AND nb > 1 THEN
         floor((ma - mb) / sqrt(sea + seb) * 1000.0 + 0.5)
       END AS BIGINT) AS t_milli,
       CAST(CASE WHEN na > 1 AND nb > 1 THEN
         floor((sea + seb) * (sea + seb)
               / (sea * sea / (CAST(na AS DOUBLE) - 1.0)
                  + seb * seb / (CAST(nb AS DOUBLE) - 1.0))
               * 1000.0 + 0.5)
       END AS BIGINT) AS df_milli,
       CAST(CASE WHEN na > 1 AND nb > 1 THEN
         CASE WHEN abs((ma - mb) / sqrt(sea + seb)) > 1960.0 / 1000.0
              THEN 1 ELSE 0 END
       END AS INT) AS reject
FROM v
"""


@gate(SQL_WELCH_T)
def q_welch_t(spark, sf_dir):
    """Parametric mean test (stats.welch_t): the dist_drift fixture's
    sides through Welch's t — exact per-side int64 moments, t/df one
    mirrored double chain."""
    from ...operators import stats as st

    ev = _t(spark, sf_dir, "events")
    cents = _cents("value")
    d = ev.where(F.col("value").isNotNull()).select(
        F.when(F.col("event_id") % 2 == 0, F.lit("a"))
        .otherwise(F.lit("b")).alias("side"),
        (cents + F.when((F.col("event_id") % 2 == 1)
                        & (F.col("event_type") == "purchase"),
                        F.lit(500)).otherwise(F.lit(0))).alias("v"))
    return st.welch_t(d, "side", "v")


SQL_CAPTURE_RECAPTURE = """
WITH d AS (
  SELECT CASE WHEN CAST(concat('0x',
           substr(md5(CAST(doc_id AS VARCHAR) || ':cap_a'), 1, 15))
           AS BIGINT) % 1000000 < 400000 THEN 1 ELSE 0 END AS ia,
         CASE WHEN CAST(concat('0x',
           substr(md5(CAST(doc_id AS VARCHAR) || ':cap_b'), 1, 15))
           AS BIGINT) % 1000000 < 400000 THEN 1 ELSE 0 END AS ib
  FROM documents),
agg AS (SELECT CAST(sum(ia) AS BIGINT) AS n_a,
               CAST(sum(ib) AS BIGINT) AS n_b,
               CAST(sum(ia * ib) AS BIGINT) AS n_both
        FROM d)
SELECT n_a, n_b, n_both,
       CAST(CASE WHEN n_both > 0 THEN n_a * n_b // n_both END
            AS BIGINT) AS n_hat,
       CAST((n_a + 1) * (n_b + 1) // (n_both + 1) - 1 AS BIGINT)
           AS n_hat_chapman
FROM agg
"""


@gate(SQL_CAPTURE_RECAPTURE)
def q_capture_recapture(spark, sf_dir):
    """Population estimation (stats.capture_recapture): two
    independent deterministic ~40% samples of the documents table —
    Lincoln-Petersen and Chapman estimates recover the true corpus
    size from the overlap. Oracle mirrors the flags and closed
    forms."""
    from ...operators import stats as st

    docs = _t(spark, sf_dir, "documents")

    def flag(salt):
        h = F.conv(F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"),
                           F.lit(salt))), 1, 15), 16, 10) \
            .cast("bigint") % 1_000_000
        return (h < 400_000).cast("int")

    d = docs.select(flag(":cap_a").alias("in_a"),
                    flag(":cap_b").alias("in_b"))
    return st.capture_recapture(d, "in_a", "in_b")
