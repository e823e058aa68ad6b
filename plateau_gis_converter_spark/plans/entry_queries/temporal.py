"""Temporal gates (``operators/temporal.py``): as-of and range joins,
sessions, funnels, cohorts, rolling windows, interval unions, survival
and per-user activity patterns."""

from __future__ import annotations

from pyspark.sql import functions as F

from ...functions import geo
from ._common import _EV_LAT_SQL, _EV_LNG_SQL, _t, gate


SQL_ASOF_JOIN = """
WITH marks AS (
  SELECT user_id, ts, max(event_id) AS mark_id, max(value) AS mark_value
  FROM events WHERE event_id % 5 = 0 GROUP BY user_id, ts),
l AS (SELECT event_id, user_id, ts FROM events WHERE event_id % 5 <> 0)
SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
       CAST(coalesce(m.mark_id, -1) AS BIGINT) AS mark_id,
       CAST(coalesce(epoch_us(m.ts), -1) AS BIGINT) AS mark_ts_us,
       coalesce(m.mark_value, -1.0) AS mark_value
FROM l ASOF LEFT JOIN marks m ON l.user_id = m.user_id AND l.ts >= m.ts
"""


@gate(SQL_ASOF_JOIN)
def q_asof_join(spark, sf_dir):
    """As-of join (operators/temporal.asof_join): every non-mark event gets
    the most recent mark row (event_id % 5 == 0, unique per (user, ts)) at
    or before its timestamp, per user — one keyed window shuffle, zero
    Python, no inequality join. Inclusive on equal timestamps. Oracle:
    DuckDB's NATIVE ``ASOF LEFT JOIN`` — an independent engine
    implementation of the same semantics, not a mirrored formulation.
    No-match rows are coalesced to sentinels (-1 / -1.0) on both sides so
    the compare never depends on engine null representation."""
    from ...operators import temporal as tp

    e = _t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp"))
    marks = (e.where(F.col("event_id") % 5 == 0)
             .groupBy("user_id", "ts")
             .agg(F.max("event_id").alias("mark_id"),
                  F.max("value").alias("mark_value")))
    lefts = e.where(F.col("event_id") % 5 != 0).select(
        "event_id", "user_id", "ts")
    j = tp.asof_join(lefts, marks, on=["user_id"],
                     values=["mark_id", "mark_value"])
    return j.select(
        "event_id", "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.coalesce(F.col("mark_id_asof"), F.lit(-1)).cast("bigint")
        .alias("mark_id"),
        F.coalesce(F.unix_micros("matched_ts_asof"), F.lit(-1))
        .cast("bigint").alias("mark_ts_us"),
        F.coalesce(F.col("mark_value_asof"), F.lit(-1.0)).alias("mark_value"))


SQL_RANGE_JOIN = """
WITH iv AS (
  SELECT event_id AS interval_id, epoch_us(ts) AS s_us,
         epoch_us(ts) + (1 + event_id % 50) * 60000000 AS e_us
  FROM events WHERE event_id % 7 = 0),
p AS (SELECT event_id, epoch_us(ts) AS t_us
      FROM events WHERE event_id % 7 <> 0)
SELECT iv.interval_id,
       CAST(count(p.event_id) AS BIGINT) AS n_pts,
       CAST(coalesce(sum(p.event_id), 0) AS BIGINT) AS sum_ids
FROM iv LEFT JOIN p ON p.t_us >= iv.s_us AND p.t_us < iv.e_us
GROUP BY iv.interval_id
"""


@gate(SQL_RANGE_JOIN)
def q_range_join(spark, sf_dir):
    """Interval containment join (operators/temporal.interval_join_points):
    mark events (event_id % 7 == 0) open a [ts, ts + (1 + id%50) min)
    window; every other event is matched by containment via the BINNED
    equi-join (bin width 1 h >= max interval length, so each interval
    covers <= 2 bins) — no O(n*m) inequality join, one equi-join shuffle.
    Aggregated per interval; empty intervals kept with zeros. Oracle: the
    plain inequality join DuckDB executes natively (its IEJoin)."""
    from ...operators import temporal as tp

    e = _t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp"))
    iv = (e.where(F.col("event_id") % 7 == 0)
          .select(F.col("event_id").alias("interval_id"),
                  F.col("ts").alias("start_ts"),
                  F.timestamp_micros(
                      F.unix_micros("ts") +
                      (F.lit(1) + F.col("event_id") % 50) * F.lit(60_000_000))
                  .alias("end_ts")))
    pts = e.where(F.col("event_id") % 7 != 0).select("event_id", "ts")
    matched = tp.interval_join_points(
        pts, iv, pt_ts="ts", start="start_ts", end="end_ts",
        bin_width_us=3_600_000_000)
    agg = (matched.groupBy("interval_id")
           .agg(F.count(F.lit(1)).alias("n_pts"),
                F.sum("event_id").alias("sum_ids")))
    return (iv.select("interval_id").join(agg, "interval_id", "left")
            .select("interval_id",
                    F.coalesce(F.col("n_pts"), F.lit(0)).cast("bigint")
                    .alias("n_pts"),
                    F.coalesce(F.col("sum_ids"), F.lit(0)).cast("bigint")
                    .alias("sum_ids")))


SQL_FUNNEL_STAGES = """
WITH u AS (SELECT DISTINCT user_id FROM events),
s1 AS (SELECT user_id, min(ts) AS t1 FROM events
       WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT e.user_id, min(e.ts) AS t2
       FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
       WHERE e.event_type = 'signup' GROUP BY 1),
s3 AS (SELECT e.user_id, min(e.ts) AS t3
       FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
       WHERE e.event_type = 'purchase' GROUP BY 1)
SELECT u.user_id,
  CAST(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage,
  epoch_us(coalesce(t3, t2, t1)) AS completed_ts_us
FROM u LEFT JOIN s1 ON u.user_id = s1.user_id
       LEFT JOIN s2 ON u.user_id = s2.user_id
       LEFT JOIN s3 ON u.user_id = s3.user_id
"""


@gate(SQL_FUNNEL_STAGES)
def q_funnel_stages(spark, sf_dir):
    """Ordered-funnel analysis (temporal.funnel_stages): per user, how far
    through view -> signup -> purchase (strictly increasing timestamps,
    other events allowed in between); earliest-completion recurrence.
    Oracle re-derives the per-step min-ts chain with plain SQL joins."""
    from ...operators import temporal as tp

    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp"))  # NTZ -> LTZ (UTC session)
    return tp.funnel_stages(ev, ["view", "signup", "purchase"])


SQL_COHORT_RETENTION = """
WITH f AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
a AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS w
  FROM events WHERE user_id IS NOT NULL)
SELECT f.cohort_week,
       CAST(date_diff('day', f.cohort_week, a.w) // 7 AS BIGINT)
           AS week_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM a JOIN f USING (user_id)
GROUP BY 1, 2
"""


@gate(SQL_COHORT_RETENTION)
def q_cohort_retention(spark, sf_dir):
    """Weekly cohort-retention matrix (temporal.cohort_retention):
    cohort = Monday-week of each user's first event; per (cohort_week,
    week_offset) the distinct active cohort members. Oracle re-derives
    first-seen + distinct user-weeks independently."""
    from ...operators import temporal as tp

    ev = _t(spark, sf_dir, "events")
    return tp.cohort_retention(ev)


SQL_DAILY_LOCF = """
WITH ls AS MATERIALIZED (
  SELECT user_id AS key, date_trunc('day', ts) AS day, event_type AS state
  FROM (SELECT user_id, ts, event_id, event_type, row_number() OVER (
          PARTITION BY user_id, date_trunc('day', ts)
          ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
  WHERE rn = 1),
span AS (SELECT key, min(day) AS d0, max(day) AS d1 FROM ls GROUP BY key),
grid AS (SELECT key, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
         FROM span)
SELECT g.key, g.day,
       last_value(l.state IGNORE NULLS) OVER (
         PARTITION BY g.key ORDER BY g.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS state,
       l.state IS NULL AS is_gap
FROM grid g LEFT JOIN ls l ON g.key = l.key AND g.day = l.day
"""


@gate(SQL_DAILY_LOCF)
def q_daily_locf(spark, sf_dir):
    """Daily last-state snapshot grid with LOCF gap fill
    (temporal.daily_state_locf): per user, one row per calendar day
    from first to last active day carrying the day's last event_type;
    inactive days carry the prior state forward (is_gap marks them).
    Null user_ids filtered on both sides (cross-engine null-key
    canonicalization). Oracle: row_number day-last + generate_series
    grid + last_value IGNORE NULLS."""
    from ...operators import temporal as tp

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull()))
    return tp.daily_state_locf(ev)


SQL_PEAK_CONCURRENCY = """
WITH iv AS MATERIALIZED (
  SELECT event_type AS key, ts AS s,
         ts + to_minutes(1 + event_id % 7) AS e
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
pt AS (SELECT key, s AS t, 1 AS delta FROM iv
       UNION ALL SELECT key, e, -1 FROM iv),
run AS (SELECT key, t, sum(delta) OVER (
          PARTITION BY key ORDER BY t, delta
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS load
        FROM pt),
mx AS (SELECT key, t, load, max(load) OVER (PARTITION BY key) AS peak
       FROM run)
SELECT key, CAST(min(peak) AS BIGINT) AS peak, min(t) AS first_peak_ts
FROM mx WHERE load = peak GROUP BY key
"""


@gate(SQL_PEAK_CONCURRENCY)
def q_peak_concurrency(spark, sf_dir):
    """Per-event-type peak interval concurrency (temporal.
    peak_concurrency): each event holds a (1 + event_id % 7)-minute
    active interval; the sweep line (+1 start / -1 end, departures
    before arrivals at ties — end-exclusive) yields the peak load and
    its first instant. Oracle replays the identical sweep in SQL."""
    from ...operators import temporal as tp

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("ts").isNotNull() & F.col("event_type").isNotNull()))
    iv = ev.select(
        "event_type", F.col("ts").alias("s"),
        F.expr("timestampadd(MINUTE, CAST(1 + event_id % 7 AS INT), ts)")
        .alias("e"))
    return tp.peak_concurrency(iv, "event_type", "s", "e")


SQL_ACTIVE_TIME_UNION = """
WITH iv AS MATERIALIZED (
  SELECT user_id AS key, epoch_us(ts) AS s,
         epoch_us(ts + to_minutes(1 + event_id % 7)) AS e
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
fl AS (
  SELECT key, s, e,
         CASE WHEN max(e) OVER (PARTITION BY key ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR s > max(e) OVER (PARTITION BY key ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS ni
  FROM iv),
isl AS (
  SELECT key, s, e, sum(ni) OVER (PARTITION BY key ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM fl),
per AS (SELECT key, island, max(e) - min(s) AS ext
        FROM isl GROUP BY key, island)
SELECT key, CAST(sum(ext) AS BIGINT) AS covered_us,
       CAST(count(*) AS BIGINT) AS n_islands
FROM per GROUP BY key
"""


@gate(SQL_ACTIVE_TIME_UNION)
def q_active_time_union(spark, sf_dir):
    """Per-user UNION length of active intervals (temporal.
    interval_union_time): each event holds (1 + event_id % 7) minutes;
    overlapping holds merge (half-open — touching intervals chain)
    before summing, so double-counted overlap would fail the gate. The
    cumulative-max island trick needs NO interval self-join. Oracle
    replays the identical two windows in SQL."""
    from ...operators import temporal as tp

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull()))
    iv = ev.select(
        "user_id", F.col("ts").alias("s"),
        F.expr("timestampadd(MINUTE, CAST(1 + event_id % 7 AS INT), ts)")
        .alias("e"))
    return tp.interval_union_time(iv, "user_id", "s", "e")


SQL_STAY_POINTS = f"""
WITH trk AS (
  SELECT user_id, ts, event_id,
         CAST(floor({_EV_LNG_SQL} / 120000.0) AS BIGINT) AS cx,
         CAST(floor({_EV_LAT_SQL} / 120000.0) AS BIGINT) AS cy
  FROM events WHERE user_id IS NOT NULL),
flg AS (
  SELECT user_id, ts, event_id, cx, cy,
         CASE WHEN lag(cx) OVER w IS NULL
                OR lag(cx) OVER w <> cx OR lag(cy) OVER w <> cy
              THEN 1 ELSE 0 END AS moved
  FROM trk
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
runs AS (
  SELECT user_id, ts, cx, cy,
         SUM(moved) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS run_id
  FROM flg),
agg AS (
  SELECT user_id, run_id, cx, cy,
         min(ts) AS t_start, max(ts) AS t_end,
         CAST(count(*) AS BIGINT) AS n_events,
         epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
  FROM runs GROUP BY 1, 2, 3, 4)
SELECT user_id, cx, cy, t_start, t_end, n_events,
       CAST(duration_us AS BIGINT) AS duration_us
FROM agg WHERE n_events >= 2 AND duration_us >= 600000000
"""


@gate(SQL_STAY_POINTS)
def q_stay_points(spark, sf_dir):
    """Stay-point detection (temporal.stay_points): each event gets the
    deterministic point derived from event_id, bucketed on a coarse
    120k-µdeg grid; maximal same-cell consecutive runs per user with
    >= 2 events and >= 10 min dwell survive. Null user_ids filtered both
    sides (null-key canonicalization differs cross-engine). Oracle
    re-derives the runs with the same lag/cumsum windows."""
    from ...operators import temporal as tp

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull()))
    lng, lat = geo.point_udeg_cols(F.col("event_id"))
    track = (ev.select("user_id", "ts", "event_id", lng, lat)
             .withColumn("cx", F.floor(F.col("lng_udeg") / 120000)
                         .cast("bigint"))
             .withColumn("cy", F.floor(F.col("lat_udeg") / 120000)
                         .cast("bigint")))
    return tp.stay_points(track, min_events=2,
                          min_duration_us=600_000_000)


SQL_SESSION_TRANSITIONS = """
WITH f AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM f),
t AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id, sess_id
                               ORDER BY ts, event_id) AS prev_state,
         event_type AS next_state
  FROM s),
c AS (
  SELECT prev_state, next_state, CAST(count(*) AS BIGINT) AS n
  FROM t WHERE prev_state IS NOT NULL GROUP BY 1, 2)
SELECT prev_state, next_state, n,
       CAST((1000000 * n) // SUM(n) OVER (PARTITION BY prev_state)
            AS BIGINT) AS prob_ppm
FROM c
"""


@gate(SQL_SESSION_TRANSITIONS)
def q_session_transitions(spark, sf_dir):
    """Markov transition counts between consecutive in-session events
    (temporal.session_transitions): gap-based sessions (30 min), ordered
    (ts, event_id), one (prev, next) groupBy + per-source ppm share via
    integer DIV. Oracle re-derives the session ids and lags with the
    same windows."""
    from ...operators import temporal as tp

    ev = _t(spark, sf_dir, "events")
    return tp.session_transitions(ev)


SQL_ROLLING_ACTIVITY = """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day_num,
         CAST(count(*) AS BIGINT) AS n_day,
         CAST(sum(CAST(floor(value * 1000.0) AS BIGINT)) AS BIGINT)
             AS v_milli_day
  FROM events GROUP BY 1, 2)
SELECT a.event_type, a.day_num, a.n_day, a.v_milli_day,
       CAST(sum(b.n_day) AS BIGINT) AS n_win,
       CAST(sum(b.v_milli_day) AS BIGINT) AS v_milli_win,
       CAST(sum(b.v_milli_day) // sum(b.n_day) AS BIGINT) AS mean_milli_win
FROM daily a JOIN daily b
  ON a.event_type = b.event_type
 AND b.day_num BETWEEN a.day_num - 6 AND a.day_num
GROUP BY 1, 2, 3, 4
"""


@gate(SQL_ROLLING_ACTIVITY)
def q_rolling_activity(spark, sf_dir):
    """Trailing 7-day rolling daily activity per event type
    (temporal.rolling_daily_stats) — the one RANGE-frame window gate
    (rangeBetween over the integer day index; calendar gaps contribute
    nothing, which a rows frame would get wrong). value quantized to
    milli-units per row before any sum. Oracle is the independent
    self-join formulation (b.day BETWEEN a.day-6 AND a.day)."""
    from ...operators import temporal as tp

    ev = _t(spark, sf_dir, "events")
    return tp.rolling_daily_stats(ev, days=7)


SQL_OD_MATRIX = f"""
WITH trk AS (
  SELECT user_id, ts, event_id,
         CAST(floor({_EV_LNG_SQL} / 120000.0) AS BIGINT) AS cx,
         CAST(floor({_EV_LAT_SQL} / 120000.0) AS BIGINT) AS cy
  FROM events WHERE user_id IS NOT NULL),
hops AS (
  SELECT lag(cx) OVER w AS o_cx, lag(cy) OVER w AS o_cy,
         cx AS d_cx, cy AS d_cy
  FROM trk WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT o_cx, o_cy, d_cx, d_cy, CAST(count(*) AS BIGINT) AS n_trips
FROM hops
WHERE o_cx IS NOT NULL AND (o_cx <> d_cx OR o_cy <> d_cy)
GROUP BY 1, 2, 3, 4
"""


@gate(SQL_OD_MATRIX)
def q_od_matrix(spark, sf_dir):
    """Origin-destination flows (temporal.od_matrix): each user's
    consecutive located events contribute one trip between 120k-µdeg
    grid cells (the stay_points grid, so dwells vs moves partition the
    same trajectory); stationary pairs dropped. Oracle re-derives the
    hops with the same per-user lag window."""
    from ...operators import temporal as tp

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull()))
    lng, lat = geo.point_udeg_cols(F.col("event_id"))
    track = (ev.select("user_id", "ts", "event_id", lng, lat)
             .withColumn("cx", F.floor(F.col("lng_udeg") / 120000)
                         .cast("bigint"))
             .withColumn("cy", F.floor(F.col("lat_udeg") / 120000)
                         .cast("bigint")))
    return tp.od_matrix(track)


SQL_COVISIT_PAIRS = """
WITH ev AS (SELECT user_id AS u, event_type AS item, ts, event_id
            FROM events WHERE user_id IS NOT NULL),
brk AS (SELECT u, item, ts, event_id,
        CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
               OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
             THEN 1 ELSE 0 END AS b
        FROM ev WINDOW w AS (PARTITION BY u ORDER BY ts, event_id)),
sess AS (SELECT u, item,
                sum(b) OVER (PARTITION BY u ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
         FROM brk),
items AS (SELECT DISTINCT u, sid, item FROM sess)
SELECT a.item AS item_a, b.item AS item_b,
       CAST(count(*) AS BIGINT) AS n_sessions
FROM items a
JOIN items b ON a.u = b.u AND a.sid = b.sid AND a.item < b.item
GROUP BY 1, 2
HAVING count(*) >= 2
"""


@gate(SQL_COVISIT_PAIRS)
def q_covisit_pairs(spark, sf_dir):
    """Session co-visitation (temporal.covisit_pairs): unordered event-
    type pairs by the number of distinct sessions containing both (gap
    rule shared with the sessionize gate), the item-item collaborative
    filtering primitive. Oracle re-derives sessions with split
    brk/cumsum CTEs and the distinct-pair self-join."""
    from ...operators import temporal as tp

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull()))
    return tp.covisit_pairs(ev, min_sessions=2)


SQL_ROLLING_DISTINCT = """
WITH act AS (SELECT DISTINCT event_type AS k, user_id AS usr,
                    epoch_us(ts) // 86400000000 AS d
             FROM events WHERE user_id IS NOT NULL),
sp AS (SELECT k, min(d) AS d0, max(d) AS d1 FROM act GROUP BY 1),
days AS (SELECT sp.k, d0 + u.i AS day
         FROM sp, UNNEST(range(d1 - d0 + 1)) AS u(i))
SELECT d.k AS event_type, CAST(d.day AS BIGINT) AS day,
       CAST(count(DISTINCT a.usr) AS BIGINT) AS n_users
FROM days d
JOIN act a ON a.k = d.k AND a.d BETWEEN d.day - 6 AND d.day
GROUP BY 1, 2
"""


@gate(SQL_ROLLING_DISTINCT)
def q_rolling_distinct(spark, sf_dir):
    """Exact rolling 7-day active users (temporal.rolling_distinct):
    the cover-explode formulation (active day -> at most 7 covered
    window ends, two distincts, one count) vs the oracle's day-grid x
    BETWEEN count(DISTINCT) — the quadratic-rescan formulation the
    operator exists to avoid."""
    from ...operators import temporal as tp

    ev = _t(spark, sf_dir, "events")
    return tp.rolling_distinct(ev, key_col="event_type",
                               window_days=7)


SQL_SURVIVAL_KM = """
WITH pu AS (SELECT user_id, event_type,
                   min(epoch_us(ts) // 3600000000) AS h0,
                   max(epoch_us(ts) // 3600000000) AS h1
            FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
mx AS (SELECT max(h1) AS hmax FROM pu),
sp AS (SELECT h1 - h0 AS t,
              CASE WHEN h1 < mx.hmax - 24 THEN 1 ELSE 0 END AS e
       FROM pu, mx),
cells AS (SELECT t, CAST(count(*) AS BIGINT) AS c_tot,
                 CAST(sum(e) AS BIGINT) AS d
          FROM sp GROUP BY 1),
cum AS (SELECT t, c_tot, d,
               coalesce(sum(c_tot) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS gone,
               sum(c_tot) OVER () AS n_all
        FROM cells),
tm AS (SELECT t, c_tot, d, n_all - gone AS n_risk,
              CASE WHEN d < n_all - gone THEN
                CAST(floor(ln(1.0 - CAST(d AS DOUBLE)
                     / CAST(n_all - gone AS DOUBLE)) * 1000000.0 + 0.5)
                     AS BIGINT)
              END AS term
       FROM cum),
cv AS (SELECT t, c_tot, d, n_risk,
              max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS dead,
              sum(term) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                  AS ln_s0
       FROM tm)
SELECT CAST(t AS BIGINT) AS t, CAST(n_risk AS BIGINT) AS n_at_risk,
       d AS d_events, CAST(c_tot - d AS BIGINT) AS n_censored,
       CAST(CASE WHEN dead = 0 THEN ln_s0 END AS BIGINT) AS ln_s_micro,
       CAST(CASE WHEN dead = 0 THEN
              floor(exp(CAST(ln_s0 AS DOUBLE) / 1000000.0) * 1000000.0
                    + 0.5)
            ELSE 0 END AS BIGINT) AS s_micro
FROM cv WHERE d > 0
"""


@gate(SQL_SURVIVAL_KM)
def q_survival_km(spark, sf_dir):
    """Kaplan-Meier churn curve (temporal.survival_km): per-user
    first-to-last-activity spans in days; users still active on the
    corpus's final day are CENSORED (evidence, not events). Log-
    survival carried as quantized integer micro-nats; oracle re-derives
    risk sets and the curve with its own windows."""
    from ...operators import temporal as tp

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull()))
    h = F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000")
    per_key = (ev.select("user_id", "event_type", h.alias("h"))
               .groupBy("user_id", "event_type")
               .agg(F.min("h").alias("h0"), F.max("h").alias("h1")))
    mx = per_key.agg(F.max("h1").alias("hmax"))
    spans = (per_key.crossJoin(F.broadcast(mx))
             .select((F.col("h1") - F.col("h0")).alias("duration"),
                     (F.col("h1") < F.col("hmax") - 24).cast("int")
                     .alias("event")))
    return tp.survival_km(spans)


SQL_ATTRIBUTION = """
WITH ev AS (SELECT user_id, ts, event_id, event_type FROM events
            WHERE user_id IS NOT NULL),
car AS (SELECT event_type,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING) AS ch
        FROM ev),
conv AS (SELECT coalesce(ch, 'direct') AS channel FROM car
         WHERE event_type = 'purchase'),
counts AS (SELECT channel, CAST(count(*) AS BIGINT) AS n_conversions
           FROM conv GROUP BY 1),
tot AS (SELECT sum(n_conversions) AS t FROM counts)
SELECT channel, n_conversions,
       CAST(1000000 * n_conversions // tot.t AS BIGINT) AS share_ppm
FROM counts, tot
"""


@gate(SQL_ATTRIBUTION)
def q_attribution(spark, sf_dir):
    """Last-touch attribution (temporal.conversion_attribution): every
    purchase credits the user's latest preceding non-purchase event
    type ('direct' when none) — one ignorenulls window carry, one
    count, integer shares. Oracle re-derives with last_value IGNORE
    NULLS."""
    from ...operators import temporal as tp

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull()))
    return tp.conversion_attribution(ev, conv_type="purchase")


SQL_BOT_SCORES = """
WITH src AS (
  SELECT user_id, epoch_us(ts) AS t, event_id FROM events
  WHERE user_id IS NOT NULL
  UNION ALL
  SELECT 99999, 1700000000000000 + event_id * 60000000, event_id
  FROM events WHERE event_id % 7 = 0),
gaps AS (SELECT user_id AS u,
                (t - lag(t) OVER (PARTITION BY user_id
                                  ORDER BY t, event_id)) // 1000000
                    AS g
         FROM src
         QUALIFY lag(t) OVER (PARTITION BY user_id
                              ORDER BY t, event_id) IS NOT NULL),
cnt AS (SELECT u, g, CAST(count(*) AS BIGINT) AS c
        FROM gaps GROUP BY 1, 2),
agg AS (SELECT u, CAST(sum(c) AS BIGINT) AS n_gaps,
               CAST(count(*) AS BIGINT) AS distinct_gaps,
               CAST(sum(CAST(floor(ln(CAST(c AS DOUBLE))
                    * CAST(c AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS s
        FROM cnt GROUP BY 1)
SELECT u AS user_id, CAST(n_gaps + 1 AS BIGINT) AS n_events, n_gaps,
       distinct_gaps,
       CAST(CAST(floor(ln(CAST(n_gaps AS DOUBLE)) * 1000000.0 + 0.5)
            AS BIGINT) - s // n_gaps AS BIGINT) AS entropy_micro,
       CAST(CASE WHEN n_gaps + 1 >= 20
                  AND CAST(floor(ln(CAST(n_gaps AS DOUBLE)) * 1000000.0
                       + 0.5) AS BIGINT) - s // n_gaps <= 500000
                 THEN 1 ELSE 0 END AS INT) AS bot
FROM agg
"""


@gate(SQL_BOT_SCORES)
def q_bot_scores(spark, sf_dir):
    """Automation detection (temporal.bot_scores): natural users keep
    high gap entropy; a synthesized scheduler (every 7th event mapped
    to user 99999 on an exact 420 s grid) collapses to ONE distinct
    gap — entropy exactly 0, flagged. Oracle re-derives gaps and the
    quantized entropy."""
    from ...operators import temporal as tp

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull())
          .select("user_id", "ts", "event_id"))
    bot = (_t(spark, sf_dir, "events")
           .where(F.col("event_id") % 7 == 0)
           .select(F.lit(99999).cast("bigint").alias("user_id"),
                   F.expr("timestamp_micros(1700000000000000 "
                          "+ event_id * 60000000)").alias("ts"),
                   "event_id"))
    return tp.bot_scores(ev.unionAll(bot), min_events=20)


SQL_ACTIVITY_STREAKS = """
WITH act AS (SELECT DISTINCT user_id AS u,
                    epoch_us(ts) // 86400000000 AS d
             FROM events WHERE user_id IS NOT NULL),
runs AS (SELECT u, d - row_number() OVER (PARTITION BY u ORDER BY d)
                    AS grp, d
         FROM act),
rl AS (SELECT u, grp, CAST(count(*) AS BIGINT) AS len,
              max(d) AS d_end
       FROM runs GROUP BY 1, 2)
SELECT u AS user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
       CAST(count(*) AS BIGINT) AS n_streaks,
       CAST(max(len) AS BIGINT) AS max_streak,
       CAST(max_by(len, d_end) AS BIGINT) AS current_streak
FROM rl GROUP BY 1
"""


@gate(SQL_ACTIVITY_STREAKS)
def q_activity_streaks(spark, sf_dir):
    """Engagement streaks (temporal.activity_streaks): per-user
    consecutive-day runs via gaps-and-islands on the distinct
    active-day relation; current streak picked by one max(struct).
    Oracle re-derives islands with its own row_number."""
    from ...operators import temporal as tp

    ev = _t(spark, sf_dir, "events")
    return tp.activity_streaks(ev)


SQL_ASSOC_RULES = """
WITH ev AS (SELECT user_id AS u, event_type AS item, ts, event_id
            FROM events WHERE user_id IS NOT NULL),
brk AS (SELECT u, item, ts, event_id,
        CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
               OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
             THEN 1 ELSE 0 END AS b
        FROM ev WINDOW w AS (PARTITION BY u ORDER BY ts, event_id)),
sess AS (SELECT u, item,
                sum(b) OVER (PARTITION BY u ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
         FROM brk),
items AS (SELECT DISTINCT u, sid, item FROM sess),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM
       (SELECT DISTINCT u, sid FROM items) q),
marg AS (SELECT item, CAST(count(*) AS BIGINT) AS nx
         FROM items GROUP BY 1),
pairs AS (SELECT a.item AS ia, b.item AS ib,
                 CAST(count(*) AS BIGINT) AS nxy
          FROM items a
          JOIN items b ON a.u = b.u AND a.sid = b.sid
                      AND a.item <> b.item
          GROUP BY 1, 2
          HAVING count(*) >= 2)
SELECT ia AS antecedent, ib AS consequent, nxy AS n_both,
       ma.nx AS n_ante, mc.nx AS n_cons,
       CAST(1000000 * nxy // ma.nx AS BIGINT) AS confidence_ppm,
       CAST(1000 * nxy * nn.n // (ma.nx * mc.nx) AS BIGINT)
           AS lift_milli
FROM pairs
JOIN marg ma ON ma.item = ia
JOIN marg mc ON mc.item = ib, nn
"""


@gate(SQL_ASSOC_RULES)
def q_assoc_rules(spark, sf_dir):
    """Market-basket rules (temporal.association_rules): directed
    event-type pairs with support / confidence / lift over the
    sessionized stream — covisit counts normalized by marginals,
    lift integer via 1000·nxy·N div (nx·ny). Oracle re-derives
    sessions and both marginals."""
    from ...operators import temporal as tp

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull()))
    return tp.association_rules(ev, min_sessions=2)


SQL_ENTRY_EXIT = """
WITH ev AS (SELECT user_id AS u, event_type AS ty,
                   epoch_us(ts) AS t, event_id AS k
            FROM events WHERE user_id IS NOT NULL),
brk AS (SELECT u, ty, t, k,
        CASE WHEN t - lag(t) OVER w IS NULL
               OR t - lag(t) OVER w > 1800000000
             THEN 1 ELSE 0 END AS b
        FROM ev WINDOW w AS (PARTITION BY u ORDER BY t, k)),
sess AS (SELECT u, ty, t, k,
                sum(b) OVER (PARTITION BY u ORDER BY t, k
                             ROWS UNBOUNDED PRECEDING) AS sid
         FROM brk),
fx AS (SELECT u, sid,
              first_value(ty) OVER (
                PARTITION BY u, sid ORDER BY t, k
                ROWS BETWEEN UNBOUNDED PRECEDING
                AND UNBOUNDED FOLLOWING) AS entry_type,
              last_value(ty) OVER (
                PARTITION BY u, sid ORDER BY t, k
                ROWS BETWEEN UNBOUNDED PRECEDING
                AND UNBOUNDED FOLLOWING) AS exit_type
       FROM sess),
per AS (SELECT DISTINCT u, sid, entry_type, exit_type FROM fx)
SELECT entry_type, exit_type, CAST(count(*) AS BIGINT) AS n_sessions
FROM per GROUP BY 1, 2
"""


@gate(SQL_ENTRY_EXIT)
def q_entry_exit(spark, sf_dir):
    """Landing/exit report (temporal.entry_exit_pages): per-session
    first/last event types via min/max(struct) folds, counted into the
    entry→exit flow matrix. Oracle uses first/last_value windows —
    different mechanics, same sessions."""
    from ...operators import temporal as tp

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull()))
    return tp.entry_exit_pages(ev)


SQL_INTERPOLATE_DAILY = """
WITH src AS (SELECT event_type AS k,
                    epoch_us(ts) // 86400000000 AS d,
                    event_id AS v
             FROM events
             WHERE (epoch_us(ts) // 86400000000) % 3 = 0
               AND event_id IS NOT NULL),
daily AS (SELECT k, d, CAST(sum(v) AS BIGINT) AS v
          FROM src GROUP BY 1, 2),
sp AS (SELECT k, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
grid AS (SELECT sp.k, sp.d0 + u.i AS d
         FROM sp, UNNEST(range(d1 - d0 + 1)) AS u(i)),
g AS (SELECT grid.k, grid.d, daily.v,
             last_value(daily.v IGNORE NULLS) OVER (
               PARTITION BY grid.k ORDER BY grid.d
               ROWS UNBOUNDED PRECEDING) AS pv,
             last_value(CASE WHEN daily.v IS NOT NULL
                             THEN grid.d END IGNORE NULLS) OVER (
               PARTITION BY grid.k ORDER BY grid.d
               ROWS UNBOUNDED PRECEDING) AS pd,
             last_value(daily.v IGNORE NULLS) OVER (
               PARTITION BY grid.k ORDER BY grid.d DESC
               ROWS UNBOUNDED PRECEDING) AS nv,
             last_value(CASE WHEN daily.v IS NOT NULL
                             THEN grid.d END IGNORE NULLS) OVER (
               PARTITION BY grid.k ORDER BY grid.d DESC
               ROWS UNBOUNDED PRECEDING) AS nd
      FROM grid LEFT JOIN daily ON daily.k = grid.k
                                AND daily.d = grid.d)
SELECT k AS event_type, CAST(d AS BIGINT) AS day,
       CAST(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS INT)
           AS observed,
       CAST(CASE WHEN v IS NOT NULL THEN v
                 WHEN pv IS NULL THEN nv
                 WHEN nv IS NULL THEN pv
                 ELSE pv + (nv - pv) * (d - pd) // (nd - pd)
            END AS BIGINT) AS value
FROM g
"""


@gate(SQL_INTERPOLATE_DAILY)
def q_interpolate_daily(spark, sf_dir):
    """Gap interpolation (temporal.interpolate_daily): events thinned
    to every third calendar day make real 2-day gaps; missing days get
    the exact integer lerp between the neighboring daily sums. Oracle
    re-derives both anchor carries with IGNORE NULLS windows."""
    from ...operators import temporal as tp

    ev = _t(spark, sf_dir, "events").where(
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000")
        % 3 == 0)
    return tp.interpolate_daily(ev, value_col="event_id")


SQL_NEW_RETURNING = """
WITH act AS (SELECT DISTINCT user_id AS u,
                    epoch_us(ts) // 86400000000 AS d
             FROM events WHERE user_id IS NOT NULL),
fst AS (SELECT u, min(d) AS fd FROM act GROUP BY 1)
SELECT CAST(act.d AS BIGINT) AS day,
       CAST(sum(CASE WHEN act.d = fst.fd THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new,
       CAST(sum(CASE WHEN act.d <> fst.fd THEN 1 ELSE 0 END) AS BIGINT)
           AS n_returning,
       CAST(1000000 * sum(CASE WHEN act.d = fst.fd THEN 1 ELSE 0 END)
            // count(*) AS BIGINT) AS new_share_ppm
FROM act JOIN fst ON fst.u = act.u
GROUP BY 1
"""


@gate(SQL_NEW_RETURNING)
def q_new_returning(spark, sf_dir):
    """Acquisition mix (temporal.new_vs_returning): daily new vs
    returning users (first active day = new). Oracle re-derives the
    first-day join."""
    from ...operators import temporal as tp

    ev = _t(spark, sf_dir, "events")
    return tp.new_vs_returning(ev)


SQL_RANK_MOVERS = """
WITH d AS (SELECT event_type AS k,
                  epoch_us(ts) // 86400000000 AS d
           FROM events),
mx AS (SELECT max(d) AS dmax FROM d),
tagged AS (SELECT k, (mx.dmax - d) // 7 AS per FROM d, mx
           WHERE (mx.dmax - d) // 7 <= 1),
counts AS (SELECT k, per, CAST(count(*) AS BIGINT) AS n
           FROM tagged GROUP BY 1, 2),
ranked AS (SELECT k, per, n,
                  CAST(row_number() OVER (PARTITION BY per
                                          ORDER BY n DESC, k)
                       AS BIGINT) AS r
           FROM counts),
lastp AS (SELECT k, n AS n_last, r AS rank_last FROM ranked
          WHERE per = 0),
prevp AS (SELECT k, n AS n_prev, r AS rank_prev FROM ranked
          WHERE per = 1)
SELECT coalesce(lastp.k, prevp.k) AS event_type,
       CAST(coalesce(n_prev, 0) AS BIGINT) AS n_prev,
       CAST(coalesce(n_last, 0) AS BIGINT) AS n_last,
       rank_prev, rank_last,
       CAST(rank_prev - rank_last AS BIGINT) AS rank_delta
FROM lastp FULL OUTER JOIN prevp ON lastp.k = prevp.k
"""


@gate(SQL_RANK_MOVERS)
def q_rank_movers(spark, sf_dir):
    """Trending report (temporal.rank_movers): last-7-days vs
    prior-7-days activity ranks per event type with deltas; absent
    periods stay NULL (new entrants visible). Oracle re-derives
    periods and dense orderings."""
    from ...operators import temporal as tp

    ev = _t(spark, sf_dir, "events")
    return tp.rank_movers(ev, period_days=7)
