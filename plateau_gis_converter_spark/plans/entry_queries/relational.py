"""Relational gates: the core SQL operators (aggregates, joins, windows,
rollups, sessions) over the TPC-H-style tables and events, skew
handling, and Catalyst transforms."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._common import (
    POINTS_CTE, _cents, _cents_sql, _points_df, _t, _tile_xy_sql, gate,
)


SQL_PRICING = f"""
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
  CAST(SUM({_cents_sql('l_extendedprice')}) AS BIGINT) AS sum_base_cents,
  CAST(SUM({_cents_sql('l_extendedprice * (1.0 - l_discount)', 10000)}) AS BIGINT)
    AS sum_disc_e4,
  CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@gate(SQL_PRICING)
def q_pricing_summary(spark, sf_dir):
    """TPC-H-Q1-style agg: filters, partial/final hash agg, quantized sums."""
    li = _t(spark, sf_dir, "lineitem")
    disc_e4 = F.floor(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
                      * F.lit(10000.0) + F.lit(0.5)).cast("bigint")
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
                 F.sum(_cents("l_extendedprice")).alias("sum_base_cents"),
                 F.sum(disc_e4).alias("sum_disc_e4"),
                 F.count(F.lit(1)).alias("count_order")))


SQL_REVENUE_NATION = f"""
SELECT n_name,
  CAST(SUM({_cents_sql('l_extendedprice * (1.0 - l_discount)', 10000)}) AS BIGINT)
    AS revenue_e4,
  CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


@gate(SQL_REVENUE_NATION)
def q_revenue_by_nation(spark, sf_dir):
    """3-way broadcast-able join + agg (J1-3 analog at relational level)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev_e4 = F.floor(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
                     * F.lit(10000.0) + F.lit(0.5)).cast("bigint")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(F.sum(rev_e4).alias("revenue_e4"),
                 F.count(F.lit(1)).alias("n_items")))


SQL_WINDOW_TOP = """
SELECT o_custkey, o_orderkey, rank, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(row_number() OVER (PARTITION BY o_custkey
              ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rank
  FROM orders
) WHERE rank <= 3
"""


@gate(SQL_WINDOW_TOP)
def q_window_top_orders(spark, sf_dir):
    """Window top-k: top-3 orders per customer by totalprice (O2-analog)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (o.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 3)
            .select("o_custkey", "o_orderkey", "rank", "o_totalprice"))


SQL_TOPK_PARTS = """
SELECT p_partkey, p_name, p_retailprice FROM part
ORDER BY p_retailprice DESC, p_partkey ASC LIMIT 100
"""


@gate(SQL_TOPK_PARTS)
def q_topk_parts(spark, sf_dir):
    """Global top-100 by price (sort + limit; O1-analog external sort)."""
    p = _t(spark, sf_dir, "part")
    return (p.orderBy(F.col("p_retailprice").desc(), F.col("p_partkey").asc())
            .limit(100)
            .select("p_partkey", "p_name", "p_retailprice"))


SQL_SEMI_ANTI = """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
  AND NOT EXISTS (
    SELECT 1 FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_custkey = c_custkey AND l.l_returnflag = 'R')
GROUP BY c_mktsegment
"""


@gate(SQL_SEMI_ANTI)
def q_semi_anti_join(spark, sf_dir):
    """Left-semi + left-anti joins: customers with orders but no 'R' returns."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    returned_orders = li.where(F.col("l_returnflag") == "R").select("l_orderkey")
    cust_with_ret = (o.join(returned_orders, o.o_orderkey == returned_orders.l_orderkey,
                            "left_semi").select("o_custkey"))
    return (c.join(o.select("o_custkey").distinct(),
                   c.c_custkey == F.col("o_custkey"), "left_semi")
            .join(cust_with_ret.distinct(), c.c_custkey == cust_with_ret.o_custkey,
                  "left_anti")
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_customers")))


SQL_ROLLUP = """
SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


@gate(SQL_ROLLUP)
def q_rollup_flags(spark, sf_dir):
    """ROLLUP grouping sets (A4 is the spatial analog; this is the columnar
    one)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty")))


SQL_SESSIONIZE = """
SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
       CAST(count(*) AS BIGINT) AS n_events
FROM (
  SELECT user_id,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
GROUP BY user_id
"""


@gate(SQL_SESSIONIZE)
def q_events_sessionize(spark, sf_dir):
    """Sessionization via lag + cumulative sum (streaming-analog in batch;
    SURVEY §2.8 — the reference is batch-only, our streaming variant lives in
    streaming/)."""
    e = _t(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp"))  # NTZ -> LTZ (UTC session)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    newsess = F.when(gap.isNull() | (gap > 1800 * 1000000), 1).otherwise(0)
    return (e.withColumn("new_session", newsess)
            .groupBy("user_id")
            .agg(F.sum("new_session").cast("bigint").alias("n_sessions"),
                 F.count(F.lit(1)).alias("n_events")))


SQL_EVENTS_WINDOWED = f"""
SELECT date_trunc('hour', ts) AS hour, event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(SUM({_cents_sql('value')}) AS BIGINT) AS sum_value_cents
FROM events GROUP BY 1, 2
"""


@gate(SQL_EVENTS_WINDOWED)
def q_events_windowed(spark, sf_dir):
    """Tumbling 1-hour windowed aggregation per event_type (the batch
    equivalent of the Structured Streaming window agg)."""
    e = _t(spark, sf_dir, "events")
    return (e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"),
                      F.col("event_type"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(_cents("value")).alias("sum_value_cents")))


SQL_LOD_FILTER_CHAIN = """
SELECT doc_id,
  CAST(greatest(doc_id % 7, doc_id % 13, doc_id % 17) AS BIGINT) AS max_h,
  CAST(least(doc_id % 7, doc_id % 13, doc_id % 17) AS BIGINT) AS min_h,
  CAST(CASE WHEN m >= 16 THEN 4 WHEN m >= 8 THEN 3 WHEN m >= 4 THEN 2
            WHEN m >= 2 THEN 1 ELSE 0 END AS BIGINT) AS target_lod,
  CAST(1 AS BIGINT) AS n_kept
FROM (SELECT doc_id, doc_id % 31 AS m FROM documents)
WHERE m <> 0
"""


@gate(SQL_LOD_FILTER_CHAIN)
def q_lod_filter_chain(spark, sf_dir):
    """The pure-Catalyst transformer chain T2+T5 (operators/
    transforms_catalyst.mvt_requirements_chain: geometry stats +
    highest-LOD filter, reference transform/geomstats.rs + lods.rs) over
    flat features synthesized from doc_id: each doc gets one geometry
    per set bit of (doc_id % 31) and three vertices with integer z.
    Features with an empty LOD mask are DROPPED (lods.rs:30-74); the
    survivors keep exactly the highest available LOD. The oracle
    recomputes the bit math and min/max heights directly — it never
    models the arrays, so it is an independent formulation."""
    from ...operators import transforms_catalyst as tc

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    mask = (did % 31).cast("int")
    geoms = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.lit(4)),
            lambda b: F.struct(
                F.lit("Surface").alias("type"),
                b.cast("int").alias("lod"),
                b.cast("bigint").alias("pos"),
                F.lit(1).cast("bigint").alias("len"))),
        lambda g: (F.pow(F.lit(2.0), g["lod"].cast("double")).cast("int")
                   .bitwiseAND(mask)) != 0)
    verts = F.array(
        F.array(F.lit(0.0), F.lit(0.0), (did % 7).cast("double")),
        F.array(F.lit(1.0), F.lit(1.0), (did % 13).cast("double")),
        F.array(F.lit(2.0), F.lit(2.0), (did % 17).cast("double")))
    feats = docs.select("doc_id", geoms.alias("geometries"),
                        verts.alias("vertices"))
    out = tc.mvt_requirements_chain(feats, lod_mode="highest")
    return out.select(
        "doc_id",
        F.col("maxHeight").cast("bigint").alias("max_h"),
        F.col("minHeight").cast("bigint").alias("min_h"),
        F.element_at(F.col("geometries"), 1)["lod"].cast("bigint")
        .alias("target_lod"),
        F.size("geometries").cast("bigint").alias("n_kept"))


SQL_SKEW_SALTED_AGG = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(min(doc_id) AS BIGINT) AS min_doc,
       CAST(max(doc_id) AS BIGINT) AS max_doc
FROM documents GROUP BY lang
"""


@gate(SQL_SKEW_SALTED_AGG)
def q_skew_salted_agg(spark, sf_dir):
    """Salted two-phase aggregation (operators/skew.salted_aggregate):
    partial agg on (lang, hash(doc_id)%16), final merge on lang. The
    oracle is the PLAIN group-by — salting must be result-invariant for
    mergeable aggregates, and this gate proves it on every run."""
    from ...operators import skew

    docs = _t(spark, sf_dir, "documents")
    out = skew.salted_aggregate(
        docs, ["lang"],
        {"n_docs": ("count", "doc_id"),
         "sum_chars": ("sum", "n_chars"),
         "min_doc": ("min", "doc_id"),
         "max_doc": ("max", "doc_id")},
        salt_col="doc_id", buckets=16)
    return out.select(
        "lang", F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("sum_chars").cast("bigint").alias("sum_chars"),
        F.col("min_doc").cast("bigint").alias("min_doc"),
        F.col("max_doc").cast("bigint").alias("max_doc"))


_X12, _Y12 = _tile_xy_sql("12.0")


_X13, _Y13 = _tile_xy_sql("13.0")


_X14, _Y14 = _tile_xy_sql("14.0")


SQL_ADAPTIVE_CELL_SPLIT = f"""
WITH {POINTS_CTE},
l0 AS (
  SELECT doc_id, lng_udeg, lat_udeg,
         CAST(12 AS BIGINT) AS z, {_X12} AS x, {_Y12} AS y
  FROM pts
),
c0 AS (SELECT x, y, count(*) AS n FROM l0 GROUP BY x, y),
l1 AS (
  SELECT l0.doc_id, l0.lng_udeg, l0.lat_udeg,
    CASE WHEN c0.n > 30 THEN CAST(13 AS BIGINT) ELSE l0.z END AS z,
    CASE WHEN c0.n > 30 THEN {_X13} ELSE l0.x END AS x,
    CASE WHEN c0.n > 30 THEN {_Y13} ELSE l0.y END AS y
  FROM l0 JOIN c0 ON l0.x = c0.x AND l0.y = c0.y
),
c1 AS (SELECT x, y, count(*) AS n FROM l1 WHERE z = 13 GROUP BY x, y),
l2 AS (
  SELECT l1.doc_id,
    CASE WHEN l1.z = 13 AND c1.n > 30 THEN CAST(14 AS BIGINT)
         ELSE l1.z END AS cell_z,
    CASE WHEN l1.z = 13 AND c1.n > 30 THEN {_X14} ELSE l1.x END AS cell_x,
    CASE WHEN l1.z = 13 AND c1.n > 30 THEN {_Y14} ELSE l1.y END AS cell_y
  FROM l1 LEFT JOIN c1 ON l1.z = 13 AND l1.x = c1.x AND l1.y = c1.y
)
SELECT doc_id, cell_z, cell_x, cell_y FROM l2
"""


@gate(SQL_ADAPTIVE_CELL_SPLIT)
def q_adaptive_cell_split(spark, sf_dir):
    """Adaptive cell split (operators/skew.adaptive_cell_split): cells
    holding more than 30 points at z12 re-assign their points to z13
    children; still-hot z13 cells re-split to z14 (max_extra_levels=2).
    The oracle unrolls the two levels with the same mercator/tile SQL
    the tile gates use."""
    from ...operators import skew

    pts = _points_df(spark, sf_dir)
    out = skew.adaptive_cell_split(pts, base_zoom=12,
                                   max_rows_per_cell=30,
                                   max_extra_levels=2)
    return out.select(
        "doc_id", F.col("cell_z").cast("bigint").alias("cell_z"),
        F.col("cell_x").cast("bigint").alias("cell_x"),
        F.col("cell_y").cast("bigint").alias("cell_y"))


SQL_EVENTS_JSON = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY event_type
"""


@gate(SQL_EVENTS_JSON)
def q_events_json(spark, sf_dir):
    """Semi-structured: JSON field extraction + agg (map/json functions)."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (e.withColumn("k", k)
            .groupBy("event_type")
            .agg(F.sum("k").alias("sum_k"),
                 F.count(F.lit(1)).alias("n")))


SQL_CODELIST = f"""
SELECT n_name AS nation, r_name AS region,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(SUM({_cents_sql('c_acctbal')}) AS BIGINT) AS acctbal_cents
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1, 2
"""


@gate(SQL_CODELIST)
def q_codelist_resolve(spark, sf_dir):
    """S2/J2: codelist code→value resolution as a broadcast hash join (the
    reference resolves PLATEAU XML codelists at parse time,
    nusamai-plateau/src/codelist/xml.rs; here: nationkey → name dimension)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy(F.col("n_name").alias("nation"),
                     F.col("r_name").alias("region"))
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum(_cents("c_acctbal")).alias("acctbal_cents")))


SQL_SKEW_SALTED_JOIN = """
SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment,
       CAST(c.c_nationkey AS INTEGER) AS nationkey
FROM events e JOIN customer c ON e.user_id = c.c_custkey
"""


@gate(SQL_SKEW_SALTED_JOIN)
def q_skew_salted_join(spark, sf_dir):
    """Fragment-replicate skew join (skew.salted_replicated_join): the
    events fact (15 distinct user_ids — every key hot) joins the customer
    dim replicated 8x with per-row fact salts, hinted shuffle_hash so the
    mitigation path executes. Oracle = the PLAIN equi-join — salting must
    be result-invariant, proven on every run."""
    from ...operators import skew

    events = _t(spark, sf_dir, "events")
    cust = (_t(spark, sf_dir, "customer")
            .select(F.col("c_custkey").alias("user_id"),
                    "c_mktsegment", "c_nationkey"))
    out = skew.salted_replicated_join(events, cust, "user_id",
                                      row_col="event_id", buckets=8)
    return out.select("event_id", "user_id", "event_type",
                      "c_mktsegment",
                      F.col("c_nationkey").cast("int").alias("nationkey"))


SQL_BOUNCE_RATES = """
WITH f AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM events WHERE user_id IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM f),
r AS (
  SELECT user_id, sess_id, event_type,
         row_number() OVER (PARTITION BY user_id, sess_id
                            ORDER BY ts, event_id) AS rn,
         CAST(count(*) OVER (PARTITION BY user_id, sess_id) AS BIGINT)
             AS n_ev
  FROM s),
per_sess AS (
  SELECT event_type AS entry_type, n_ev FROM r WHERE rn = 1),
agg AS (
  SELECT entry_type, CAST(count(*) AS BIGINT) AS n_sessions,
         CAST(sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounce
  FROM per_sess GROUP BY 1)
SELECT entry_type, n_sessions, n_bounce,
       CAST((1000000 * n_bounce) // n_sessions AS BIGINT) AS bounce_ppm
FROM agg
"""


@gate(SQL_BOUNCE_RATES)
def q_bounce_rates(spark, sf_dir):
    """Session bounce rates by entry event type — the classic web-
    analytics composition over the same islands sessions the sessionize
    gate uses: per session its FIRST event type and event count, then
    per entry type the single-event-session share in integer ppm.
    Pure composition (two windows on one user-key Exchange + two tiny
    aggs); the oracle re-derives sessions independently."""
    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull()))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = t_us - F.lag(t_us).over(w)
    brk = F.when(gap.isNull() | (gap > 1800 * 1000000), 1).otherwise(0)
    sess = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.sum(brk).over(
            w.rowsBetween(Window.unboundedPreceding, 0)).alias("sess_id"))
    w2 = Window.partitionBy("user_id", "sess_id").orderBy("ts", "event_id")
    per_sess = (sess
                .withColumn("rn", F.row_number().over(w2))
                .withColumn("n_ev", F.count(F.lit(1)).over(
                    Window.partitionBy("user_id", "sess_id")))
                .where(F.col("rn") == 1)
                .select(F.col("event_type").alias("entry_type"),
                        F.col("n_ev")))
    return (per_sess.groupBy("entry_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
                 F.sum(F.when(F.col("n_ev") == 1, 1).otherwise(0))
                 .cast("bigint").alias("n_bounce"))
            .withColumn("bounce_ppm",
                        F.expr("CAST((1000000 * n_bounce) DIV n_sessions"
                               " AS BIGINT)")))


SQL_CELL_STATS = f"""
WITH {POINTS_CTE},
sz AS (SELECT unnest([15000, 60000, 240000]) AS s),
oc AS (SELECT s, CAST(floor(lng_udeg / s) AS BIGINT) AS cx,
              CAST(floor(lat_udeg / s) AS BIGINT) AS cy,
              CAST(count(*) AS BIGINT) AS occ
       FROM pts, sz GROUP BY 1, 2, 3),
st AS (SELECT s, CAST(count(*) AS BIGINT) AS n_cells,
              CAST(sum(occ) AS BIGINT) AS n_points,
              CAST(max(occ) AS BIGINT) AS max_occ
       FROM oc GROUP BY 1),
rk AS (SELECT s, occ,
              row_number() OVER (PARTITION BY s ORDER BY occ) AS rn
       FROM oc)
SELECT CAST(st.s AS BIGINT) AS cell_udeg, n_points, n_cells, max_occ,
       CAST(1000 * n_points // n_cells AS BIGINT) AS mean_milli,
       CAST((SELECT min(occ) FROM rk
             WHERE rk.s = st.s
               AND rn >= (95 * st.n_cells + 99) // 100) AS BIGINT)
           AS p95_occ
FROM st
"""


@gate(SQL_CELL_STATS)
def q_cell_stats(spark, sf_dir):
    """Grid-index tuning (skew.cell_occupancy_stats): occupancy
    distribution of the page points at three candidate cell sizes —
    exact p95 via the count-of-counts cumulative rule; the oracle ranks
    raw cells with row_number + a correlated min — independent
    mechanics for the same order statistic."""
    from ...operators import skew as sk

    pts = _points_df(spark, sf_dir)
    return sk.cell_occupancy_stats(pts, [15000, 60000, 240000])
