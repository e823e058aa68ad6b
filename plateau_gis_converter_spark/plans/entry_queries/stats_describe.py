"""Descriptive statistics gates (``operators/stats.py``): quantiles and
histograms, rank and decay transforms, robust summaries, concentration
curves and fits, gravity models, and classifier and ranking evaluation."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ...functions import geo
from ._common import (
    POINTS_CTE, _EV_LAT_SQL, _EV_LNG_SQL, _cents, _cents_sql, _t,
    _tile_xy_sql, gate,
)


_LOG_HIST_CTE = """
b AS (SELECT CAST(n_chars AS BIGINT) AS v FROM documents WHERE n_chars >= 1),
p AS (SELECT v, CAST(power(2, CAST(length(bin(v)) - 1 AS BIGINT)) AS BIGINT)
               AS powe,
             CAST(length(bin(v)) - 1 AS BIGINT) AS e FROM b),
sb AS (SELECT v, e, powe,
       CAST(floor((v - powe) * 8 / CAST(powe AS DOUBLE)) AS BIGINT) AS s
       FROM p),
hist AS (
  SELECT e * 8 + s AS bin_id,
         powe + CAST(floor(s * powe / 8.0) AS BIGINT) AS lo,
         powe + CAST(floor((s + 1) * powe / 8.0) AS BIGINT) AS hi,
         CAST(count(*) AS BIGINT) AS cnt
  FROM sb GROUP BY 1, 2, 3)"""


SQL_LENGTH_HISTOGRAM = f"""
WITH {_LOG_HIST_CTE}
SELECT bin_id, lo, hi, cnt FROM hist
"""


@gate(SQL_LENGTH_HISTOGRAM)
def q_length_histogram(spark, sf_dir):
    """Mergeable log-scaled histogram sketch of doc length
    (stats.log_histogram, DDSketch/HdrHistogram family): 8 sub-bins per
    octave, all-integer bin ids and bounds — registers bit-for-bit vs
    the oracle's independent binary-digit-count formulation."""
    from ...operators import stats as st

    docs = _t(spark, sf_dir, "documents")
    return st.log_histogram(docs, "n_chars", subbins=8)


SQL_LENGTH_QUANTILE_BOUNDS = f"""
WITH {_LOG_HIST_CTE},
c AS (SELECT bin_id, sum(cnt) OVER (ORDER BY bin_id) AS cum FROM hist),
n AS (SELECT sum(cnt) AS n FROM hist),
t AS (SELECT q, (q * n.n + 999999) // 1000000 AS tgt
      FROM (VALUES (500000), (900000), (990000)) AS qv(q), n),
f AS (SELECT t.q AS q_ppm, min(c.bin_id) AS bin_id
      FROM c JOIN t ON c.cum >= t.tgt GROUP BY 1)
SELECT CAST(f.q_ppm AS BIGINT) AS q_ppm, h.lo, h.hi
FROM f JOIN hist h USING (bin_id)
"""


@gate(SQL_LENGTH_QUANTILE_BOUNDS)
def q_length_quantile_bounds(spark, sf_dir):
    """Quantile BOUNDS read from the log-histogram sketch
    (stats.histogram_quantiles): p50/p90/p99 of doc length as [lo, hi)
    bin bounds with guaranteed relative error <= 1/8; the same integer
    rank rule as value_quantiles, run over the O(bins) register
    relation."""
    from ...operators import stats as st

    docs = _t(spark, sf_dir, "documents")
    hist = st.log_histogram(docs, "n_chars", subbins=8)
    return st.histogram_quantiles(hist, [500_000, 900_000, 990_000])


SQL_LENGTH_QUANTILES = """
WITH c AS (SELECT n_chars AS v, count(*) AS c FROM documents GROUP BY 1),
cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM c),
n AS (SELECT count(*) AS n FROM documents),
t AS (
  SELECT q, (q * n.n + 999999) // 1000000 AS tgt
  FROM (VALUES (10000), (250000), (500000), (750000), (990000)) AS qv(q),
       n)
SELECT CAST(t.q AS BIGINT) AS q_ppm, CAST(min(cum.v) AS BIGINT) AS value
FROM t JOIN cum ON cum.cum >= t.tgt
GROUP BY 1
"""


@gate(SQL_LENGTH_QUANTILES)
def q_length_quantiles(spark, sf_dir):
    """Exact type-1 quantiles of doc length (operators/stats.py): one
    partial-agg pass builds per-value counts, the running-sum window
    runs over the SMALL distinct-value relation (never a global row
    sort), target ranks are all-integer ceil(q*n/1e6).  Oracle: the
    identical two-level grouped-cumsum formulation."""
    from ...operators import stats as st

    docs = _t(spark, sf_dir, "documents")
    return st.value_quantiles(
        docs, "n_chars", [10_000, 250_000, 500_000, 750_000, 990_000])


SQL_DECAYED_COUNTS = """
WITH kb AS (
  SELECT event_type AS key, epoch_us(ts) // 3600000000 AS b,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
last AS (
  SELECT key, CAST(max(b) AS BIGINT) AS last_bucket,
         CAST(sum(cnt) AS BIGINT) AS n_events
  FROM kb GROUP BY 1
)
SELECT kb.key AS event_type, last.n_events, last.last_bucket,
       CAST(sum(CASE WHEN last.last_bucket - kb.b < 40
                     THEN kb.cnt * 1000000
                          // (CAST(1 AS BIGINT)
                              << CAST(last.last_bucket - kb.b AS INT))
                     ELSE 0 END) AS BIGINT) AS decayed_micro
FROM kb JOIN last ON kb.key = last.key
GROUP BY 1, 2, 3
"""


@gate(SQL_DECAYED_COUNTS)
def q_decayed_counts(spark, sf_dir):
    """Exponentially-decayed per-key activity counters (stats.decayed_
    counts) over the events stream, hour buckets, half-life one bucket —
    integer-exact (cnt * 10^6 div 2^shift), so the trend ranking is
    bit-reproducible.  One co-keyed agg pair, shuffle reused."""
    from ...operators import stats as st

    ev = _t(spark, sf_dir, "events")
    return st.decayed_counts(ev, "event_type")


SQL_RANK_NORMALIZE = """
WITH r AS (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars, doc_id) AS rk,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT doc_id, lang, n_chars,
       CASE WHEN n > 1
            THEN CAST((rk - 1) * 1000000 // (n - 1) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS pct_micro
FROM r
"""


@gate(SQL_RANK_NORMALIZE)
def q_rank_normalize(spark, sf_dir):
    """Within-group rank normalization (stats.group_rank_normalize):
    per-language percentile (micro) of each doc's n_chars — the
    per-domain quality calibration primitive.  Deterministic tie-break
    by doc_id; oracle is an independent window pair."""
    from ...operators import stats as st

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang",
                                                 "n_chars")
    return st.group_rank_normalize(docs, "lang", "n_chars", "doc_id")


SQL_INTERARRIVAL_QUANTILES = """
WITH g AS (
  SELECT event_type,
         epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
c AS (
  SELECT event_type, gap_us AS v, CAST(count(*) AS BIGINT) AS c
  FROM g WHERE gap_us IS NOT NULL GROUP BY 1, 2),
cum AS (
  SELECT event_type, v, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM c),
q AS (SELECT CAST(u.q AS BIGINT) AS q_ppm
      FROM UNNEST([500000, 900000]) AS u(q))
SELECT event_type, q_ppm, CAST(min(v) AS BIGINT) AS value
FROM cum, q
WHERE cum >= (q_ppm * n + 999999) // 1000000
GROUP BY 1, 2
"""


@gate(SQL_INTERARRIVAL_QUANTILES)
def q_interarrival_quantiles(spark, sf_dir):
    """Per-event-type exact inter-arrival quantiles (stats.
    group_value_quantiles): lag gaps in µs over (ts, event_id) order,
    then the grouped no-global-sort exact type-1 quantile (p50/p90) —
    fully distributed (group totals via a window, not a driver
    collect). Oracle re-derives gaps and the ceil-rank rule."""
    from ...operators import stats as st

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = (ev.select("event_type", "ts", "event_id")
            .withColumn("gap_us", t_us - F.lag(t_us).over(w))
            .where(F.col("gap_us").isNotNull()))
    return st.group_value_quantiles(gaps, "event_type", "gap_us",
                                    [500_000, 900_000])


SQL_TRIMMED_STATS = f"""
WITH r AS (SELECT event_type, {_cents_sql('value')} AS v FROM events),
rk AS (SELECT event_type, v,
              row_number() OVER (PARTITION BY event_type ORDER BY v)
                  AS rn,
              count(*) OVER (PARTITION BY event_type) AS n
       FROM r),
f AS (SELECT event_type, v, n, n * 100000 // 1000000 AS k
      FROM rk
      WHERE rn > n * 100000 // 1000000
        AND rn <= n - n * 100000 // 1000000)
SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       CAST(max(k) AS BIGINT) AS n_trim,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(v) AS BIGINT) AS sum_kept,
       CAST(1000 * sum(v) // count(*) AS BIGINT) AS mean_milli
FROM f GROUP BY 1
"""


@gate(SQL_TRIMMED_STATS)
def q_trimmed_stats(spark, sf_dir):
    """Robust per-type value stats (stats.trimmed_group_stats): 10%
    two-sided trimmed mean of the cent-quantized event value — computed
    over the (group, value) COUNT relation (no row-level window; any
    tie order keeps the same value multiset). Oracle: per-ROW
    row_number trimming, the formulation the operator avoids."""
    from ...operators import stats as st

    ev = _t(spark, sf_dir, "events").select(
        "event_type", _cents("value").alias("v_cents"))
    return st.trimmed_group_stats(ev, "event_type", "v_cents",
                                  trim_ppm=100_000)


SQL_PARETO_FRONT = """
WITH d AS (
  SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS x,
         CAST((doc_id * 37) % 1000 AS BIGINT) AS y
  FROM documents WHERE lang IS NOT NULL)
SELECT lang, doc_id, x, y FROM d p
WHERE NOT EXISTS (
  SELECT 1 FROM d q
  WHERE q.lang = p.lang AND q.x >= p.x AND q.y >= p.y
    AND (q.x > p.x OR q.y > p.y))
"""


@gate(SQL_PARETO_FRONT)
def q_pareto_front(spark, sf_dir):
    """2-D skyline (stats.pareto_front): per language, documents no
    other document beats on BOTH length and the derived score — the
    multi-objective shortlist. The operator runs the windowed
    (group, x)-relation algorithm; the ORACLE is the quadratic
    NOT-EXISTS dominance self-join the operator exists to avoid —
    independent formulations of the same set."""
    from ...operators import stats as st

    docs = _t(spark, sf_dir, "documents")
    d = (docs.where(F.col("lang").isNotNull())
         .select("lang", "doc_id",
                 F.col("n_chars").cast("bigint").alias("x"),
                 ((F.col("doc_id") * 37) % 1000).alias("y")))
    return st.pareto_front(d, "lang", "x", "y")


SQL_GINI_SPLIT = """
WITH d AS (
  SELECT CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000.0 + 0.5)
              AS BIGINT) AS f,
         CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
  FROM embeddings
  WHERE embedding IS NOT NULL AND label IS NOT NULL),
vals AS (SELECT f AS v, CAST(count(*) AS BIGINT) AS c,
                CAST(sum(y) AS BIGINT) AS a
         FROM d GROUP BY 1),
cum AS (SELECT v, c, a,
               sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS nl,
               sum(a) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS al,
               sum(c) OVER () AS n, sum(a) OVER () AS ap
        FROM vals),
sc AS (SELECT v, nl, al, n, ap,
              ((CAST(nl AS DOUBLE)
                - (CAST(al AS DOUBLE) * CAST(al AS DOUBLE)
                   + CAST(nl - al AS DOUBLE) * CAST(nl - al AS DOUBLE))
                  / CAST(nl AS DOUBLE))
               + (CAST(n - nl AS DOUBLE)
                  - (CAST(ap - al AS DOUBLE) * CAST(ap - al AS DOUBLE)
                     + CAST((n - nl) - (ap - al) AS DOUBLE)
                       * CAST((n - nl) - (ap - al) AS DOUBLE))
                    / CAST(n - nl AS DOUBLE)))
              / CAST(n AS DOUBLE) AS g
       FROM cum WHERE nl < n)
SELECT CAST(n AS BIGINT) AS n, CAST(ap AS BIGINT) AS n_pos,
       CAST(v AS BIGINT) AS thr, CAST(nl AS BIGINT) AS n_left,
       CAST(al AS BIGINT) AS pos_left,
       CAST(n - nl AS BIGINT) AS n_right,
       CAST(ap - al AS BIGINT) AS pos_right,
       CAST(floor(g * 1000.0 + 0.5) AS BIGINT) AS gini_milli
FROM sc
QUALIFY row_number() OVER (ORDER BY g, v) = 1
"""


@gate(SQL_GINI_SPLIT)
def q_gini_split(spark, sf_dir):
    """Decision stump (stats.gini_best_split): exact best threshold of
    the milli-quantized first embedding coordinate for the binarized
    class label, by weighted Gini over the distinct-value relation.
    The impurity argmin is ONE struct-min fold; the oracle re-ranks
    candidates with its own window."""
    from ...operators import stats as st

    emb = _t(spark, sf_dir, "embeddings")
    d = emb.select(
        F.floor(F.element_at(F.col("embedding"), 1).cast("double")
                * F.lit(1000.0) + F.lit(0.5)).cast("bigint").alias("f"),
        (F.col("label") < 5).cast("int").alias("y"))
    return st.gini_best_split(d, "f", "y")


SQL_CALIBRATION = """
WITH d AS (
  SELECT least(1000, greatest(0,
           CAST(floor(CAST(embedding[3] AS DOUBLE) * 1000.0 + 500.0)
                AS BIGINT))) AS s,
         CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
  FROM embeddings
  WHERE embedding IS NOT NULL AND label IS NOT NULL)
SELECT CAST(least(s * 10 // 1000, 9) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(y) AS BIGINT) AS n_pos,
       CAST(sum(s) // count(*) AS BIGINT) AS conf_milli,
       CAST(1000 * sum(y) // count(*) AS BIGINT) AS rate_milli
FROM d GROUP BY 1
"""


@gate(SQL_CALIBRATION)
def q_calibration(spark, sf_dir):
    """Reliability bins (stats.calibration_bins): embedding coordinate
    3 mapped to a milli confidence, label binarized — per-bin counts,
    mean confidence, observed rate (ECE derives in pytest). One
    partial agg; oracle mirrors the bin arithmetic."""
    from ...operators import stats as st

    emb = _t(spark, sf_dir, "embeddings")
    s = F.least(F.lit(1000), F.greatest(F.lit(0), F.floor(
        F.element_at(F.col("embedding"), 3).cast("double")
        * F.lit(1000.0) + F.lit(500.0)))).cast("bigint")
    d = emb.select(s.alias("score_milli"),
                   (F.col("label") < 5).cast("int").alias("y"))
    return st.calibration_bins(d, "score_milli", "y", n_bins=10)


SQL_AUC_ROC = """
WITH d AS (
  SELECT CAST(floor(CAST(embedding[5] AS DOUBLE) * 1000.0 + 0.5)
              AS BIGINT) AS s,
         CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
  FROM embeddings
  WHERE embedding IS NOT NULL AND label IS NOT NULL),
rk AS (SELECT y,
              2 * rank() OVER (ORDER BY s)
                + count(*) OVER (PARTITION BY s) - 1 AS r2
       FROM d),
agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS p,
               CAST(sum(CASE WHEN y = 1 THEN r2 ELSE 0 END) AS BIGINT)
                   AS rp
        FROM rk)
SELECT n, p AS n_pos,
       CAST(rp - p * (p + 1) AS BIGINT) AS num,
       CAST(2 * p * (n - p) AS BIGINT) AS den,
       CAST(CASE WHEN 2 * p * (n - p) > 0 THEN
         floor(CAST(rp - p * (p + 1) AS DOUBLE)
               / CAST(2 * p * (n - p) AS DOUBLE) * 1000000.0 + 0.5)
       END AS BIGINT) AS auc_micro
FROM agg
"""


@gate(SQL_AUC_ROC)
def q_auc_roc(spark, sf_dir):
    """Exact tie-aware ROC AUC (stats.auc_roc): the Mann-Whitney rank
    formulation over the (score, n, positives) COUNT relation — milli
    embedding coordinate 5 scoring the binarized label. Oracle ranks
    each ROW via rank()+tie-count windows (the spearman_corr
    independence pattern)."""
    from ...operators import stats as st

    emb = _t(spark, sf_dir, "embeddings")
    d = emb.select(
        F.floor(F.element_at(F.col("embedding"), 5).cast("double")
                * F.lit(1000.0) + F.lit(0.5)).cast("bigint").alias("s"),
        (F.col("label") < 5).cast("int").alias("y"))
    return st.auc_roc(d, "s", "y")


_TD_TX, _TD_TY = _tile_xy_sql("12")


SQL_TILE_DIVERSITY = f"""
WITH {POINTS_CTE},
t AS (SELECT p.doc_id, d.lang, {_TD_TX} AS x, {_TD_TY} AS y
      FROM pts p JOIN documents d ON d.doc_id = p.doc_id),
g AS (SELECT CAST(x AS BIGINT) * 100000 + CAST(y AS BIGINT) AS txy,
             lang
      FROM t WHERE lang IS NOT NULL),
cells AS (SELECT txy, lang, CAST(count(*) AS BIGINT) AS c
          FROM g GROUP BY 1, 2),
agg AS (SELECT txy, CAST(sum(c) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_cats,
               CAST(sum(c * (c - 1)) AS BIGINT) AS num
        FROM cells GROUP BY 1)
SELECT txy, n, n_cats,
       CAST(CASE WHEN n > 1 THEN 1000000 * num // (n * (n - 1)) END
            AS BIGINT) AS concentration_ppm,
       CAST(CASE WHEN n > 1
                 THEN 1000000 - 1000000 * num // (n * (n - 1)) END
            AS BIGINT) AS diversity_ppm
FROM agg
"""


@gate(SQL_TILE_DIVERSITY)
def q_tile_diversity(spark, sf_dir):
    """Per-tile source monoculture detector (stats.simpson_diversity):
    exact Simpson concentration/diversity ppm of LANGUAGES per z12
    tile — a pure integer rational where Shannon entropy needs logs.
    Two partial aggs; oracle recomputes the rational independently."""
    from ...operators import stats as st

    docs = _t(spark, sf_dir, "documents")
    lng, lat = geo.point_udeg_cols(F.col("doc_id"))
    pts = docs.select("doc_id", "lang", lng, lat)
    tiles = geo.with_point_tiles(pts, F.lit(12))
    d = tiles.select(
        (F.col("x").cast("bigint") * 100000
         + F.col("y").cast("bigint")).alias("txy"), "lang")
    return st.simpson_diversity(d, "txy", "lang")


SQL_MAD_OUTLIERS = f"""
WITH base AS (SELECT event_id AS k, event_type AS g,
                     {_cents_sql('value')} AS x
              FROM events WHERE value IS NOT NULL),
vc AS (SELECT g, x AS v, CAST(count(*) AS BIGINT) AS c
       FROM base GROUP BY 1, 2),
vr AS (SELECT g, v,
              sum(c) OVER (PARTITION BY g ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS cum,
              sum(c) OVER (PARTITION BY g) AS n
       FROM vc),
med AS (SELECT g, min(v) AS med FROM vr
        WHERE cum >= (n + 1) // 2 GROUP BY 1),
dev AS (SELECT b.k, b.g, b.x, m.med, abs(b.x - m.med) AS ad
        FROM base b JOIN med m ON m.g = b.g),
ac AS (SELECT g, ad AS v, CAST(count(*) AS BIGINT) AS c
       FROM dev GROUP BY 1, 2),
ar AS (SELECT g, v,
              sum(c) OVER (PARTITION BY g ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS cum,
              sum(c) OVER (PARTITION BY g) AS n
       FROM ac),
mad AS (SELECT g, min(v) AS mad FROM ar
        WHERE cum >= (n + 1) // 2 GROUP BY 1)
SELECT d.k AS event_id, d.g AS event_type, d.x AS v_cents,
       CAST(d.med AS BIGINT) AS med, CAST(a.mad AS BIGINT) AS mad,
       CAST(CASE WHEN 1000 * d.ad > 1500 * a.mad THEN 1 ELSE 0 END
            AS INT) AS outlier
FROM dev d JOIN mad a ON a.g = d.g
"""


@gate(SQL_MAD_OUTLIERS)
def q_mad_outliers(spark, sf_dir):
    """Robust outliers (stats.mad_outlier_flags): per event type, flag
    values beyond 1.5 MAD from the exact type-1 median — both medians
    from count-relation machinery, the decision a pure integer
    cross-multiplication. Oracle re-derives both order statistics with
    its own cumulative rank CTEs."""
    from ...operators import stats as st

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", _cents("value").alias("v_cents"))
    return st.mad_outlier_flags(ev, "event_type", "v_cents",
                                key_col="event_id", k_milli=1500)


SQL_IMPUTE_MEDIAN = f"""
WITH d AS (SELECT event_id, event_type,
                  CASE WHEN event_id % 9 = 0 THEN NULL
                       ELSE {_cents_sql('value')} END AS v
           FROM events),
vc AS (SELECT event_type AS g, v, CAST(count(*) AS BIGINT) AS c
       FROM d WHERE v IS NOT NULL GROUP BY 1, 2),
vr AS (SELECT g, v,
              sum(c) OVER (PARTITION BY g ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS cum,
              sum(c) OVER (PARTITION BY g) AS n
       FROM vc),
med AS (SELECT g, min(v) AS med FROM vr
        WHERE cum >= (n + 1) // 2 GROUP BY 1)
SELECT d.event_id, d.event_type,
       CAST(coalesce(d.v, m.med) AS BIGINT) AS v_cents,
       CAST(CASE WHEN d.v IS NULL AND m.med IS NOT NULL
                 THEN 1 ELSE 0 END AS INT) AS imputed
FROM d LEFT JOIN med m ON m.g = d.event_type
"""


@gate(SQL_IMPUTE_MEDIAN)
def q_impute_median(spark, sf_dir):
    """Median imputation (stats.impute_group_median): every 9th
    event's value nulled then refilled with its type's exact median;
    the imputed flag marks exactly the refilled rows. Oracle
    re-derives the median with its own rank CTE and coalesces."""
    from ...operators import stats as st

    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        "event_id", "event_type",
        F.when(F.col("event_id") % 9 == 0, F.lit(None))
        .otherwise(_cents("value")).alias("v_cents"))
    return st.impute_group_median(d, "event_type", "v_cents")


SQL_CLASS_REPORT = """
WITH d AS (SELECT lang AS t,
                  CASE WHEN doc_id % 5 = 0 THEN 'en' ELSE lang END AS p
           FROM documents WHERE lang IS NOT NULL),
cells AS (SELECT t, p, CAST(count(*) AS BIGINT) AS c
          FROM d GROUP BY 1, 2),
r AS (SELECT t AS label, CAST(sum(c) AS BIGINT) AS n_true
      FROM cells GROUP BY 1),
cl AS (SELECT p AS label, CAST(sum(c) AS BIGINT) AS n_pred
       FROM cells GROUP BY 1),
dg AS (SELECT t AS label, CAST(c AS BIGINT) AS tp
       FROM cells WHERE t = p),
m AS (SELECT coalesce(r.label, cl.label) AS label,
             coalesce(n_true, 0) AS n_true,
             coalesce(n_pred, 0) AS n_pred
      FROM r FULL OUTER JOIN cl ON r.label = cl.label),
j AS (SELECT m.label, m.n_true, m.n_pred, coalesce(dg.tp, 0) AS tp
      FROM m LEFT JOIN dg ON dg.label = m.label),
pr AS (SELECT label, n_true, n_pred, tp,
              CASE WHEN n_pred > 0 THEN 1000000 * tp // n_pred END
                  AS precision_ppm,
              CASE WHEN n_true > 0 THEN 1000000 * tp // n_true END
                  AS recall_ppm
       FROM j)
SELECT label, n_true, n_pred, tp,
       CAST(precision_ppm AS BIGINT) AS precision_ppm,
       CAST(recall_ppm AS BIGINT) AS recall_ppm,
       CAST(CASE WHEN precision_ppm IS NOT NULL
                  AND recall_ppm IS NOT NULL
                  AND precision_ppm + recall_ppm > 0
                 THEN 2 * precision_ppm * recall_ppm
                      // (precision_ppm + recall_ppm)
            END AS BIGINT) AS f1_ppm
FROM pr
"""


@gate(SQL_CLASS_REPORT)
def q_class_report(spark, sf_dir):
    """Multiclass eval (stats.classification_report): language
    prediction with every 5th document mispredicted as 'en' — per-class
    tp/precision/recall/F1 in exact ppm. Oracle re-derives the
    contingency margins independently."""
    from ...operators import stats as st

    docs = _t(spark, sf_dir, "documents").where(
        F.col("lang").isNotNull())
    d = docs.select(
        F.col("lang").alias("t"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("en"))
        .otherwise(F.col("lang")).alias("p"))
    return st.classification_report(d, "t", "p")


SQL_WEIGHTED_QUANTILES = """
WITH counts AS (SELECT lang AS g, n_chars AS v,
                       CAST(sum(n_chars) AS BIGINT) AS w
                FROM documents
                WHERE lang IS NOT NULL AND n_chars > 0
                GROUP BY 1, 2),
cum AS (SELECT g, v, w,
               sum(w) OVER (PARTITION BY g ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS cum,
               sum(w) OVER (PARTITION BY g) AS tw
        FROM counts),
q AS (SELECT unnest([250000, 500000, 750000]) AS q_ppm)
SELECT g AS lang, CAST(q.q_ppm AS BIGINT) AS q_ppm,
       min(v) AS value
FROM cum, q
WHERE cum >= (q.q_ppm * tw + 999999) // 1000000
GROUP BY 1, 2
"""


@gate(SQL_WEIGHTED_QUANTILES)
def q_weighted_quantiles(spark, sf_dir):
    """Token-weighted length quantiles (stats.
    weighted_group_quantiles): per language, the document length at
    which the q-th WEIGHTED token sits (weight = n_chars) — the
    training-mix question, distinct from the median document. Oracle
    re-ranks with its own cumulative-weight windows."""
    from ...operators import stats as st

    docs = (_t(spark, sf_dir, "documents")
            .where(F.col("lang").isNotNull()))
    return st.weighted_group_quantiles(
        docs, "lang", "n_chars", "n_chars",
        qs_ppm=[250_000, 500_000, 750_000])


SQL_GRAVITY_DECAY = f"""
WITH trk AS (
  SELECT user_id, ts, event_id,
         CAST(floor({_EV_LNG_SQL} / 120000.0) AS BIGINT) AS cx,
         CAST(floor({_EV_LAT_SQL} / 120000.0) AS BIGINT) AS cy
  FROM events WHERE user_id IS NOT NULL),
hops AS (
  SELECT lag(cx) OVER w AS o_cx, lag(cy) OVER w AS o_cy,
         cx AS d_cx, cy AS d_cy
  FROM trk WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
fl AS (SELECT (o_cx - d_cx) * (o_cx - d_cx)
              + (o_cy - d_cy) * (o_cy - d_cy) AS d2,
              CAST(count(*) AS BIGINT) AS flow
       FROM hops
       WHERE o_cx IS NOT NULL AND (o_cx <> d_cx OR o_cy <> d_cy)
       GROUP BY 1),
pts AS (SELECT
  CAST(floor(ln(CAST(d2 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
      AS lx,
  CAST(floor(ln(CAST(flow AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
      AS ly
  FROM fl WHERE d2 > 0 AND flow > 0),
m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(lx) AS BIGINT) AS sx,
             CAST(sum(ly) AS BIGINT) AS sy,
             CAST(sum(lx * ly) AS BIGINT) AS sxy,
             CAST(sum(lx * lx) AS BIGINT) AS sxx
      FROM pts)
SELECT n AS n_points,
       CAST(CASE WHEN n * sxx - sx * sx > 0 THEN
         floor(CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) * 1000.0 + 0.5)
       END AS BIGINT) AS slope_milli,
       CAST(CASE WHEN n * sxx - sx * sx > 0 THEN
         floor((CAST(sy AS DOUBLE)
                - CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE) / 1000000.0 * 1000.0 + 0.5)
       END AS BIGINT) AS intercept_milli
FROM m
"""


@gate(SQL_GRAVITY_DECAY)
def q_gravity_decay(spark, sf_dir):
    """Spatial-interaction decay (pure composition: temporal.od_matrix
    × stats.loglog_ols_fit): OD flows between 120k-µdeg cells, total
    flow per squared cell distance, then the shared log-log OLS — the
    gravity-model distance-decay exponent. Oracle re-derives hops,
    distances and the fit."""
    from ...operators import stats as st
    from ...operators import temporal as tp

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull()))
    lng, lat = geo.point_udeg_cols(F.col("event_id"))
    track = (ev.select("user_id", "ts", "event_id", lng, lat)
             .withColumn("cx", F.floor(F.col("lng_udeg") / 120000)
                         .cast("bigint"))
             .withColumn("cy", F.floor(F.col("lat_udeg") / 120000)
                         .cast("bigint")))
    flows = tp.od_matrix(track)
    d2 = ((F.col("o_cx") - F.col("d_cx"))
          * (F.col("o_cx") - F.col("d_cx"))
          + (F.col("o_cy") - F.col("d_cy"))
          * (F.col("o_cy") - F.col("d_cy")))
    hist = (flows.groupBy(d2.alias("d2"))
            .agg(F.sum("n_trips").cast("bigint").alias("flow")))
    return st.loglog_ols_fit(hist, x_col="d2", cnt_col="flow")


SQL_PR_CURVE = """
WITH d AS (
  SELECT CAST(floor(CAST(embedding[7] AS DOUBLE) * 1000.0 + 0.5)
              AS BIGINT) AS thr,
         CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
  FROM embeddings
  WHERE embedding IS NOT NULL AND label IS NOT NULL),
v AS (SELECT thr, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(y) AS BIGINT) AS a
      FROM d GROUP BY 1),
cum AS (SELECT thr,
               sum(a) OVER (ORDER BY thr DESC
                            ROWS UNBOUNDED PRECEDING) AS tp,
               sum(c) OVER (ORDER BY thr DESC
                            ROWS UNBOUNDED PRECEDING) AS pp,
               sum(a) OVER () AS p_all
        FROM v)
SELECT thr, CAST(tp AS BIGINT) AS tp,
       CAST(pp - tp AS BIGINT) AS fp,
       CAST(p_all - tp AS BIGINT) AS fn,
       CAST(1000000 * tp // pp AS BIGINT) AS precision_ppm,
       CAST(CASE WHEN p_all > 0 THEN 1000000 * tp // p_all END
            AS BIGINT) AS recall_ppm
FROM cum
"""


@gate(SQL_PR_CURVE)
def q_pr_curve(spark, sf_dir):
    """Threshold sweep (stats.pr_curve): precision/recall at every
    distinct milli score of embedding coordinate 7 against the
    binarized label — reverse-cumulative windows over the score COUNT
    relation. Oracle mirrors the sweep."""
    from ...operators import stats as st

    emb = _t(spark, sf_dir, "embeddings")
    d = emb.select(
        F.floor(F.element_at(F.col("embedding"), 7).cast("double")
                * F.lit(1000.0) + F.lit(0.5)).cast("bigint").alias("s"),
        (F.col("label") < 5).cast("int").alias("y"))
    return st.pr_curve(d, "s", "y")


_CP_TX, _CP_TY = _tile_xy_sql("12")


SQL_CLUSTER_PURITY = f"""
WITH {POINTS_CTE},
t AS (SELECT p.doc_id, d.lang, {_CP_TX} AS x, {_CP_TY} AS y
      FROM pts p JOIN documents d ON d.doc_id = p.doc_id),
g AS (SELECT CAST(x AS BIGINT) * 100000 + CAST(y AS BIGINT) AS txy,
             lang
      FROM t WHERE lang IS NOT NULL),
cells AS (SELECT txy, lang, CAST(count(*) AS BIGINT) AS c
          FROM g GROUP BY 1, 2),
top AS (SELECT txy, c AS mc FROM cells
        QUALIFY row_number() OVER (PARTITION BY txy
                                   ORDER BY c DESC, lang) = 1),
tot AS (SELECT txy, CAST(sum(c) AS BIGINT) AS nc
        FROM cells GROUP BY 1)
SELECT CAST(sum(nc) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(mc) AS BIGINT) AS n_majority,
       CAST(1000000 * sum(mc) // sum(nc) AS BIGINT) AS purity_ppm
FROM tot JOIN top USING (txy)
"""


@gate(SQL_CLUSTER_PURITY)
def q_cluster_purity(spark, sf_dir):
    """External clustering eval (stats.cluster_purity): how language-
    homogeneous are the z12 tiles — majority-class purity over the
    (tile, lang) contingency. Oracle re-derives the majorities with
    its own window."""
    from ...operators import stats as st

    docs = _t(spark, sf_dir, "documents")
    lng, lat = geo.point_udeg_cols(F.col("doc_id"))
    pts = docs.select("doc_id", "lang", lng, lat)
    tiles = geo.with_point_tiles(pts, F.lit(12))
    d = tiles.select(
        (F.col("x").cast("bigint") * 100000
         + F.col("y").cast("bigint")).alias("txy"), "lang")
    return st.cluster_purity(d, "txy", "lang")


SQL_SMOOTHED_RATES = f"""
WITH d AS (SELECT event_type,
                  CASE WHEN {_cents_sql('value')} >= 3500
                       THEN 1 ELSE 0 END AS pos
           FROM events WHERE value IS NOT NULL),
agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(pos) AS BIGINT) AS x
        FROM d GROUP BY 1)
SELECT event_type, n, x AS n_pos,
       CAST(1000000 * x // n AS BIGINT) AS raw_ppm,
       CAST(1000000 * (x + 5) // (n + 10) AS BIGINT) AS smoothed_ppm
FROM agg
"""


@gate(SQL_SMOOTHED_RATES)
def q_smoothed_rates(spark, sf_dir):
    """Cold-start smoothing (stats.smoothed_rates): Beta(5,5)-smoothed
    high-value rates per event type — integer pseudo-count shrinkage
    toward 0.5. Oracle mirrors the arithmetic."""
    from ...operators import stats as st

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    d = ev.select("event_type",
                  (_cents("value") >= 3500).cast("int").alias("pos"))
    return st.smoothed_rates(d, "event_type", "pos", alpha=5, beta=5)


SQL_GINI_TRAFFIC = """
WITH pu AS (SELECT user_id, CAST(count(*) AS BIGINT) AS v
            FROM events WHERE user_id IS NOT NULL GROUP BY 1),
vals AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM pu GROUP BY 1),
blk AS (SELECT v, c,
               coalesce(sum(c) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS p
        FROM vals)
SELECT CAST(sum(c) AS BIGINT) AS n,
       CAST(sum(v * c) AS BIGINT) AS total,
       CAST(sum(v * (c * p + c * (c + 1) // 2)) AS BIGINT) AS s1,
       CAST(CASE WHEN sum(c) > 0 AND sum(v * c) > 0 THEN
         floor((2.0 * CAST(sum(v * (c * p + c * (c + 1) // 2))
                      AS DOUBLE)
                / (CAST(sum(c) AS DOUBLE) * CAST(sum(v * c) AS DOUBLE))
                - CAST(sum(c) + 1 AS DOUBLE) / CAST(sum(c) AS DOUBLE))
               * 1000.0 + 0.5) END AS BIGINT) AS gini_milli
FROM blk
"""


@gate(SQL_GINI_TRAFFIC)
def q_gini_traffic(spark, sf_dir):
    """Traffic concentration (stats.gini_inequality): exact Gini over
    per-user event counts via the tied-block closed form on the
    value-count relation. Oracle re-derives blocks with its own
    windows."""
    from ...operators import stats as st

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull())
          .groupBy("user_id")
          .agg(F.count(F.lit(1)).cast("bigint").alias("n_events")))
    return st.gini_inequality(ev, "n_events")


SQL_ZIPF_FIT = """
WITH toks AS (
  SELECT u.tok FROM (
    SELECT list_filter(regexp_split_to_array(lower(trim(text)),
                                             '[^a-z0-9_]+'),
                       x -> x <> '') AS t
    FROM documents) q, UNNEST(t) AS u(tok)),
counts AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
           FROM toks GROUP BY 1),
rk AS (SELECT cnt,
              CAST(row_number() OVER (ORDER BY cnt DESC, tok)
                   AS BIGINT) AS rank
       FROM counts),
pts AS (SELECT
  CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
      AS lx,
  CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
      AS ly
  FROM rk WHERE rank > 0 AND cnt > 0),
m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(lx) AS BIGINT) AS sx,
             CAST(sum(ly) AS BIGINT) AS sy,
             CAST(sum(lx * ly) AS BIGINT) AS sxy,
             CAST(sum(lx * lx) AS BIGINT) AS sxx
      FROM pts)
SELECT n AS n_points,
       CAST(CASE WHEN n * sxx - sx * sx > 0 THEN
         floor(CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) * 1000.0 + 0.5)
       END AS BIGINT) AS slope_milli,
       CAST(CASE WHEN n * sxx - sx * sx > 0 THEN
         floor((CAST(sy AS DOUBLE)
                - CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE) / 1000000.0 * 1000.0 + 0.5)
       END AS BIGINT) AS intercept_milli
FROM m
"""


@gate(SQL_ZIPF_FIT)
def q_zipf_fit(spark, sf_dir):
    """Zipf's law (composition: token counts → rank window →
    stats.loglog_ols_fit): rank-frequency slope of the corpus
    vocabulary — completing the law-fitting trio with heaps_law and
    powerlaw_degrees. Oracle mirrors ranks and the fit."""
    from ...operators import stats as st

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.filter(
        F.split(F.lower(F.trim(F.col("text"))), "[^a-z0-9_]+"),
        lambda t: t != "")).alias("tok"))
    counts = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"))
    w = Window.orderBy(F.col("cnt").desc(), F.col("tok"))
    ranked = counts.withColumn("rank", F.row_number().over(w)
                               .cast("bigint"))
    return st.loglog_ols_fit(ranked, x_col="rank", cnt_col="cnt")


SQL_LORENZ_POINTS = """
WITH pu AS (SELECT user_id, CAST(count(*) AS BIGINT) AS v
            FROM events WHERE user_id IS NOT NULL GROUP BY 1),
vals AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM pu GROUP BY 1),
cum AS (SELECT v, c,
               sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cp,
               sum(v * c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                   AS cm,
               sum(c) OVER () AS n, sum(v * c) OVER () AS tot
        FROM vals),
pts AS (SELECT unnest(range(1, 11)) AS point)
SELECT CAST(point AS BIGINT) AS point,
       CAST(1000000 * min(cp) // max(n) AS BIGINT) AS pop_ppm,
       CAST(CASE WHEN max(tot) > 0
                 THEN 1000000 * min(cm) // max(tot) END AS BIGINT)
           AS mass_ppm
FROM cum, pts
WHERE cp >= (point * n + 9) // 10
GROUP BY 1
"""


@gate(SQL_LORENZ_POINTS)
def q_lorenz_points(spark, sf_dir):
    """Concentration curve (stats.lorenz_points): cumulative traffic
    share at population deciles over per-user event counts — the curve
    behind gini_traffic's number. Oracle re-derives block boundaries
    with its own windows."""
    from ...operators import stats as st

    ev = (_t(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull())
          .groupBy("user_id")
          .agg(F.count(F.lit(1)).cast("bigint").alias("n_events")))
    return st.lorenz_points(ev, "n_events", n_points=10)


SQL_TOPK_OVERLAP = """
WITH ra AS (SELECT doc_id AS i,
                   row_number() OVER (ORDER BY n_chars DESC, doc_id)
                       AS r
            FROM documents),
rb AS (SELECT doc_id AS i,
              row_number() OVER (ORDER BY (doc_id * 37) % 1000 DESC,
                                 doc_id) AS r
       FROM documents),
ks AS (SELECT unnest([10, 20, 50]) AS k),
ta AS (SELECT k, i FROM ra, ks WHERE r <= k),
tb AS (SELECT k, i FROM rb, ks WHERE r <= k),
m AS (SELECT coalesce(ta.k, tb.k) AS k,
             ta.i IS NOT NULL AND tb.i IS NOT NULL AS hit
      FROM ta FULL OUTER JOIN tb ON ta.k = tb.k AND ta.i = tb.i)
SELECT CAST(k AS BIGINT) AS k,
       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
           AS n_common,
       CAST(1000000 * sum(CASE WHEN hit THEN 1 ELSE 0 END)
            // count(*) AS BIGINT) AS jaccard_ppm
FROM m GROUP BY 1
"""


@gate(SQL_TOPK_OVERLAP)
def q_topk_overlap(spark, sf_dir):
    """Ranking agreement (stats.topk_overlap): Jaccard@{10,20,50}
    between ranking documents by length vs by the derived score —
    bounded k explodes + one co-keyed join. Oracle re-ranks both
    sides with its own windows."""
    from ...operators import stats as st

    docs = _t(spark, sf_dir, "documents")
    wa = Window.orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    wb = Window.orderBy(((F.col("doc_id") * 37) % 1000).desc(),
                        F.col("doc_id"))
    ra = docs.select(F.col("doc_id").alias("id"),
                     F.row_number().over(wa).cast("bigint")
                     .alias("rank"))
    rb = docs.select(F.col("doc_id").alias("id"),
                     F.row_number().over(wb).cast("bigint")
                     .alias("rank"))
    return st.topk_overlap(ra, rb, ks=(10, 20, 50))
