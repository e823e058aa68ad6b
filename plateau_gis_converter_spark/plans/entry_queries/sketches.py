"""Sketch and sampling gates: count-min, HyperLogLog, Bloom and bitmap
sketches, KMV set operations, and the sampling and packing operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from ...functions import geo
from ...operators import dedup as dd
from ._common import (
    POINTS_CTE, SHINGLES_CTE, _points_df, _t, _t_count, _tile_xy_sql, gate,
)


SQL_DOMAIN_CAP = """
WITH pages AS (
  SELECT doc_id, n_chars,
    'site' || CAST(doc_id % 5 AS VARCHAR) ||
    CASE doc_id % 4 WHEN 0 THEN '.co.jp' WHEN 1 THEN '.com'
                    WHEN 2 THEN '.co.uk' ELSE '.org' END AS domain
  FROM documents
),
r AS (
  SELECT doc_id, domain, n_chars,
         row_number() OVER (PARTITION BY domain
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM pages
)
SELECT doc_id, domain, CAST(n_chars AS BIGINT) AS n_chars
FROM r WHERE rk <= 3
"""


@gate(SQL_DOMAIN_CAP)
def q_domain_cap(spark, sf_dir):
    """Per-registered-domain document cap (operators/sampling.py
    cap_per_group): synthesize hosts over multi-part suffixes (reusing
    the PSL semantics), cap at 3 docs per domain keeping the longest
    (n_chars desc, doc_id tiebreak), via the SKEW-SALTED two-phase
    top-N path (skew_salts=4). The oracle is the plain single-window
    row_number formulation — passing proves the salted plan is
    result-invariant, the same proof shape as skew_salted_agg."""
    from ...operators import sampling as smp
    from ...operators import urls

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    m4 = did % 4
    tld = (F.when(m4 == 0, ".co.jp").when(m4 == 1, ".com")
           .when(m4 == 2, ".co.uk").otherwise(".org"))
    host = F.concat(F.lit("site"), (did % 5).cast("string"), tld)
    pages = docs.select("doc_id", "n_chars",
                        urls.registered_domain(host).alias("domain"))
    capped = smp.cap_per_group(pages, "domain", 3,
                               order_by=[-F.col("n_chars")],
                               skew_salts=4)
    return capped.select("doc_id", "domain",
                         F.col("n_chars").cast("bigint").alias("n_chars"))


_SAMPLE_RATES = {"en": 800_000, "de": 500_000, "fr": 250_000,
                 "es": 250_000, "zh": 100_000}


_RATE_CASE = " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in sorted(_SAMPLE_RATES.items()))


SQL_STRATIFIED_SAMPLE = f"""
WITH b AS (
  SELECT doc_id, lang,
    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || 's0'), 1, 15))
         AS BIGINT) % 1000000 AS bucket,
    CAST(concat('0x',
         substr(md5(CAST(doc_id AS VARCHAR) || 'split0'), 1, 15))
         AS BIGINT) % 1000000 AS sbucket
  FROM documents
)
SELECT doc_id, lang,
  CASE WHEN sbucket < 100000 THEN 'val'
       WHEN sbucket < 200000 THEN 'test'
       ELSE 'train' END AS split
FROM b
WHERE bucket < (CASE lang {_RATE_CASE} ELSE 0 END)
"""


@gate(SQL_STRATIFIED_SAMPLE)
def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling for training-data mixes
    (operators/sampling.py): per-lang ppm rates via an md5 Bernoulli
    draw — the sample is a pure function of (doc_id, salt, rates), so
    the oracle reproduces it exactly. Also emits the split assignment
    (train/val/test from disjoint bucket ranges)."""
    from ...operators import sampling as sp

    docs = _t(spark, sf_dir, "documents")
    kept = sp.stratified_sample(docs, _SAMPLE_RATES, stratum_col="lang",
                                key_col="doc_id", salt="s0")
    return (sp.deterministic_split(kept, "doc_id", val_ppm=100_000,
                                   test_ppm=100_000, salt="split0")
            .select("doc_id", "lang", "split"))


SQL_PACK_CHUNKS = """
WITH n AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split_regex(trim(text), '[^A-Za-z0-9_]+'),
        x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        AS token_start
  FROM n
)
SELECT doc_id, n_tokens, token_start,
  token_start // 1024 AS chunk_start,
  CASE WHEN n_tokens > 0 THEN (token_start + n_tokens - 1) // 1024
       ELSE token_start // 1024 - 1 END AS chunk_end
FROM c
"""


@gate(SQL_PACK_CHUNKS)
def q_pack_chunks(spark, sf_dir):
    """Concat-and-chunk sequence packing (operators/packing.py): global
    token prefix sum via the two-phase distributed scan (range partitions
    + O(partitions) driver offsets), 1024-token chunks. Boundary-
    independent, so the oracle is a plain window cumsum."""
    from ...operators import packing as pk

    docs = _t(spark, sf_dir, "documents")
    return pk.pack_concat_chunks(docs, budget=1024)


SQL_PACK_COMPOSITION = """
WITH n AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split_regex(trim(text), '[^A-Za-z0-9_]+'),
        x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        AS token_start
  FROM n
),
x AS (
  SELECT doc_id, n_tokens, token_start,
    unnest(generate_series(token_start // 1024,
                           (token_start + n_tokens - 1) // 1024))
        AS chunk_id
  FROM c WHERE n_tokens > 0
)
SELECT CAST(chunk_id AS BIGINT) AS chunk_id, doc_id,
  CAST(greatest(token_start, chunk_id * 1024) - token_start AS BIGINT)
      AS span_start,
  CAST(least(token_start + n_tokens, (chunk_id + 1) * 1024)
       - greatest(token_start, chunk_id * 1024) AS BIGINT) AS span_len,
  CAST(greatest(token_start, chunk_id * 1024) - chunk_id * 1024 AS BIGINT)
      AS chunk_offset
FROM x
"""


@gate(SQL_PACK_COMPOSITION)
def q_pack_composition(spark, sf_dir):
    """Chunk composition — the inverse packing map a training loader
    consumes (operators/packing.py pack_chunk_composition, VERDICT r4
    #8): per (chunk, doc-span) row with intra-doc and intra-chunk
    offsets, from one map-side explode of each doc's straddle range. The
    oracle unrolls the same ranges with generate_series over the window
    cumsum."""
    from ...operators import packing as pk

    docs = _t(spark, sf_dir, "documents")
    return pk.pack_chunk_composition(docs, budget=1024)


SQL_DECONTAMINATE_BLOOM = f"""
WITH {SHINGLES_CTE},
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 89 = 0),
shared AS (
  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shared
  FROM sh s JOIN bench b ON s.shingle = b.shingle GROUP BY 1
),
base AS (SELECT DISTINCT doc_id FROM sh)
SELECT base.doc_id,
       coalesce(shared.n_shared, 0) AS n_shared,
       CAST(coalesce(shared.n_shared, 0) >= 2 AS BIGINT) AS contaminated
FROM base LEFT JOIN shared ON base.doc_id = shared.doc_id
"""


@gate(SQL_DECONTAMINATE_BLOOM)
def q_decontaminate_bloom(spark, sf_dir):
    """Bloom-prefiltered decontamination (operators/bloom.py): benchmark
    shingles (doc_id % 89 == 0) build a Bloom filter whose set-bit
    positions stay a DataFrame; the k=4 JVM xxhash64 bit tests are
    broadcast LEFT SEMI hash joins (zero Python, zero shuffle on the
    corpus side, zero driver collect — the inset probe's per-literal py4j
    plan build cost 29 s at sf0.1); only corpus shingles passing the
    filter reach the exact broadcast verify join, so the result is
    IDENTICAL to the plain operator (no false negatives by construction,
    false positives removed by the verify). The oracle is the exact
    computation — the gate therefore proves the prefilter is lossless,
    the same invariance pattern as ``skew_salted_agg`` vs plain
    GROUP BY."""
    from ...operators import bloom as bl

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 89 == 0)
    out = bl.decontaminate_bloom(docs, bench, n=3, min_shared=2,
                                 m_bits=1 << 18, k=4, probe="semijoin")
    return out.select("doc_id", "n_shared",
                      F.col("contaminated").cast("int").cast("bigint")
                      .alias("contaminated"))


SQL_WEIGHTED_SAMPLE = """
SELECT doc_id, n_chars
FROM documents
WHERE (CAST(concat('0x',
         substr(md5(CAST(doc_id AS VARCHAR) || 'w0'), 1, 15))
       AS BIGINT) % 1000000) * 1000
      < greatest(least(n_chars, 1000), 0) * 1000000
"""


@gate(SQL_WEIGHTED_SAMPLE)
def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted Bernoulli sample
    (sampling.weighted_sample): keep probability proportional to
    n_chars (clamped at 1000) via the md5 bucket and an all-integer
    cross-multiply — the kept set is a pure function of
    (doc_id, salt, weight), so the oracle reproduces it exactly."""
    from ...operators import sampling as sp

    docs = _t(spark, sf_dir, "documents")
    return (sp.weighted_sample(docs, "n_chars", max_weight=1000,
                               key_col="doc_id", salt="w0")
            .select("doc_id", "n_chars"))


SQL_HLL_REGISTERS = f"""
WITH {SHINGLES_CTE},
h AS (
  SELECT CAST(concat('0x', substr(md5(shingle || 'hll'), 1, 15))
              AS BIGINT) AS hv
  FROM sh),
br AS (
  SELECT hv // {1 << 50} AS bucket, hv % {1 << 50} AS rest FROM h)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(max(CASE WHEN rest = 0 THEN 51
                     ELSE 50 - (length(bin(rest)) - 1) END)
            AS BIGINT) AS r
FROM br GROUP BY bucket
"""


@gate(SQL_HLL_REGISTERS)
def q_hll_registers(spark, sf_dir):
    """HyperLogLog registers (operators/cardinality.py): distinct-shingle
    cardinality sketch with the engine-portable 60-bit md5 hash, p=10.
    One partial-agg groupBy bounded at 2^p rows regardless of corpus
    size; registers are mergeable (elementwise max — pytest).  The gate
    compares the INTEGER registers bit-for-bit (the float estimate is
    derived outside the gate); the oracle recomputes bucket/rho with
    div-mod arithmetic + the unpadded-binary floor_log2 identity."""
    from ...operators import cardinality as cd

    docs = _t(spark, sf_dir, "documents")
    sh = dd.shingles(docs)
    return cd.hll_registers(sh, "shingle", p=10)


SQL_BOTTOM_K_SAMPLE = """
WITH d AS (SELECT DISTINCT lang, doc_id FROM documents),
h AS (SELECT lang, doc_id,
      CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || 'bk0'),
                               1, 15)) AS BIGINT) AS h
      FROM d),
r AS (SELECT lang, doc_id, h,
      CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)
           AS BIGINT) AS r
      FROM h)
SELECT lang, doc_id, h, r FROM r WHERE r <= 16
"""


@gate(SQL_BOTTOM_K_SAMPLE)
def q_bottom_k_sample(spark, sf_dir):
    """Bottom-k (KMV) distinct sample per language
    (sampling.bottom_k_sketch): the 16 distinct doc_ids with the
    smallest md5 hash per lang — mergeable distinct-value sketch;
    oracle re-derives the hash + window rank independently."""
    from ...operators import sampling as sp

    docs = _t(spark, sf_dir, "documents")
    return sp.bottom_k_sketch(docs, "doc_id", k=16, group_cols=["lang"])


def _cms_sql(depth: int = 4, width: int = 256) -> str:
    cells = " UNION ALL ".join(
        f"SELECT {r} AS rw, CAST(concat('0x', substr(md5(tok || ':cms{r}'),"
        f" 1, 15)) AS BIGINT) % {width} AS bucket FROM tok"
        for r in range(depth))
    return f"""
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents),
tok AS (SELECT u.tok AS tok FROM toks, UNNEST(t) AS u(tok)),
cells AS ({cells})
SELECT CAST(rw AS BIGINT) AS row, CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS cnt
FROM cells GROUP BY 1, 2
"""


SQL_CMS_REGISTERS = _cms_sql()


@gate(SQL_CMS_REGISTERS)
def q_cms_registers(spark, sf_dir):
    """Count-min sketch registers (operators/cms.py): token-frequency
    sketch, depth 4 x width 256, salted 60-bit md5 row hashes.  One
    explode + ONE partial-agg groupBy bounded at d*w rows regardless of
    corpus size; registers mergeable by elementwise sum (pytest), point
    estimates never undercount (pytest).  The gate compares the INTEGER
    registers bit-for-bit; the oracle recomputes each row's bucket with
    the same md5-salt + mod arithmetic."""
    from ...operators import cms

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(
        F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9_]+"),
                 lambda t: t != "")).alias("tok"))
    return cms.cms_registers(toks, "tok", depth=4, width=256)


def _cms_estimate_sql(depth: int = 4, width: int = 256) -> str:
    cells = " UNION ALL ".join(
        f"SELECT {r} AS rw, CAST(concat('0x', substr(md5(tok || ':cms{r}'),"
        f" 1, 15)) AS BIGINT) % {width} AS bucket FROM tok"
        for r in range(depth))
    probes = " UNION ALL ".join(
        f"SELECT tok AS key, {r} AS rw, CAST(concat('0x', substr(md5(tok ||"
        f" ':cms{r}'), 1, 15)) AS BIGINT) % {width} AS bucket FROM keys"
        for r in range(depth))
    return f"""
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents),
tok AS (SELECT u.tok AS tok FROM toks, UNNEST(t) AS u(tok)),
cells AS ({cells}),
regs AS (
  SELECT rw, bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM cells GROUP BY 1, 2),
keys AS (SELECT tok FROM tok GROUP BY tok HAVING count(*) >= 50),
probe AS ({probes})
SELECT p.key, CAST(min(coalesce(r.cnt, 0)) AS BIGINT) AS est
FROM probe p LEFT JOIN regs r ON r.rw = p.rw AND r.bucket = p.bucket
GROUP BY p.key
"""


SQL_CMS_ESTIMATE = _cms_estimate_sql()


@gate(SQL_CMS_ESTIMATE)
def q_cms_estimate(spark, sf_dir):
    """CMS point-estimate probe (cms.cms_estimate): for every token whose
    exact count >= 50, the estimate = min over the d register rows at the
    token's salted buckets (broadcast probe, map-local).  Integer mins
    over integer sums — the oracle recomputes registers AND probe with
    the same md5+mod arithmetic, so estimates match bit-for-bit; the
    never-undercount guarantee itself is pytest-proven."""
    from ...operators import cms

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(
        F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9_]+"),
                 lambda t: t != "")).alias("tok")).persist()
    regs = cms.cms_registers(toks, "tok", depth=4, width=256)
    keys = (toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") >= 50).select("tok"))
    return cms.cms_estimate(regs, keys, "tok", depth=4, width=256)


def _cms_join_size_sql(depth: int = 4, width: int = 512) -> str:
    def cells(src: str) -> str:
        return " UNION ALL ".join(
            f"SELECT {r} AS rw, CAST(concat('0x', substr(md5(CAST(k AS "
            f"VARCHAR) || ':cms{r}'), 1, 15)) AS BIGINT) % {width} AS "
            f"bucket FROM {src}"
            for r in range(depth))
    return f"""
WITH ka AS (SELECT o_custkey AS k FROM orders),
kb AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 3 = 0),
ca AS ({cells('ka')}),
cb AS ({cells('kb')}),
ra AS (SELECT rw, bucket, CAST(count(*) AS BIGINT) AS cnt
       FROM ca GROUP BY 1, 2),
rb AS (SELECT rw, bucket, CAST(count(*) AS BIGINT) AS cnt
       FROM cb GROUP BY 1, 2),
p AS (SELECT ra.rw, sum(ra.cnt * rb.cnt) AS s
      FROM ra JOIN rb ON ra.rw = rb.rw AND ra.bucket = rb.bucket
      GROUP BY 1)
SELECT CAST(CASE WHEN (SELECT count(*) FROM p) < {depth} THEN 0
            ELSE (SELECT min(s) FROM p) END AS BIGINT) AS est_join_size
"""


SQL_CMS_JOIN_SIZE = _cms_join_size_sql()


@gate(SQL_CMS_JOIN_SIZE)
def q_cms_join_size(spark, sf_dir):
    """Join-size estimation from two CMS sketches (cms.cms_inner_product,
    Cormode & Muthukrishnan 2005 §4.2): the planner-side estimate of
    |orders JOIN customer(custkey % 3 = 0)| computed purely from the two
    d*w register relations — min over rows of the per-row register dot
    product, never an undercount.  Integer products of integer sums; the
    oracle recomputes both registers and the same min/sum arithmetic, so
    the estimate matches bit-for-bit."""
    from ...operators import cms

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    a = cms.cms_registers(orders.select(F.col("o_custkey").alias("k")),
                          "k", depth=4, width=512)
    b = cms.cms_registers(cust.where(F.col("c_custkey") % 3 == 0)
                          .select(F.col("c_custkey").alias("k")),
                          "k", depth=4, width=512)
    return cms.cms_inner_product(a, b, depth=4)


_TX11, _TY11 = _tile_xy_sql("11")


SQL_HLL_TILE_ROLLUP = f"""
WITH {POINTS_CTE},
p2 AS (
  SELECT d.source AS source, p.lng_udeg, p.lat_udeg
  FROM documents d JOIN pts p ON d.doc_id = p.doc_id),
t AS (
  SELECT source, {_TX11} AS x, {_TY11} AS y
  FROM p2),
h AS (
  SELECT x, y,
         CAST(concat('0x', substr(md5(source || 'hll'), 1, 15)) AS BIGINT)
             AS hv
  FROM t),
br AS (SELECT x, y, hv // {1 << 52} AS bucket, hv % {1 << 52} AS rest
       FROM h)
SELECT CAST(11 AS INT) AS z, x, y, CAST(bucket AS BIGINT) AS bucket,
       CAST(max(CASE WHEN rest = 0 THEN 53
                     ELSE 52 - (length(bin(rest)) - 1) END) AS BIGINT) AS r
FROM br GROUP BY 2, 3, 4
"""


@gate(SQL_HLL_TILE_ROLLUP)
def q_hll_tile_rollup(spark, sf_dir):
    """HLL sketch rollup up the tile pyramid (cardinality.
    hll_rollup_tiles): per-z13-tile distinct-source registers rolled two
    levels to z11 by elementwise max — the oracle computes the z11
    registers DIRECTLY from the raw points, proving the rollup is
    bit-identical to re-sketching at the lower zoom (max associativity
    + tile-floor commutation). A production 'distinct domains per tile
    at every zoom' sketches the corpus once at max zoom."""
    from ...operators import cardinality as cd

    docs = _t(spark, sf_dir, "documents")
    lng, lat = geo.point_udeg_cols(F.col("doc_id"))
    pts = docs.select("source", lng, lat)
    z = F.lit(13)
    mx = geo.mercator_mx(geo.udeg_to_deg(F.col("lng_udeg")))
    my = geo.mercator_my(geo.udeg_to_deg(F.col("lat_udeg")))
    tiled = (pts.withColumn("z", z.cast("int"))
             .withColumn("x", geo.tile_x(z, mx))
             .withColumn("y", geo.tile_y(z, my)))
    regs13 = cd.hll_registers_grouped(tiled, "source", ["z", "x", "y"],
                                      p=8)
    return cd.hll_rollup_tiles(regs13, levels=2)


SQL_GROUP_CARDINALITY = f"""
WITH h AS (
  SELECT event_type,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR) || 'hll'),
              1, 15)) AS BIGINT) AS hv
  FROM events WHERE user_id IS NOT NULL),
br AS (
  SELECT event_type, hv // {1 << 52} AS bucket, hv % {1 << 52} AS rest
  FROM h)
SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
       CAST(max(CASE WHEN rest = 0 THEN 53
                     ELSE 52 - (length(bin(rest)) - 1) END)
            AS BIGINT) AS r
FROM br GROUP BY event_type, bucket
"""


@gate(SQL_GROUP_CARDINALITY)
def q_group_cardinality(spark, sf_dir):
    """Per-group HLL registers (cardinality.hll_registers_grouped):
    distinct users per event type as one partial-agg groupBy — output
    bounded at n_groups * 2^p rows, each group's registers independently
    mergeable.  Integer registers compared bit-for-bit; div/mod oracle."""
    from ...operators import cardinality as cd

    ev = _t(spark, sf_dir, "events")
    return cd.hll_registers_grouped(ev, "user_id", ["event_type"], p=8)


SQL_EXACT_SPLIT = """
WITH b AS (
  SELECT doc_id, lang,
    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || 'xsplit0'),
         1, 15)) AS BIGINT) % 1000000 AS bk
  FROM documents
),
r AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY bk, doc_id) AS rk,
         count(*) OVER (PARTITION BY lang) AS n
  FROM b
)
SELECT doc_id, lang,
  CASE WHEN rk <= (n * 100000) // 1000000 THEN 'val'
       WHEN rk <= (n * 100000) // 1000000 + (n * 50000) // 1000000
         THEN 'test'
       ELSE 'train' END AS split
FROM r
"""


@gate(SQL_EXACT_SPLIT)
def q_exact_split(spark, sf_dir):
    """Exact-count stratified splits (sampling.stratified_exact_split):
    every language gets exactly floor(ppm * n_lang / 10^6) val/test rows
    — Bernoulli splitting only hits quotas in expectation.  Rows rank by
    (md5 hash bucket, key) inside the stratum; one window + a broadcast
    count join.  Oracle: independent row_number / count window pair."""
    from ...operators import sampling as sp

    docs = _t(spark, sf_dir, "documents")
    out = sp.stratified_exact_split(
        docs, {"val": 100_000, "test": 50_000}, "lang", "doc_id")
    return out.select("doc_id", "lang", "split")


SQL_KMV_SET_OPS = """
WITH d AS (
  SELECT DISTINCT lang AS g, CAST(doc_id % 229 AS VARCHAR) AS key
  FROM documents
),
h AS (
  SELECT g, key,
         CAST(concat('0x', substr(md5(key || 'bk0'), 1, 15)) AS BIGINT) AS h
  FROM d
),
sk AS (
  SELECT g, h FROM (
    SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h, key) AS r
    FROM h) WHERE r <= 32
),
gs AS (SELECT DISTINCT g FROM sk),
pr AS (SELECT a.g AS ga, b.g AS gb FROM gs a, gs b WHERE a.g < b.g),
u AS (
  SELECT pr.ga, pr.gb, s.h,
         max(CASE WHEN s.g = pr.ga THEN 1 ELSE 0 END) AS ina,
         max(CASE WHEN s.g = pr.gb THEN 1 ELSE 0 END) AS inb
  FROM pr JOIN sk s ON s.g IN (pr.ga, pr.gb)
  GROUP BY 1, 2, 3
),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS r,
         count(*) OVER (PARTITION BY ga, gb) AS ntot
  FROM u
),
agg AS (
  SELECT ga, gb, max(ntot) AS ntot,
         CAST(max(h) FILTER (WHERE r <= 32) AS BIGINT) AS kth,
         CAST(count(*) FILTER (WHERE r <= 32) AS BIGINT) AS sz,
         CAST(sum(ina * inb) FILTER (WHERE r <= 32) AS BIGINT) AS m
  FROM rk GROUP BY 1, 2
)
SELECT ga AS g_a, gb AS g_b,
  CASE WHEN sz < 32 THEN sz
       ELSE CAST(31 * 1099511627776 // greatest(kth // 1048576, 1)
                 AS BIGINT) END AS union_est,
  CASE WHEN sz < 32 THEN m
       ELSE CAST(m * (31 * 1099511627776
                      // greatest(kth // 1048576, 1)) // 32 AS BIGINT)
       END AS inter_est
FROM agg
"""


@gate(SQL_KMV_SET_OPS)
def q_kmv_set_ops(spark, sf_dir):
    """Theta-sketch set-operation estimates (sampling.kmv_set_ops) between
    language groups' url-key populations (doc_id % 229 — overlapping
    across langs) from k=32 bottom-k sketches.  md5-derived hashes make
    the estimates bit-reproducible; the oracle re-derives sketch, merge,
    and both estimators with an independent window formulation (no list
    algebra)."""
    from ...operators import sampling as sp

    docs = _t(spark, sf_dir, "documents")
    keyed = docs.select("lang", (F.col("doc_id") % 229).cast("string")
                        .alias("key"))
    sk = sp.bottom_k_sketch(keyed, "key", 32, ["lang"])
    return sp.kmv_set_ops(sk, "lang", 32)


SQL_HLL_ESTIMATE = f"""
WITH h AS (
  SELECT lang,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || 'hll'),
                                  1, 15)) AS BIGINT) AS hv
  FROM documents WHERE lang IS NOT NULL),
br AS (SELECT lang, hv // {1 << 54} AS bucket, hv % {1 << 54} AS rest
       FROM h),
reg AS (
  SELECT lang, bucket,
         CAST(max(CASE WHEN rest = 0 THEN 55
                       ELSE 54 - (length(bin(rest)) - 1) END) AS BIGINT)
             AS r
  FROM br GROUP BY 1, 2),
per AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(sum(CAST(1 AS BIGINT) << CAST(56 - r AS INT)) AS BIGINT)
             AS s_present
  FROM reg GROUP BY 1),
scal AS (
  SELECT lang, n_buckets,
         CAST(s_present + (64 - n_buckets) * {1 << 56} AS BIGINT)
             AS s_scaled
  FROM per),
est AS (
  SELECT lang, n_buckets, s_scaled,
         0.709 * 64.0 * 64.0 * {float(1 << 56)}
             / CAST(s_scaled AS DOUBLE) AS raw,
         64 - n_buckets AS zeros
  FROM scal),
fin AS (
  SELECT lang, n_buckets, s_scaled,
         CAST(floor((CASE WHEN raw <= 160.0 AND zeros > 0
                          THEN 64.0 * ln(64.0 / CAST(zeros AS DOUBLE))
                          ELSE raw END) + 0.5) AS BIGINT) AS est_distinct
  FROM est),
ex AS (SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT)
           AS exact_distinct
       FROM documents WHERE lang IS NOT NULL GROUP BY 1)
SELECT fin.lang, fin.n_buckets, fin.s_scaled, fin.est_distinct,
       ex.exact_distinct
FROM fin JOIN ex USING (lang)
"""


@gate(SQL_HLL_ESTIMATE)
def q_hll_estimate(spark, sf_dir):
    """Distributed HLL estimate READ (cardinality.hll_estimate_grouped,
    p=6 so both the raw-harmonic and linear-counting branches are live
    on this fixture): per-lang distinct-doc estimates from the register
    relation — exact-integer harmonic denominator (sum of powers of
    two), then ONE fixed-order scalar double chain; exact distinct
    joined alongside for accuracy reading. Oracle re-derives registers,
    S, and the same scalar chain."""
    from ...operators import cardinality as cd

    docs = (_t(spark, sf_dir, "documents")
            .where(F.col("lang").isNotNull())
            .select("lang", F.col("doc_id").cast("string").alias("k")))
    regs = cd.hll_registers_grouped(docs, "k", ["lang"], p=6)
    est = cd.hll_estimate_grouped(regs, ["lang"], p=6)
    exact = docs.groupBy("lang").agg(
        F.countDistinct("k").cast("bigint").alias("exact_distinct"))
    return est.join(exact, "lang")


_TTX10, _TTY10 = _tile_xy_sql("10")


SQL_TILE_TOP_SOURCES = f"""
WITH {POINTS_CTE},
t AS (
  SELECT d.source AS source, {_TTX10} AS x, {_TTY10} AS y
  FROM documents d JOIN pts p ON d.doc_id = p.doc_id),
c AS (
  SELECT x, y, source, CAST(count(*) AS BIGINT) AS n
  FROM t GROUP BY 1, 2, 3),
r AS (
  SELECT x, y, source, n,
         row_number() OVER (PARTITION BY x, y
                            ORDER BY n DESC, source) AS rk
  FROM c)
SELECT x, y, source, n FROM r WHERE rk <= 3
"""


@gate(SQL_TILE_TOP_SOURCES)
def q_tile_top_sources(spark, sf_dir):
    """Per-tile top sources — the geo x web composition gate: documents
    tiled at z10, counted per (tile, source), then the deterministic
    per-tile top-3 via the SALTED two-phase cap (sampling.cap_per_group
    with skew_salts=4 — the union of per-cell top-N contains the global
    top-N, so the salted plan is result-invariant; the oracle is the
    plain window). Order: (n desc, source asc)."""
    from ...operators import sampling as sm

    docs = _t(spark, sf_dir, "documents")
    lng, lat = geo.point_udeg_cols(F.col("doc_id"))
    pts = docs.select("source", lng, lat)
    z = F.lit(10)
    mx = geo.mercator_mx(geo.udeg_to_deg(F.col("lng_udeg")))
    my = geo.mercator_my(geo.udeg_to_deg(F.col("lat_udeg")))
    tiled = (pts.withColumn("x", geo.tile_x(z, mx))
             .withColumn("y", geo.tile_y(z, my)))
    counts = (tiled.groupBy("x", "y", "source")
              .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
              .withColumn("tile_key", F.col("x") * F.lit(1 << 32)
                          + F.col("y")))
    capped = sm.cap_per_group(counts, "tile_key", 3,
                              order_by=[F.col("n").desc()],
                              key_col="source", skew_salts=4)
    return capped.select("x", "y", "source", "n")


SQL_BITMAP_OVERLAP = """
WITH d AS (SELECT DISTINCT event_type AS seg, user_id AS m
           FROM events
           WHERE event_type IS NOT NULL AND user_id IS NOT NULL
             AND user_id >= 0),
s AS (SELECT seg, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
i AS (SELECT a.seg AS sa, b.seg AS sb, CAST(count(*) AS BIGINT) AS c
      FROM d a JOIN d b ON a.m = b.m AND a.seg < b.seg GROUP BY 1, 2)
SELECT sa.seg AS seg_a, sb.seg AS seg_b, sa.n AS n_a, sb.n AS n_b,
       CAST(coalesce(i.c, 0) AS BIGINT) AS n_common,
       sa.n + sb.n - CAST(coalesce(i.c, 0) AS BIGINT) AS n_union
FROM s sa JOIN s sb ON sa.seg < sb.seg
LEFT JOIN i ON i.sa = sa.seg AND i.sb = sb.seg
"""


@gate(SQL_BITMAP_OVERLAP)
def q_bitmap_overlap(spark, sf_dir):
    """Exact audience overlap via packed bitmaps (bitmap.segment_overlap):
    every event-type pair's exact shared/total distinct-user counts from
    64-bit-word bitmap relations (bit_or partial agg -> word-aligned AND
    + popcount), never a per-pair COUNT(DISTINCT) rescan. Oracle: the
    naive distinct-pair self-join the bitmaps replace."""
    from ...operators import bitmap as bmp

    ev = _t(spark, sf_dir, "events")
    return bmp.segment_overlap(ev, "event_type", "user_id")


SQL_AMS_F2 = """
SELECT CAST(r.i AS BIGINT) AS reg,
       CAST(sum(1 - 2 * (CAST(concat('0x',
                substr(md5(CAST(user_id AS VARCHAR) || ':ams' || r.i),
                       1, 15)) AS BIGINT) % 2)) AS BIGINT) AS z
FROM events, UNNEST(range(32)) AS r(i)
WHERE user_id IS NOT NULL
GROUP BY 1
"""


@gate(SQL_AMS_F2)
def q_ams_f2(spark, sf_dir):
    """AMS tug-of-war F2 sketch (cms.ams_f2_registers): 32 integer
    registers of md5-Rademacher-signed user_id counts — the self-join-
    size / key-skew diagnostic, sketch family #6. Bit-for-bit register
    gate (the cms_registers pattern); oracle recomputes each register's
    sign sum with the same md5-salt arithmetic."""
    from ...operators import cms

    ev = _t(spark, sf_dir, "events")
    return cms.ams_f2_registers(ev, "user_id", n_reg=32)


SQL_NEGATIVE_SAMPLES = """
WITH nn AS (SELECT count(*) AS n FROM documents),
pos AS (SELECT doc_id % 37 AS q, doc_id AS d FROM documents),
qs AS (SELECT DISTINCT q FROM pos),
h AS (SELECT q, CAST(concat('0x', substr(md5(CAST(q AS VARCHAR)
             || ':neg'), 1, 15)) AS BIGINT) AS h
      FROM qs),
cand AS (SELECT q, CAST(j.i AS BIGINT) AS j,
                (h + j.i * 2654435761) % nn.n AS cand
         FROM h, nn, UNNEST(range(9)) AS j(i)),
dd AS (SELECT q, cand, min(j) AS j FROM cand GROUP BY 1, 2),
neg AS (SELECT * FROM dd
        WHERE NOT EXISTS (SELECT 1 FROM pos
                          WHERE pos.q = dd.q AND pos.d = dd.cand))
SELECT q AS query_id,
       CAST(row_number() OVER w AS BIGINT) AS rank,
       CAST(cand AS BIGINT) AS neg_id
FROM neg
WINDOW w AS (PARTITION BY q ORDER BY j, cand)
QUALIFY row_number() OVER w <= 5
"""


@gate(SQL_NEGATIVE_SAMPLES)
def q_negative_samples(spark, sf_dir):
    """Contrastive negative sampling (sampling.negative_samples): 5
    hash-ring negatives per query over 37 deterministic query groups
    (positives = the group's own documents) — candidates generated
    directly on the ring, NEVER a per-query corpus scan; positives
    removed by one anti-join. Oracle mirrors the ring arithmetic and
    re-derives exclusion/ranking with NOT EXISTS + an independent
    window."""
    from ...operators import sampling as sp

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    positives = docs.select((F.col("doc_id") % 37).alias("query_id"),
                            "doc_id")
    return sp.negative_samples(positives, k=5, n_docs=n)


SQL_MIX_PLAN = """
WITH src AS (SELECT lang AS source, CAST(sum(n_chars) AS BIGINT) AS a,
                    CAST(ascii(substr(lang, 1, 1)) - 96 AS BIGINT) AS w
             FROM documents WHERE lang IS NOT NULL GROUP BY lang),
bb AS (SELECT CAST(sum(n_chars) AS BIGINT) * 3 // 5 AS b
       FROM documents WHERE lang IS NOT NULL),
ordr AS (SELECT source, a, w,
                coalesce(sum(a) OVER (
                  ORDER BY CAST(a AS DOUBLE) / CAST(w AS DOUBLE), source
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS cum_a,
                sum(w) OVER (
                  ORDER BY CAST(a AS DOUBLE) / CAST(w AS DOUBLE), source
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                    AS w_rest
         FROM src),
fl AS (SELECT ordr.*, a * w_rest <= (bb.b - cum_a) * w AS sat
       FROM ordr, bb),
lv AS (SELECT bb.b - coalesce(sum(CASE WHEN sat THEN a END), 0) AS lam_n,
              coalesce(sum(CASE WHEN NOT sat THEN w END), 0) AS lam_d
       FROM fl, bb GROUP BY bb.b)
SELECT source, a AS avail, w AS weight,
       CAST(sat AS INT) AS saturated,
       CAST(CASE WHEN sat THEN a
                 WHEN lam_d > 0 THEN lam_n * w // lam_d
                 ELSE 0 END AS BIGINT) AS quota
FROM fl, lv
"""


@gate(SQL_MIX_PLAN)
def q_mix_plan(spark, sf_dir):
    """Training-mix water-filling (sampling.mix_waterfill): allocate a
    60%-of-corpus token budget across languages by first-letter-derived
    weights — scarce languages saturate (whole availability taken),
    the rest split the residue at the exact rational water level.
    Saturation decided by the cross-multiplied integer test; oracle
    re-derives the sorted prefix condition with its own windows."""
    from ...operators import sampling as sp

    docs = _t(spark, sf_dir, "documents").where(
        F.col("lang").isNotNull())
    src = (docs.groupBy("lang")
           .agg(F.sum("n_chars").cast("bigint").alias("avail"))
           .select(F.col("lang").alias("source"), "avail",
                   (F.ascii(F.substring(F.col("lang"), 1, 1)) - 96)
                   .cast("bigint").alias("weight")))
    # r6 OPTIMIZATION (VERDICT r5 #3): the 60%-of-corpus budget scalar
    # folds in LAZILY as a 1-row aggregate relation (broadcast crossJoin
    # inside mix_waterfill) instead of an eager driver collect() that
    # forced a full extra pass over documents at plan-build time.
    # (sum * 3) div 5 == int(total) * 3 // 5 for the non-negative sum.
    budget = docs.agg(F.expr(
        "(coalesce(sum(n_chars), 0) * 3) div 5").cast("bigint")
        .alias("__budget"))
    out = sp.mix_waterfill(src, budget)
    return out.withColumn("saturated",
                          F.col("saturated").cast("int"))


_VP_TX, _VP_TY = _tile_xy_sql("14")


SQL_VIEWPORT_TOPK = f"""
WITH {POINTS_CTE},
t AS (SELECT doc_id, {_VP_TX} AS x, {_VP_TY} AS y FROM pts),
v AS (SELECT doc_id, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
             CAST((doc_id * 37) % 1000 AS BIGINT) AS score
      FROM t
      WHERE x BETWEEN 14552 AND 14556 AND y BETWEEN 6448 AND 6452)
SELECT x, y, doc_id, score
FROM v
QUALIFY row_number() OVER (PARTITION BY x, y
                           ORDER BY score DESC, doc_id) <= 2
"""


@gate(SQL_VIEWPORT_TOPK)
def q_viewport_topk(spark, sf_dir):
    """The serving-path composition (tile assign × salted top-k): the
    z14 viewport x∈[14552,14556], y∈[6448,6452] — per visible tile the
    top-2 pages by derived score, through the SALTED cap_per_group
    path (result-invariance vs the oracle's plain window is the
    point). This is the query a map front-end issues on every pan."""
    from ...operators import sampling as sp

    pts = _points_df(spark, sf_dir)
    tiles = geo.with_point_tiles(pts, F.lit(14))
    scored = (tiles.where(F.col("x").between(14552, 14556)
                          & F.col("y").between(6448, 6452))
              .select("doc_id", F.col("x").cast("bigint").alias("x"),
                      F.col("y").cast("bigint").alias("y"),
                      ((F.col("doc_id") * 37) % 1000).alias("score"))
              .withColumn("txy", F.col("x") * 100000 + F.col("y")))
    top = sp.cap_per_group(scored, "txy", 2,
                           order_by=[(-F.col("score"))],
                           key_col="doc_id", skew_salts=4)
    return top.select("x", "y", "doc_id", F.col("score").cast("bigint")
                      .alias("score"))


SQL_WEIGHTED_TOPK = """
WITH d AS (SELECT lang, doc_id, n_chars FROM documents
           WHERE lang IS NOT NULL AND n_chars > 0),
r AS (SELECT lang, doc_id, n_chars,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY ln((CAST(concat('0x',
                   substr(md5(CAST(doc_id AS VARCHAR) || 'aes0'),
                          1, 15)) AS BIGINT) + 1)
                   / 1152921504606846976.0)
                 / CAST(n_chars AS DOUBLE) DESC, doc_id)
                 AS sample_rank
      FROM d)
SELECT lang, doc_id, n_chars, CAST(sample_rank AS BIGINT) AS sample_rank
FROM r WHERE sample_rank <= 5
"""


@gate(SQL_WEIGHTED_TOPK)
def q_weighted_topk(spark, sf_dir):
    """A-ES weighted sampling without replacement
    (sampling.weighted_topk_sample): 5 documents per language with
    probability proportional to length, reproducibly — ranked by
    ln(u)/w on the md5 uniform. Oracle mirrors the key arithmetic in
    its own window."""
    from ...operators import sampling as sp

    docs = (_t(spark, sf_dir, "documents")
            .where(F.col("lang").isNotNull() & (F.col("n_chars") > 0))
            .select("lang", "doc_id", "n_chars"))
    return sp.weighted_topk_sample(docs, "lang", "n_chars",
                                   "doc_id", k=5)
