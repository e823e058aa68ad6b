"""Deduplication gates (``operators/dedup.py``): exact, n-gram, MinHash,
SimHash, containment, chunk and paragraph dedup, entity-resolution
blocking and scoring, and the duplicate clusters and keep lists built on
them. The probabilistic blockers are deterministic (md5 or integer-sign
LSH), so each oracle replicates the exact blocking and verification."""

from __future__ import annotations

from pyspark.sql import functions as F

from ...operators import dedup as dd
from ._common import SHINGLES_CTE, _hex60_sql, _t, gate


SQL_DEDUP_EXACT = """
SELECT md5(text) AS fingerprint, CAST(count(*) AS BIGINT) AS group_size,
       min(doc_id) AS canonical_id
FROM documents GROUP BY 1
"""


@gate(SQL_DEDUP_EXACT)
def q_dedup_exact(spark, sf_dir):
    """Exact-dup fingerprint histogram (works even when all docs unique)."""
    docs = _t(spark, sf_dir, "documents")
    return (docs.select(F.md5(F.col("text")).alias("fingerprint"), "doc_id")
            .groupBy("fingerprint")
            .agg(F.count(F.lit(1)).alias("group_size"),
                 F.min("doc_id").alias("canonical_id")))


NGRAM_MAX_DF = 20


SQL_NGRAM_JACCARD = f"""
WITH {SHINGLES_CTE},
shc AS (
  SELECT sh.doc_id, sh.shingle FROM sh
  JOIN (SELECT shingle FROM sh GROUP BY shingle
        HAVING count(*) <= {NGRAM_MAX_DF}) keep USING (shingle)
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shc GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS ni
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
  CAST(floor(CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) * 1000000
       + 0.5) AS BIGINT) AS jaccard_e6
FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) >= 0.5
"""


@gate(SQL_NGRAM_JACCARD)
def q_dedup_ngram_jaccard(spark, sf_dir):
    """3-gram Jaccard near-dup pairs at τ=0.5 with the web-scale shingle
    frequency cap (df <= NGRAM_MAX_DF; exact Jaccard over the capped
    shingle sets — the oracle applies the identical cap)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(docs, n=3, threshold=0.5,
                                   max_df=NGRAM_MAX_DF)
    return (pairs.withColumn("n_union_x_j",
                             F.floor(F.col("jaccard") * 1000000 + F.lit(0.5))
                             .cast("bigint"))
            .select("doc_a", "doc_b", F.col("n_union_x_j").alias("jaccard_e6")))


SQL_JACCARD_PREFIX = f"""
WITH {SHINGLES_CTE},
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS ni
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
  CAST(floor(CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) * 1000000
       + 0.5) AS BIGINT) AS jaccard_e6
FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) >= 0.5
"""


@gate(SQL_JACCARD_PREFIX)
def q_jaccard_prefix_filter(spark, sf_dir):
    """EXACT similarity join via prefix filtering (PPJoin/AllPairs family)
    at τ=0.5 — NO df cap, true shingle sets. The oracle is the naive
    brute-force any-shared-shingle join, so the gate proves the prefix
    candidate generation (rarest-first canonical order, |x|-ceil(τ|x|)+1
    prefix, length filter) is lossless end-to-end."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dd.prefix_filter_jaccard_pairs(docs, n=3, threshold=0.5)
    return pairs.select(
        "doc_a", "doc_b",
        F.floor(F.col("jaccard") * 1000000 + F.lit(0.5)).cast("bigint")
        .alias("jaccard_e6"))


def _minhash_sql() -> str:
    p = (1 << 31) - 1
    cols = []
    for i in range(16):
        a = 2 * i + 1
        b = 104729 * (i + 1)
        cols.append(
            f"min((h % {p} * {a} + {b}) % {p}) AS mh{i}")
    return f"""
WITH {SHINGLES_CTE},
hs AS (SELECT doc_id, {_hex60_sql('shingle')} AS h FROM sh)
SELECT doc_id, {', '.join(cols)} FROM hs GROUP BY doc_id
"""


SQL_MINHASH = _minhash_sql()


@gate(SQL_MINHASH)
def q_minhash_signatures(spark, sf_dir):
    """MinHash signatures (16 hashes over 3-gram shingles) — flat columns."""
    docs = _t(spark, sf_dir, "documents")
    sig = dd.minhash_signatures(docs, num_hashes=16, n=3)
    return sig.select("doc_id", *[F.col("sig")[i].alias(f"mh{i}")
                                  for i in range(16)])


def _simhash_sql(bits: int = 60) -> str:
    sums = ", ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits))
    comb = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST(1 AS BIGINT) << {i} ELSE CAST(0 AS BIGINT) END)"
        for i in range(bits))
    return f"""
WITH toks AS (
  SELECT doc_id, lower(u.tok) AS tok
  FROM (SELECT doc_id,
          list_filter(string_split_regex(text, '[^A-Za-z0-9_]+'),
                      x -> x <> '') AS t
        FROM documents), UNNEST(t) AS u(tok)
),
hs AS (SELECT doc_id, {_hex60_sql('tok')} AS h FROM toks),
agg AS (SELECT doc_id, {sums} FROM hs GROUP BY doc_id)
SELECT doc_id, {comb} AS simhash FROM agg
"""


SQL_SIMHASH = _simhash_sql()


@gate(SQL_SIMHASH)
def q_simhash(spark, sf_dir):
    """60-bit simhash per document (Charikar sketch, stable md5-based bits)."""
    docs = _t(spark, sf_dir, "documents")
    return dd.simhash(docs, bits=60)


def _minhash_lsh_sql(num_hashes: int = 16, bands: int = 4) -> str:
    """DuckDB replica of dedup.minhash_dedup_pairs: signatures -> banded md5
    bucket keys -> distinct candidate pairs -> exact Jaccard verify."""
    p = (1 << 31) - 1
    rows_per_band = num_hashes // bands
    cols = []
    for i in range(num_hashes):
        a = 2 * i + 1
        b = 104729 * (i + 1)
        cols.append(f"min((h % {p} * {a} + {b}) % {p}) AS mh{i}")
    band_selects = []
    for bi in range(bands):
        parts = ", ".join(f"mh{i}" for i in range(bi * rows_per_band,
                                                  (bi + 1) * rows_per_band))
        band_selects.append(
            f"SELECT doc_id, {bi} AS band, md5(concat_ws('_', {parts})) AS key"
            " FROM sig")
    return f"""
WITH {SHINGLES_CTE},
hs AS (SELECT doc_id, {_hex60_sql('shingle')} AS h FROM sh),
sig AS (SELECT doc_id, {', '.join(cols)} FROM hs GROUP BY doc_id),
bk AS ({' UNION ALL '.join(band_selects)}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
                     AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS ni
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
  CAST(floor(CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) * 1000000
       + 0.5) AS BIGINT) AS jaccard_e6
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) >= 0.5
"""


SQL_MINHASH_LSH = _minhash_lsh_sql()


@gate(SQL_MINHASH_LSH)
def q_minhash_lsh_verified(spark, sf_dir):
    """MinHash-LSH candidates → exact-Jaccard verification (the production
    dedup path). Blocking is md5-derived and deterministic, so the oracle
    replicates the banded buckets + verify exactly."""
    docs = _t(spark, sf_dir, "documents")
    out = dd.minhash_dedup_pairs(docs, threshold=0.5)
    return out.select("doc_a", "doc_b",
                      F.floor(F.col("jaccard") * 1000000 + F.lit(0.5))
                      .cast("bigint").alias("jaccard_e6"))


def _simhash_near_sql(max_hamming: int = 3, bits: int = 60) -> str:
    sums = ", ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits))
    comb = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST(1 AS BIGINT) << {i} ELSE CAST(0 AS BIGINT) END)"
        for i in range(bits))
    return f"""
WITH toks AS (
  SELECT doc_id, lower(u.tok) AS tok
  FROM (SELECT doc_id,
          list_filter(string_split_regex(text, '[^A-Za-z0-9_]+'),
                      x -> x <> '') AS t
        FROM documents), UNNEST(t) AS u(tok)
),
hs AS (SELECT doc_id, {_hex60_sql('tok')} AS h FROM toks),
agg AS (SELECT doc_id, {sums} FROM hs GROUP BY doc_id),
s AS (SELECT doc_id, {comb} AS simhash FROM agg)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


SQL_SIMHASH_NEAR = _simhash_near_sql()


@gate(SQL_SIMHASH_NEAR)
def q_simhash_near_pairs(spark, sf_dir):
    """Simhash near-dup pairs at hamming <= 3 via (d+1)-band blocking —
    recall is exactly 1 by the Manku pigeonhole, so the all-pairs SQL oracle
    must agree exactly."""
    docs = _t(spark, sf_dir, "documents")
    return dd.simhash_near_pairs(docs, max_hamming=3)


SQL_CHUNK_DEDUP = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents
),
slots AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(t, i * 8 + 1, i * 8 + 8), ' ')) AS chunk
  FROM toks, UNNEST(range(len(t) // 8)) AS u(i)
),
freq AS (SELECT chunk, count(*) AS freq FROM slots GROUP BY 1)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN f.freq > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_chunks,
       CAST((sum(CASE WHEN f.freq > 1 THEN 1 ELSE 0 END) * 2000000
             + count(*)) // (2 * count(*)) AS BIGINT) AS dup_ratio_e6
FROM slots s JOIN freq f ON s.chunk = f.chunk
GROUP BY s.doc_id
"""


@gate(SQL_CHUNK_DEDUP)
def q_chunk_dedup(spark, sf_dir):
    """Corpus-level exact chunk dedup (dedup.chunk_dedup_ratio, Lee et al.
    2022 fixed-stride approximation): per-doc duplicated-chunk ratio."""
    docs = _t(spark, sf_dir, "documents")
    return dd.chunk_dedup_ratio(docs, chunk_words=8)


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS ({SQL_MINHASH_LSH}),
und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
reach(src, dst) AS (
  SELECT DISTINCT a, a FROM und
  UNION
  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a
)
SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS component_id
FROM reach GROUP BY src
"""


@gate(SQL_DEDUP_CLUSTERS)
def q_dedup_clusters(spark, sf_dir):
    """Near-dup PAIRS → dedup CLUSTERS (operators/graph.py
    connected_components): min-label propagation over the verified
    MinHash-LSH pairs; component_id = smallest doc in the cluster (the
    canonical doc a dedup pipeline keeps). The stage that turns pair
    generation into an actually deduplicated corpus."""
    from ...operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    pairs = dd.minhash_dedup_pairs(docs, threshold=0.5).select(
        "doc_a", "doc_b")
    comp = gr.connected_components(pairs)
    return comp.select(F.col("id").alias("doc_id"), "component_id")


SQL_DEDUP_KEEP_LIST = f"""
WITH RECURSIVE pairs AS ({SQL_MINHASH_LSH}),
und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
reach(src, dst) AS (
  SELECT DISTINCT a, a FROM und
  UNION
  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a
),
clusters AS (
  SELECT src AS doc_id, min(dst) AS component_id
  FROM reach GROUP BY src
)
SELECT d.doc_id,
       CAST(coalesce(c.component_id, d.doc_id) AS BIGINT) AS component_id,
       coalesce(c.component_id, d.doc_id) = d.doc_id AS kept
FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
"""


@gate(SQL_DEDUP_KEEP_LIST)
def q_dedup_keep_list(spark, sf_dir):
    """The dedup pipeline end-to-end (VERDICT r3 #4): MinHash-LSH pairs
    -> connected components (large-star/small-star) -> keep-list. One row
    per document; ``kept`` marks the cluster canonical (smallest id) and
    singletons; ``where(kept)`` is the deduplicated corpus."""
    from ...operators import graph as gr

    docs = _t(spark, sf_dir, "documents")
    pairs = dd.minhash_dedup_pairs(docs, threshold=0.5).select(
        "doc_a", "doc_b")
    comp = gr.connected_components(pairs)
    return dd.dedup_keep_list(docs, comp)


SQL_DEDUP_KEEP_BEST = """
WITH comp AS (
  SELECT doc_id AS id, (doc_id // 7) * 7 AS component_id
  FROM documents WHERE (doc_id // 7) % 3 <> 2
),
lab AS (
  SELECT d.doc_id, d.n_chars,
         coalesce(c.component_id, d.doc_id) AS component_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
),
r AS (
  SELECT doc_id, component_id,
         row_number() OVER (PARTITION BY component_id
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM lab
)
SELECT doc_id, CAST(component_id AS BIGINT) AS component_id,
       rn = 1 AS kept
FROM r
"""


@gate(SQL_DEDUP_KEEP_BEST)
def q_dedup_keep_best(spark, sf_dir):
    """Keep-list with a QUALITY representative policy (operators/dedup.py
    dedup_keep_list(prefer=...), VERDICT r4 #7): synthetic clusters of
    up to 7 consecutive docs (every third cluster left unclustered to
    exercise the singleton path); the kept doc per cluster is the
    LONGEST (n_chars desc, doc_id tiebreak) instead of the min-id. The
    oracle is an independent window-rank formulation (row_number over
    partition) vs the engine's min_by aggregation."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    comp = (docs.where((F.expr("doc_id div 7") % 3) != 2)
            .select(did.alias("id"),
                    (F.expr("doc_id div 7") * 7).alias("component_id")))
    return dd.dedup_keep_list(docs, comp,
                              prefer=[-F.col("n_chars")])


SQL_DECONTAMINATE = f"""
WITH {SHINGLES_CTE},
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
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


@gate(SQL_DECONTAMINATE)
def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (dedup.decontaminate): flag training docs
    sharing >= 2 distinct 3-gram shingles with the benchmark subset
    (doc_id % 97 == 0) — the eval-contamination filter (Brown et al. 2020
    appendix C uses 13-grams; the synthetic texts are short, hence 3)."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    out = dd.decontaminate(docs, bench, n=3, min_shared=2)
    return out.select("doc_id", "n_shared",
                      F.col("contaminated").cast("int").cast("bigint")
                      .alias("contaminated"))


SQL_DEDUP_CONTAINMENT = f"""
WITH {SHINGLES_CTE},
sz AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
  FROM sh GROUP BY 1 HAVING count(*) >= 3),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_inter
  FROM sh a JOIN sh b
    ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2)
SELECT i.doc_a, i.doc_b, i.n_inter, s.n_sh AS na,
       CAST((100 * i.n_inter) // s.n_sh AS BIGINT) AS cont_pct
FROM inter i JOIN sz s ON i.doc_a = s.doc_id
WHERE 100 * i.n_inter >= 60 * s.n_sh
"""


@gate(SQL_DEDUP_CONTAINMENT)
def q_dedup_containment(spark, sf_dir):
    """Asymmetric set-containment near-dup join
    (dedup.containment_pairs): ordered pairs where >= 60% of A's 3-gram
    shingles appear in B — the quote/wire-copy detector symmetric
    Jaccard cannot express (a short doc embedded in a long page has
    containment ~1 but Jaccard ~0). Exact (no df cap at gate scale);
    all-integer decision and output. Oracle: brute-force shingle
    self-join."""
    from ...operators import dedup as dd2

    docs = _t(spark, sf_dir, "documents")
    return dd2.containment_pairs(docs, n=3, threshold_pct=60,
                                 min_shingles=3)


def _union_corpus_minhash_body(num_hashes: int = 16,
                               bands: int = 4) -> str:
    """Shared oracle CTE chain: the synthesized union corpus (unchanged +
    changed + added snapshots) -> shingles -> signatures -> banded
    buckets -> candidate pairs -> exact-Jaccard intersections.  Consumed
    by SQL_INCREMENTAL_DEDUP (pair restriction) and
    SQL_INCREMENTAL_CLUSTERS (recursive closure)."""
    p = (1 << 31) - 1
    rows_per_band = num_hashes // bands
    cols = []
    for i in range(num_hashes):
        a = 2 * i + 1
        b = 104729 * (i + 1)
        cols.append(f"min((h % {p} * {a} + {b}) % {p}) AS mh{i}")
    band_selects = []
    for bi in range(bands):
        parts = ", ".join(f"mh{i}" for i in range(bi * rows_per_band,
                                                  (bi + 1) * rows_per_band))
        band_selects.append(
            f"SELECT doc_id, {bi} AS band, md5(concat_ws('_', {parts})) AS key"
            " FROM sig")
    return f"""corpus AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id % 17 <> 0 AND doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id, text || ' v2' FROM documents
  WHERE doc_id % 17 <> 0 AND doc_id % 13 = 0
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 19 = 0
),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM corpus
),
sh AS (
  SELECT DISTINCT doc_id, t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS shingle
  FROM toks, UNNEST(range(greatest(len(t) - 2, 0))) AS u(i)
),
hs AS (SELECT doc_id, {_hex60_sql('shingle')} AS h FROM sh),
sig AS (SELECT doc_id, {', '.join(cols)} FROM hs GROUP BY doc_id),
bk AS ({' UNION ALL '.join(band_selects)}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
                     AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS ni
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)"""


def _incremental_dedup_sql() -> str:
    return f"""
WITH {_union_corpus_minhash_body()},
newids AS (
  SELECT doc_id FROM documents WHERE doc_id % 17 <> 0 AND doc_id % 13 = 0
  UNION ALL
  SELECT doc_id + 1000000 FROM documents WHERE doc_id % 19 = 0
)
SELECT i.doc_a, i.doc_b,
  CAST(floor(CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) * 1000000
       + 0.5) AS BIGINT) AS jaccard_e6
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) >= 0.5
  AND (i.doc_a IN (SELECT doc_id FROM newids)
       OR i.doc_b IN (SELECT doc_id FROM newids))
"""


SQL_INCREMENTAL_DEDUP = _incremental_dedup_sql()


@gate(SQL_INCREMENTAL_DEDUP)
def q_incremental_dedup(spark, sf_dir):
    """Incremental LSH dedup (operators/incremental.py): the crawl-delta
    routing contract end-to-end — unchanged corpus contributes only its
    PERSISTED bucket-index rows, added+changed docs are shingled fresh,
    and exact verification re-reads text for candidate members only.
    Oracle: FULL minhash-LSH recompute over the union corpus restricted
    to pairs involving a new doc — the gate proves the incremental path
    lossless, the same invariance pattern as decontaminate_bloom."""
    from ...operators import incremental as inc

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    unchanged = docs.where((did % 17 != 0) & (did % 13 != 0))
    changed = (docs.where((did % 17 != 0) & (did % 13 == 0))
               .select("doc_id",
                       F.concat(F.col("text"), F.lit(" v2")).alias("text")))
    added = (docs.where(did % 19 == 0)
             .select((did + 1000000).alias("doc_id"), "text"))
    new_docs = changed.unionAll(added)
    idx = dd.lsh_buckets(unchanged)
    out = inc.incremental_dedup_pairs(idx, unchanged, new_docs,
                                      threshold=0.5)
    return out.select("doc_a", "doc_b",
                      F.floor(F.col("jaccard") * 1000000 + F.lit(0.5))
                      .cast("bigint").alias("jaccard_e6"))


SQL_INCREMENTAL_CLUSTERS = f"""
WITH RECURSIVE {_union_corpus_minhash_body()},
pairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) >= 0.5
),
und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
reach(src, dst) AS (
  SELECT DISTINCT a, a FROM und
  UNION
  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a
)
SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS component_id
FROM reach GROUP BY src
"""


@gate(SQL_INCREMENTAL_CLUSTERS)
def q_incremental_clusters(spark, sf_dir):
    """Incremental dedup clusters (incremental.
    incremental_connected_components): clean components carry over from
    the previous snapshot's stored labels with ONE anti-join; only
    components containing a stale doc or touched by a new pair re-run
    alternating-CC — work scales with the dirty subgraph, not the
    corpus.  Oracle: full recursive-closure recompute over ALL pairs of
    the new snapshot — the gate proves the carried+recomputed union
    identical to from-scratch clustering."""
    from ...operators import graph as gr
    from ...operators import incremental as inc

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    unchanged = docs.where((did % 17 != 0) & (did % 13 != 0))
    changed = (docs.where((did % 17 != 0) & (did % 13 == 0))
               .select("doc_id",
                       F.concat(F.col("text"), F.lit(" v2")).alias("text")))
    added = (docs.where(did % 19 == 0)
             .select((did + 1000000).alias("doc_id"), "text"))
    new_docs = changed.unionAll(added)
    stale = docs.where((did % 17 == 0) | (did % 13 == 0)).select("doc_id")

    prev_pairs = dd.minhash_dedup_pairs(docs, threshold=0.5) \
        .select("doc_a", "doc_b").localCheckpoint()
    prev_labels = gr.connected_components(prev_pairs)
    new_pairs = inc.incremental_dedup_pairs(
        dd.lsh_buckets(unchanged), unchanged, new_docs,
        threshold=0.5).select("doc_a", "doc_b")
    out = inc.incremental_connected_components(
        prev_labels, prev_pairs, stale, new_pairs)
    return out.select(F.col("id").alias("doc_id"), "component_id")


SQL_PARAGRAPH_DEDUP = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents
),
paras AS (
  SELECT doc_id, CAST(j AS INT) AS idx,
         array_to_string(t[CAST(j * 6 + 1 AS INT):CAST(j * 6 + 6 AS INT)],
                         ' ') AS para
  FROM toks, UNNEST(range(0, CAST(ceil(len(t) / 6.0) AS BIGINT))) AS u(j)
),
ranked AS (
  SELECT doc_id, idx, para,
         row_number() OVER (PARTITION BY md5(para)
                            ORDER BY doc_id, idx) AS occ
  FROM paras WHERE para <> ''
),
kept AS (SELECT doc_id, idx, para FROM ranked WHERE occ = 1
         UNION ALL SELECT doc_id, idx, para FROM paras WHERE para = ''),
base AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras
         FROM paras GROUP BY 1),
rebuilt AS (
  SELECT doc_id, string_agg(para, chr(10) ORDER BY idx) AS text,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT base.doc_id, coalesce(rebuilt.text, '') AS text, base.n_paras,
       base.n_paras - coalesce(rebuilt.n_kept, 0) AS n_removed
FROM base LEFT JOIN rebuilt ON base.doc_id = rebuilt.doc_id
"""


@gate(SQL_PARAGRAPH_DEDUP)
def q_paragraph_dedup(spark, sf_dir):
    """C4-rule paragraph dedup with doc reconstruction (dedup.paragraph_
    dedup): documents are re-structured into 6-word paragraphs (the
    fixture text is single-line), then every paragraph that repeats
    anywhere in the corpus survives only at its min-(doc_id, idx)
    occurrence and docs are re-assembled in order.  One md5-keyed
    partial agg + the count-back join; no corpus window.  Oracle:
    independent window-rank formulation (row_number over occurrences)
    + ordered string_agg re-assembly."""
    from ...operators import dedup as dd

    docs = _t(spark, sf_dir, "documents")
    toks = F.expr("filter(split(lower(text), '[^a-z0-9_]+'), x -> x <> '')")
    paras = F.expr(
        "transform(sequence(0, CAST(ceil(size(_tk) / 6.0) AS INT) - 1), "
        "          j -> concat_ws(' ', slice(_tk, j * 6 + 1, 6)))")
    structured = (docs.select("doc_id", toks.alias("_tk"))
                  .select("doc_id",
                          F.concat_ws("\n", paras).alias("text")))
    return dd.paragraph_dedup(structured)


SQL_CDC_DEDUP = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, 'xx ' || text FROM documents WHERE doc_id % 11 = 0
),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '[^A-Za-z0-9_]+'),
                     x -> x <> '') AS t
  FROM corpus
),
bounds AS (
  SELECT doc_id, t,
         [CAST(1 AS BIGINT)]
         || list_filter(range(2, greatest(len(t) - 1, 2)),
              i -> CAST(concat('0x', substr(md5(array_to_string(
                         t[CAST(i AS INT):CAST(i + 2 AS INT)], ' ')),
                       1, 15)) AS BIGINT) % 8 = 0)
         || [CAST(len(t) + 1 AS BIGINT)] AS b
  FROM toks WHERE len(t) > 0
),
chunks AS (
  SELECT doc_id,
         CAST(b[CAST(j AS INT)] AS BIGINT) AS s,
         CAST(b[CAST(j + 1 AS INT)] - b[CAST(j AS INT)] AS BIGINT)
           AS n_words,
         array_to_string(t[CAST(b[CAST(j AS INT)] AS INT)
                           :CAST(b[CAST(j + 1 AS INT)] - 1 AS INT)], ' ')
           AS chunk
  FROM bounds, UNNEST(range(1, len(b))) AS u(j)
),
freq AS (SELECT md5(chunk) AS h, count(*) AS n_slots
         FROM chunks GROUP BY 1)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(n_words) AS BIGINT) AS n_words,
       CAST(sum(CASE WHEN n_slots > 1 THEN n_words ELSE 0 END) AS BIGINT)
         AS dup_words,
       CAST(sum(CASE WHEN n_slots > 1 THEN n_words ELSE 0 END) * 1000000
            // sum(n_words) AS BIGINT) AS dup_ratio_e6
FROM chunks JOIN freq ON md5(chunk) = h
GROUP BY doc_id
"""


@gate(SQL_CDC_DEDUP)
def q_cdc_dedup(spark, sf_dir):
    """Content-defined chunk dedup (dedup.cdc_dedup_ratio): the corpus
    plus a one-token-prefixed clone of every doc_id % 11 == 0 document —
    the shift that makes fixed-stride chunking miss the duplication;
    CDC boundaries resync so the clones show high dup ratios.  The
    boundary rule (md5-derived 60-bit hash of each 3-gram anchor,
    divisor 8) and the exact chunk tiling are re-derived independently
    in the oracle via list expressions."""
    from ...operators import dedup as dd

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    clones = (docs.where(F.col("doc_id") % 11 == 0)
              .select((F.col("doc_id") + 1000000).alias("doc_id"),
                      F.concat(F.lit("xx "), F.col("text")).alias("text")))
    return dd.cdc_dedup_ratio(docs.unionByName(clones), w=3, divisor=8)


SQL_COSINE_PAIRS = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '[^A-Za-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents WHERE doc_id % 5 = 0
),
postings AS (
  SELECT doc_id, t[CAST(i AS INT)] AS term,
         CAST(count(*) AS BIGINT) AS tf
  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
  GROUP BY 1, 2
),
ss AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS ss
       FROM postings GROUP BY 1),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
  FROM postings a JOIN postings b
    ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d.doc_a, d.doc_b, d.dot, sa.ss AS ss_a, sb.ss AS ss_b,
       CAST(d.dot * d.dot * 1000000 // (sa.ss * sb.ss) AS BIGINT)
         AS cos2_micro
FROM dots d
JOIN ss sa ON sa.doc_id = d.doc_a
JOIN ss sb ON sb.doc_id = d.doc_b
WHERE d.dot * d.dot * 10000 >= 6400 * sa.ss * sb.ss
"""


@gate(SQL_COSINE_PAIRS)
def q_cosine_pairs(spark, sf_dir):
    """Exact tf-weighted cosine all-pairs (dedup.cosine_pairs) over the
    doc_id % 5 == 0 slice at cos >= 0.8 — integer-exact decision
    (dot^2 * 10^4 >= t^2 * ss_a * ss_b, no sqrt).  Inverted-index
    self-join, term-keyed; oracle mirrors postings/dot/ss from
    per-position list indexing."""
    from ...operators import dedup as dd

    docs = (_t(spark, sf_dir, "documents")
            .where(F.col("doc_id") % 5 == 0).select("doc_id", "text"))
    return dd.cosine_pairs(docs, threshold_pct=80)


SQL_PHASH_NEAR_DUP = """
WITH fps AS (
  SELECT doc_id,
    xor(xor(xor(
      CAST(concat('0x', substr(md5('g' || CAST(doc_id // 4 AS VARCHAR)),
                  1, 15)) AS BIGINT),
      CASE WHEN doc_id % 4 >= 1 THEN CAST(1 AS BIGINT) <<
        CAST(CAST(concat('0x', substr(md5('f' || CAST(doc_id AS VARCHAR)
             || '_1'), 1, 2)) AS BIGINT) % 60 AS INTEGER)
        ELSE CAST(0 AS BIGINT) END),
      CASE WHEN doc_id % 4 >= 2 THEN CAST(1 AS BIGINT) <<
        CAST(CAST(concat('0x', substr(md5('f' || CAST(doc_id AS VARCHAR)
             || '_2'), 1, 2)) AS BIGINT) % 60 AS INTEGER)
        ELSE CAST(0 AS BIGINT) END),
      CASE WHEN doc_id % 4 >= 3 THEN CAST(1 AS BIGINT) <<
        CAST(CAST(concat('0x', substr(md5('f' || CAST(doc_id AS VARCHAR)
             || '_3'), 1, 2)) AS BIGINT) % 60 AS INTEGER)
        ELSE CAST(0 AS BIGINT) END) AS fp
  FROM documents)
SELECT a.doc_id AS key_a, b.doc_id AS key_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
FROM fps a JOIN fps b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp, b.fp)) <= 3
"""


@gate(SQL_PHASH_NEAR_DUP)
def q_phash_near_dup(spark, sf_dir):
    """Perceptual-hash near-dup pairs (dedup.hamming_near_pairs — the
    generic banded hamming join behind simhash, over a caller-supplied
    fingerprint): 60-bit constructed pHashes where each group of 4 docs
    shares an md5 base pattern and member k has k deterministic bits
    flipped, so true near pairs exist at every hamming level and the
    <= 3 threshold both keeps and cuts. Oracle = full all-pairs
    bit_count(xor) recompute (recall-1 proof for the banding)."""
    from ...operators import dedup as dd

    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    base = F.conv(F.substring(F.md5(
        F.concat(F.lit("g"), F.expr("doc_id div 4").cast("string"))),
        1, 15), 16, 10).cast("bigint")
    fp = base
    for j in (1, 2, 3):
        # shiftleft's numBits arg must be a literal int in the Python
        # API; the shift-by-column form only exists in SQL — expr it.
        mask = F.when(i % 4 >= j, F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(CAST(conv(substring("
            f"md5(concat('f', CAST(doc_id AS STRING), '_{j}')), 1, 2),"
            " 16, 10) AS BIGINT) % 60 AS INT))")
        ).otherwise(F.lit(0).cast("bigint"))
        fp = fp.bitwiseXOR(mask)
    fps = docs.select("doc_id", fp.alias("fp"))
    return dd.hamming_near_pairs(fps, "doc_id", "fp",
                                 max_hamming=3, bits=60)


SQL_SORTED_NEIGHBORHOOD = """
WITH r AS (
  SELECT doc_id, n_chars,
         row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rank
  FROM documents)
SELECT a.doc_id AS key_a, b.doc_id AS key_b,
       a.n_chars AS block_a, b.n_chars AS block_b,
       CAST(b.rank - a.rank AS INTEGER) AS dist
FROM r a JOIN r b ON b.rank - a.rank BETWEEN 1 AND 3
"""


@gate(SQL_SORTED_NEIGHBORHOOD)
def q_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood ER blocking (dedup.sorted_neighborhood_pairs):
    documents sorted by (n_chars, doc_id), each paired with its 3
    successors — the classic adjacent-key candidate generator. The global
    rank is the packing-style two-phase scan (range partition +
    per-partition window + O(partitions) offsets), never a single-reducer
    window; the oracle is the plain row_number self-join."""
    from ...operators import dedup as dd

    docs = _t(spark, sf_dir, "documents")
    out = dd.sorted_neighborhood_pairs(docs, "doc_id", "n_chars", window=4)
    return out.select("key_a", "key_b",
                      F.col("block_a").cast("bigint").alias("block_a"),
                      F.col("block_b").cast("bigint").alias("block_b"),
                      "dist")


SQL_EDIT_DISTANCE_JOIN = """
WITH t AS MATERIALIZED (
  SELECT doc_id, concat(repeat('a', (doc_id * 7) % 23), '-',
                        CAST(doc_id % 13 AS STRING)) AS s
  FROM documents)
SELECT a.doc_id AS key_a, b.doc_id AS key_b,
       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE levenshtein(a.s, b.s) <= 2
"""


@gate(SQL_EDIT_DISTANCE_JOIN)
def q_edit_distance_join(spark, sf_dir):
    """Exact edit-distance self-join (dedup.edit_distance_pairs):
    synthetic record titles matched at levenshtein <= 2. Spark blocks
    by the length band (floor(len/3) home bucket, probe explodes to
    +/-1 — lossless because one edit moves length by at most 1); the
    ORACLE IS THE BRUTE-FORCE ALL-PAIRS LEVENSHTEIN, so the gate proves
    the blocking candidate set misses nothing."""
    from ...operators import dedup as dd

    docs = _t(spark, sf_dir, "documents")
    titled = docs.select(
        "doc_id",
        F.concat(F.expr("repeat('a', (doc_id * 7) % 23)"), F.lit("-"),
                 (F.col("doc_id") % 13).cast("string")).alias("title"))
    return dd.edit_distance_pairs(titled, "doc_id", "title", max_dist=2)


SQL_ER_MATCH_SCORES = """
WITH t AS MATERIALIZED (
  SELECT doc_id, concat(repeat('a', (doc_id * 7) % 23), '-',
                        CAST(doc_id % 13 AS STRING)) AS s,
         lang, source, n_chars // 100 AS band
  FROM documents),
p AS MATERIALIZED (
  SELECT a.doc_id AS key_a, b.doc_id AS key_b,
         a.lang AS al, b.lang AS bl, a.source AS asrc, b.source AS bsrc,
         a.band AS ab, b.band AS bb
  FROM t a JOIN t b ON a.doc_id < b.doc_id
  WHERE levenshtein(a.s, b.s) <= 2),
sc AS (
  SELECT key_a, key_b,
    CAST((CASE WHEN al IS NOT DISTINCT FROM bl THEN 15 ELSE -10 END)
       + (CASE WHEN asrc IS NOT DISTINCT FROM bsrc THEN 12 ELSE -8 END)
       + (CASE WHEN ab IS NOT DISTINCT FROM bb THEN 8 ELSE -5 END)
       AS BIGINT) AS score
  FROM p)
SELECT key_a, key_b, score,
       CASE WHEN score >= 30 THEN 'match'
            WHEN score >= 5 THEN 'possible'
            ELSE 'nonmatch' END AS match_class
FROM sc
"""


@gate(SQL_ER_MATCH_SCORES)
def q_er_match_scores(spark, sf_dir):
    """Fellegi-Sunter scoring (dedup.er_match_scores) over the
    edit-distance blocking candidates: per-field integer deci-ban
    agreement weights (lang +15/-10, source +12/-8, length band
    +8/-5), three-way classification at (30, 5) — all-agree pairs
    are 'match' (35), two-agree 'possible', the rest 'nonmatch'.
    Oracle re-derives candidates brute-force and mirrors the CASE
    sums with IS NOT DISTINCT FROM equality."""
    from ...operators import dedup as dd

    docs = _t(spark, sf_dir, "documents")
    titled = docs.select(
        "doc_id",
        F.concat(F.expr("repeat('a', (doc_id * 7) % 23)"), F.lit("-"),
                 (F.col("doc_id") % 13).cast("string")).alias("title"),
        "lang", "source", F.expr("n_chars div 100").alias("band"))
    pairs = dd.edit_distance_pairs(titled, "doc_id", "title", max_dist=2)
    return dd.er_match_scores(
        pairs, titled, "doc_id",
        [("lang", 15, -10), ("source", 12, -8), ("band", 8, -5)],
        upper=30, lower=5)


SQL_NGRAM_NOVELTY = f"""
WITH {SHINGLES_CTE},
first AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1),
per AS (
  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_first
  FROM sh s JOIN first f USING (shingle) GROUP BY 1)
SELECT doc_id, n_shingles, n_first,
       CAST((1000000 * n_first) // n_shingles AS BIGINT) AS novelty_ppm
FROM per
"""


@gate(SQL_NGRAM_NOVELTY)
def q_ngram_novelty(spark, sf_dir):
    """Per-document shingle novelty (dedup.shingle_novelty): ppm of the
    doc's distinct 3-gram shingles FIRST seen at this doc in ingest
    (doc_id) order — the N-way-boilerplate signal pairwise similarity
    dilutes away. One min-agg keyed by shingle + one join back; oracle
    over the shared shingle CTE."""
    from ...operators import dedup as dd

    docs = _t(spark, sf_dir, "documents")
    return dd.shingle_novelty(docs)


SQL_GOLDEN_RECORD = """
WITH m AS (
  SELECT doc_id % 97 AS entity, 'lang' AS field, lang AS value
  FROM documents WHERE lang IS NOT NULL
  UNION ALL
  SELECT doc_id % 97, 'source', source
  FROM documents WHERE source IS NOT NULL
  UNION ALL
  SELECT doc_id % 97, 'band', CAST(n_chars // 1000 AS VARCHAR)
  FROM documents WHERE n_chars IS NOT NULL),
v AS (SELECT entity, field, value, CAST(count(*) AS BIGINT) AS n_votes
      FROM m GROUP BY 1, 2, 3)
SELECT entity, field, value, n_votes FROM (
  SELECT *, row_number() OVER (PARTITION BY entity, field
                               ORDER BY n_votes DESC, value) AS rn
  FROM v) WHERE rn = 1
"""


@gate(SQL_GOLDEN_RECORD)
def q_golden_record(spark, sf_dir):
    """Golden-record consensus merge (dedup.golden_record): entities =
    doc_id % 97 buckets; per entity and per field (lang, source, and the
    n_chars kilo-band) the majority value with deterministic min-value
    tie-break, long-form output. Oracle melts the same fields via UNION
    ALL and replays the vote as a window rank."""
    from ...operators import dedup as dd

    docs = _t(spark, sf_dir, "documents")
    members = docs.select(
        (F.col("doc_id") % 97).alias("entity"), "lang", "source",
        F.expr("n_chars div 1000").alias("band"))
    out = dd.golden_record(members, "entity", ["lang", "source", "band"])
    return out.select(F.col("cluster").alias("entity"),
                      "field", "value", "n_votes")


_SDX_NAMES = ["Robert", "Rupert", "Ashcraft", "Ashcroft", "Tymczak",
              "Pfister", "Honeyman", "Smith", "Smyth", "Schmidt",
              "Johnson", "Jonson"]


def _soundex_sql_chain() -> str:
    from ...operators.dedup import _SOUNDEX_FROM, _SOUNDEX_TO

    collapsed = "digits"
    for _ in range(3):
        for d in "0123456":
            collapsed = f"replace({collapsed}, '{d + d}', '{d}')"
    names = ", ".join(f"'{n}'" for n in _SDX_NAMES)
    return f"""
WITH names AS (
  SELECT doc_id, ([{names}])[CAST(doc_id % 12 + 1 AS INT)] AS name
  FROM documents),
n1 AS (SELECT doc_id, name, upper(trim(name)) AS u FROM names),
n2 AS (SELECT doc_id, name, substr(u, 1, 1) AS first,
              translate(translate(u, 'HW', ''),
                        '{_SOUNDEX_FROM}', '{_SOUNDEX_TO}') AS digits
       FROM n1),
n3 AS (SELECT doc_id, name, first, {collapsed} AS collapsed FROM n2),
n4 AS (SELECT doc_id, name, first,
              CASE WHEN first IN ('H', 'W') THEN collapsed
                   ELSE substr(collapsed, 2, 64) END AS tail_src
       FROM n3)
SELECT doc_id, name,
       substr(rpad(first || translate(tail_src, '0', ''), 4, '0'),
              1, 4) AS sdx
FROM n4
"""


SQL_SOUNDEX_BLOCKING = _soundex_sql_chain()


@gate(SQL_SOUNDEX_BLOCKING)
def q_soundex_blocking(spark, sf_dir):
    """Phonetic ER blocking (dedup.soundex_col): American Soundex keys
    over a name column drawn from the canonical Archives examples —
    Smith/Smyth, Ashcraft/Ashcroft (h/w rule), Tymczak (vowel
    separation), Pfister (first-letter collapse) land in shared blocks.
    The identical translate/replace arithmetic runs in the oracle;
    pytest separately pins parity with Spark's BUILTIN soundex."""
    from ...operators import dedup as dd

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    name = F.element_at(F.array(*[F.lit(n) for n in _SDX_NAMES]),
                        (did % 12 + 1).cast("int"))
    return dd.soundex_blocking_keys(
        docs.select("doc_id", name.alias("name")))


SQL_PAIR_EVAL = f"""
WITH pred AS (SELECT doc_a, doc_b FROM ({_simhash_near_sql(6)}) sp),
truth AS (SELECT doc_a, doc_b FROM ({SQL_NGRAM_JACCARD}) st),
m AS (SELECT p.doc_a IS NOT NULL AS in_p, t.doc_a IS NOT NULL AS in_t
      FROM pred p FULL OUTER JOIN truth t
        ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b),
agg AS (SELECT
  CAST(sum(CASE WHEN in_p THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
  CAST(sum(CASE WHEN in_t THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
  CAST(sum(CASE WHEN in_p AND in_t THEN 1 ELSE 0 END) AS BIGINT) AS tp,
  CAST(sum(CASE WHEN in_p AND NOT in_t THEN 1 ELSE 0 END) AS BIGINT)
      AS fp,
  CAST(sum(CASE WHEN NOT in_p AND in_t THEN 1 ELSE 0 END) AS BIGINT)
      AS fn
  FROM m)
SELECT n_pred, n_truth, tp, fp, fn,
       CAST(CASE WHEN n_pred > 0 THEN 1000000 * tp // n_pred END
            AS BIGINT) AS precision_ppm,
       CAST(CASE WHEN n_truth > 0 THEN 1000000 * tp // n_truth END
            AS BIGINT) AS recall_ppm,
       CAST(CASE WHEN n_pred > 0 AND n_truth > 0
                  AND (1000000 * tp // n_pred)
                      + (1000000 * tp // n_truth) > 0
                 THEN 2 * (1000000 * tp // n_pred)
                      * (1000000 * tp // n_truth)
                      // ((1000000 * tp // n_pred)
                          + (1000000 * tp // n_truth))
            END AS BIGINT) AS f1_ppm
FROM agg
"""


@gate(SQL_PAIR_EVAL)
def q_pair_eval(spark, sf_dir):
    """Dedup evaluation harness (dedup.pair_eval): precision / recall /
    F1 of simhash@hamming<=6 candidate pairs against exact 3-gram
    Jaccard>=0.5 truth — the threshold-tuning measurement loop. One
    full-outer pair join + one aggregate; oracle re-derives both pair
    relations with its own formulations (brute-force hamming self-join;
    capped-shingle Jaccard) and counts via independent CASE sums."""
    from ...operators import dedup as ddp

    docs = _t(spark, sf_dir, "documents")
    pred = ddp.simhash_near_pairs(docs, max_hamming=6)
    truth = ddp.ngram_jaccard_pairs(docs, n=3, threshold=0.5,
                                    max_df=NGRAM_MAX_DF)
    return ddp.pair_eval(pred, truth)
