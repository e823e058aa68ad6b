"""Text gates (``operators/text.py``, ``lm``, ``pii``, ``retrieval``,
``frequent``): token features and quality signals, chunking, keyword and
collocation extraction, redaction, and the retrieval operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from ...operators import text as tx
from ._common import _PR_ITER, _t, _t_count, gate


SQL_TEXT_FEATURES = """
WITH f AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS ln,
    CAST(len(list_filter(string_split_regex(trim(text), '[^A-Za-z0-9_]+'),
        x -> x <> '')) AS BIGINT) AS n_tokens,
    CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS n_punct
  FROM documents
),
r AS (
  SELECT *,
    CASE WHEN ln > 0 THEN CAST(n_punct AS DOUBLE) / CAST(ln AS DOUBLE) ELSE 0.0 END AS punct_ratio,
    CASE WHEN n_tokens > 0 THEN CAST(n_alpha AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS mean_tok
  FROM f
)
SELECT doc_id, n_tokens, n_alpha, n_digit, n_punct,
  CAST(floor(punct_ratio * 1000000 + 0.5) AS BIGINT) AS punct_ratio_e6,
  CAST(floor(((CASE WHEN ln >= 200 AND ln <= 20000 THEN 0.4 ELSE 0.0 END)
   + (CASE WHEN punct_ratio <= 0.1 THEN 0.3 ELSE 0.0 END)
   + (CASE WHEN mean_tok >= 3.0 AND mean_tok <= 12.0 THEN 0.3 ELSE 0.0 END))
   * 100 + 0.5) AS BIGINT) AS quality_e2
FROM r
"""


@gate(SQL_TEXT_FEATURES)
def q_text_features(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = tx.quality_score(docs)
    return out.select(
        "doc_id", "n_tokens", "n_alpha", "n_digit", "n_punct",
        F.floor(F.col("punct_ratio") * 1000000 + F.lit(0.5)).cast("bigint")
        .alias("punct_ratio_e6"),
        F.floor(F.col("quality") * 100 + F.lit(0.5)).cast("bigint")
        .alias("quality_e2"))


SQL_LANG_QUALITY = """
WITH f AS (
  SELECT source, lang, CAST(length(text) AS BIGINT) AS ln,
    CAST(len(list_filter(string_split_regex(trim(text), '[^A-Za-z0-9_]+'),
        x -> x <> '')) AS BIGINT) AS n_tokens,
    CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS n_punct
  FROM documents
),
r AS (
  SELECT source, lang, n_tokens,
    (CASE WHEN ln >= 200 AND ln <= 20000 THEN 0.4 ELSE 0.0 END)
    + (CASE WHEN (CASE WHEN ln > 0 THEN CAST(n_punct AS DOUBLE)/CAST(ln AS DOUBLE) ELSE 0.0 END) <= 0.1 THEN 0.3 ELSE 0.0 END)
    + (CASE WHEN (CASE WHEN n_tokens > 0 THEN CAST(n_alpha AS DOUBLE)/CAST(n_tokens AS DOUBLE) ELSE 0.0 END) BETWEEN 3.0 AND 12.0 THEN 0.3 ELSE 0.0 END)
    AS quality
  FROM f
)
SELECT source, lang, CAST(count(*) AS BIGINT) AS n_kept
FROM r WHERE quality >= 0.69 AND n_tokens >= 20
GROUP BY source, lang
"""


@gate(SQL_LANG_QUALITY)
def q_lang_quality_filter(spark, sf_dir):
    """Pipeline-style filter: per (source, lang) counts of docs passing the
    quality gate (the 'keep' set of a training-data curation run)."""
    docs = _t(spark, sf_dir, "documents")
    out = tx.quality_score(docs)
    return (out.where((F.col("quality") >= 0.69) & (F.col("n_tokens") >= 20))
            .groupBy("source", "lang")
            .agg(F.count(F.lit(1)).alias("n_kept")))


SQL_REPETITION = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents
),
g AS (
  SELECT doc_id, 1 AS n, t[i+1] AS gg
  FROM toks, UNNEST(range(len(t))) AS u(i)
  UNION ALL
  SELECT doc_id, 2, t[i+1] || ' ' || t[i+2]
  FROM toks, UNNEST(range(greatest(len(t) - 1, 0))) AS u(i)
  UNION ALL
  SELECT doc_id, 3, t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
  FROM toks, UNNEST(range(greatest(len(t) - 2, 0))) AS u(i)
),
c AS (SELECT doc_id, n, gg, count(*) AS cnt FROM g GROUP BY 1, 2, 3),
a AS (
  SELECT doc_id,
    sum(CASE WHEN n = 1 THEN cnt END) AS total1,
    max(CASE WHEN n = 1 THEN cnt END) AS top1,
    count(CASE WHEN n = 1 THEN 1 END) AS d1,
    sum(CASE WHEN n = 2 THEN cnt END) AS total2,
    max(CASE WHEN n = 2 THEN cnt END) AS top2,
    sum(CASE WHEN n = 3 THEN cnt END) AS total3,
    max(CASE WHEN n = 3 THEN cnt END) AS top3
  FROM c GROUP BY doc_id
)
SELECT doc_id,
  CAST(coalesce(total1, 0) AS BIGINT) AS n_words,
  CAST(coalesce(d1, 0) AS BIGINT) AS n_distinct_words,
  CAST(CASE WHEN total1 > 0 THEN (top1 * 2000000 + total1) // (2 * total1)
       ELSE 0 END AS BIGINT) AS top1_frac_e6,
  CAST(CASE WHEN total2 > 0 THEN (top2 * 2000000 + total2) // (2 * total2)
       ELSE 0 END AS BIGINT) AS top2_frac_e6,
  CAST(CASE WHEN total3 > 0 THEN (top3 * 2000000 + total3) // (2 * total3)
       ELSE 0 END AS BIGINT) AS top3_frac_e6
FROM a
"""


@gate(SQL_REPETITION)
def q_repetition_quality(spark, sf_dir):
    """Gopher-style repetition signals (text.repetition_signals): top
    uni/bi/tri-gram fraction + distinct-word ratio per doc, exact integer
    ppm. One explode + two partial-combine hash aggs, zero Python."""
    docs = _t(spark, sf_dir, "documents")
    return tx.repetition_signals(docs)


SQL_HEAVY_HITTERS = """
WITH toks AS (
  SELECT unnest(list_filter(
      string_split_regex(lower(trim(text)), '[^a-z0-9_]+'),
      x -> x <> '')) AS key
  FROM documents),
n AS (SELECT count(*) AS n_total FROM toks)
SELECT key, CAST(count(*) AS BIGINT) AS cnt
FROM toks, n
GROUP BY key, n.n_total
HAVING count(*) * 31 > n.n_total
"""


@gate(SQL_HEAVY_HITTERS)
def q_heavy_hitters(spark, sf_dir):
    """Vocabulary heavy hitters (operators/frequent.py): tokens whose
    count exceeds N/(k+1) of the token stream, found with the
    Misra-Gries per-partition sketch (map-only, <= k candidates per
    partition) + exact verify over candidates only.  The oracle is the
    PLAIN exact groupBy+HAVING — so the gate proves the sketch
    prefilter is LOSSLESS (pigeonhole guarantee), the same invariance
    pattern as ``decontaminate_bloom`` and ``skew_salted_agg``."""
    from ...operators import frequent as fq
    from ...operators.text import _tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(_tokens(F.col("text"))).alias("tok"))
    return fq.heavy_hitters(toks, "tok", k=30)


SQL_BM25_TOPK = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)),
                                        '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents),
occ AS (
  SELECT doc_id, t[i+1] || ' ' || t[i+2] AS term
  FROM toks, UNNEST(range(greatest(len(t) - 1, 0))) AS u(i)),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM occ GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
       FROM occ GROUP BY 1),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(dl) AS BIGINT) AS t FROM dl),
dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        FROM tf GROUP BY 1),
ranked AS (
  SELECT term, row_number() OVER (ORDER BY df DESC, term) AS r
  FROM dfq),
queries AS (
  SELECT CAST((r - 6) // 2 AS BIGINT) AS query_id, term
  FROM ranked WHERE r > 5 AND r <= 21),
score AS (
  SELECT q.query_id, tf.doc_id,
    CAST(sum(
      ((((s.n - dfq.df) * 1000000) // dfq.df + 1000000)
       * ((22 * tf.tf * s.t * 1000000)
          // (10 * tf.tf * s.t + 3 * s.t + 9 * dl.dl * s.n)))
      // 1000000) AS BIGINT) AS score_micro
  FROM tf
  JOIN queries q USING (term)
  JOIN dfq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY 1, 2)
SELECT query_id, rank, doc_id, score_micro FROM (
  SELECT query_id, doc_id, score_micro,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
  FROM score)
WHERE rank <= 10
"""


@gate(SQL_BM25_TOPK)
def q_bm25_topk(spark, sf_dir):
    """BM25 retrieval (operators/retrieval.py): integer-exact Okapi
    scoring (k1=1.2, b=0.75 as exact rationals, `div` arithmetic — no
    transcendental, so engines agree bit-for-bit) over word-bigram
    postings; 8 corpus-derived two-term probe queries; top-10 per query
    by (score desc, doc_id).  The posting probe is a broadcast join on
    term — the corpus is never reshuffled per query."""
    from ...operators import retrieval as rt

    docs = _t(spark, sf_dir, "documents")
    post = rt.postings(docs).localCheckpoint(eager=True)
    qs = rt.corpus_queries(docs, n_queries=8, skip=5, post=post)
    return rt.bm25_topk(docs, qs, k=10, post=post)


SQL_PHRASE_SEARCH = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents),
post AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i+1] AS term
  FROM toks, UNNEST(range(len(t))) AS u(i)),
qt AS (
  SELECT doc_id AS query_id, CAST(j AS BIGINT) AS qpos, t[4+j] AS term
  FROM toks, UNNEST(range(4)) AS v(j)
  WHERE doc_id % 97 = 0 AND len(t) >= 7),
hits AS (
  SELECT q.query_id, p.doc_id, p.pos - q.qpos AS base, q.qpos
  FROM post p JOIN qt q ON p.term = q.term
  WHERE p.pos - q.qpos >= 0),
m AS (
  SELECT query_id, doc_id, base
  FROM hits GROUP BY 1, 2, 3 HAVING count(DISTINCT qpos) = 4)
SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_hits,
       min(base) AS first_pos
FROM m GROUP BY 1, 2
"""


@gate(SQL_PHRASE_SEARCH)
def q_phrase_search(spark, sf_dir):
    """Exact phrase search over the positional inverted index
    (operators/retrieval.py): corpus-derived 4-token probe phrases
    (every 97th doc, tokens 3..6), consecutive-position match via the
    base = pos - qpos normalization; broadcast phrase relation, one
    partial-agg groupBy keyed by (query, doc, base)."""
    from ...operators import retrieval as rt

    docs = _t(spark, sf_dir, "documents")
    phrases = rt.corpus_phrases(docs, every=97, start=3, length=4)
    return rt.phrase_match(docs, phrases)


SQL_WINNOW = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents),
h AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(t) - 2, 0) + 1),
           i -> CAST(concat('0x', substr(md5(t[i] || ' ' || t[i+1] || ' '
                || t[i+2]), 1, 15)) AS BIGINT)) AS hs
  FROM toks),
wnd AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS i, hs[u.i : u.i + 3] AS win
  FROM h, UNNEST(range(1, greatest(len(hs) - 3, 0) + 1)) AS u(i)),
sel AS (
  SELECT doc_id,
         i + 4 - list_position(list_reverse(win), list_min(win)) AS pos,
         list_min(win) AS fp
  FROM wnd)
SELECT DISTINCT doc_id, CAST(pos AS BIGINT) AS pos, CAST(fp AS BIGINT) AS fp
FROM sel
"""


@gate(SQL_WINNOW)
def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing fingerprints (text.winnow_fingerprints, Schleimer et
    al. SIGMOD 2003 / MOSS): 3-gram hashes, window w=4, rightmost
    minimal hash per window, distinct (pos, hash) — any >= 6-token
    shared substring between docs shares a fingerprint. Map-only
    Catalyst array pipeline; oracle re-derives with DuckDB list
    functions (list_reverse + list_position for the rightmost
    tie-break)."""
    docs = _t(spark, sf_dir, "documents")
    return tx.winnow_fingerprints(docs, k=3, w=4)


SQL_LM_RARITY = """
WITH lowered AS (SELECT doc_id, lower(text) AS t FROM documents),
model AS (
  SELECT substr(t, CAST(i AS INT), 3) AS gram,
         CAST(count(*) AS BIGINT) AS cnt
  FROM lowered, UNNEST(range(1, greatest(length(t) - 1, 1))) AS u(i)
  WHERE doc_id % 7 = 0 AND length(t) >= 3
  GROUP BY 1
),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS T FROM model),
doc_grams AS (
  SELECT doc_id, substr(t, CAST(i AS INT), 3) AS gram
  FROM lowered, UNNEST(range(1, greatest(length(t) - 1, 1))) AS u(i)
  WHERE length(t) >= 3
),
scored AS (
  SELECT doc_id, (T * 1000000) // (coalesce(cnt, 0) + 1) AS r
  FROM doc_grams CROSS JOIN tot LEFT JOIN model USING (gram)
),
per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(r) // count(*) AS BIGINT) AS rarity_micro
  FROM scored GROUP BY 1
)
SELECT d.doc_id,
       coalesce(per.n_grams, 0) AS n_grams,
       coalesce(per.rarity_micro, 0) AS rarity_micro
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN per ON d.doc_id = per.doc_id
"""


@gate(SQL_LM_RARITY)
def q_lm_rarity(spark, sf_dir):
    """CCNet-style LM quality scoring (operators/lm.py): a char-trigram
    model trained on the doc_id % 7 == 0 'clean reference' slice scores
    every document by integer-exact mean inverse probability (micro).
    Model relation bounded by |alphabet|^3 and broadcast; corpus side
    never shuffles on gram.  Oracle re-derives grams via per-position
    substr over generate_series and mirrors the exact integer math."""
    from ...operators import lm

    docs = _t(spark, sf_dir, "documents")
    model = lm.char_ngram_model(docs.where(F.col("doc_id") % 7 == 0), n=3)
    return lm.lm_rarity(docs, model, n=3)


SQL_COLLOCATIONS = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents
),
uni AS (
  SELECT t[CAST(i AS INT)] AS w, CAST(count(*) AS BIGINT) AS n_w
  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
  GROUP BY 1
),
big AS (
  SELECT t[CAST(i AS INT)] AS w_a, t[CAST(i + 1 AS INT)] AS w_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM toks, UNNEST(range(1, greatest(len(t), 1))) AS u(i)
  GROUP BY 1, 2
  HAVING count(*) >= 10
),
tot AS (SELECT CAST(sum(n_w) AS BIGINT) AS N FROM uni)
SELECT b.w_a, b.w_b, b.n_ab, a.n_w AS n_a, c.n_w AS n_b,
       CAST(b.n_ab * tot.N * 1000000 // (a.n_w * c.n_w) AS BIGINT)
         AS lift_micro
FROM big b
JOIN uni a ON a.w = b.w_a
JOIN uni c ON c.w = b.w_b
CROSS JOIN tot
"""


@gate(SQL_COLLOCATIONS)
def q_collocations(spark, sf_dir):
    """Bigram collocation mining (text.bigram_collocations): adjacent
    word pairs scored by the integer-exact lift surrogate of PMI
    (n_ab * N * 10^6 div (n_a * n_b)); min_count 10.  Partial-agg
    counts only, never a pair join; oracle re-derives uni/bigram counts
    from per-position list indexing."""
    from ...operators import text as tx

    docs = _t(spark, sf_dir, "documents")
    return tx.bigram_collocations(docs, min_count=10)


SQL_READABILITY = """
WITH c AS MATERIALIZED (
  SELECT doc_id,
         CAST(len(regexp_extract_all(lower(text), '[a-z0-9'']+'))
              AS BIGINT) AS w,
         greatest(CAST(1 AS BIGINT),
                  CAST(len(regexp_extract_all(lower(text), '[.!?]+'))
                       AS BIGINT)) AS s,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
              AS BIGINT) AS v0
  FROM documents)
SELECT doc_id, w AS n_words, s AS n_sentences,
       greatest(w, v0) AS n_syllables,
       CASE WHEN w > 0 THEN
         206835 - (1015 * ((1000 * w) // s)) // 1000
                - (84600 * ((1000 * greatest(w, v0)) // w)) // 1000
       END AS fre_milli
FROM c
"""


@gate(SQL_READABILITY)
def q_readability(spark, sf_dir):
    """Flesch reading ease in exact milli-points (text.readability_milli):
    word/sentence/vowel-group runs counted by regex, all ratios
    pre-scaled integer DIVs — bit-exact across engines. The Spark side
    counts runs via sentinel-collapse regexp_replace; the oracle counts
    the SAME runs via regexp_extract_all list length — independent
    formulations of one spec."""
    from ...operators import text as tx

    docs = _t(spark, sf_dir, "documents")
    return tx.readability_milli(docs)


SQL_TOKEN_ENTROPY = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents),
occ AS (SELECT doc_id, u.tok FROM toks, UNNEST(t) AS u(tok)),
cnt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        FROM occ GROUP BY 1, 2),
agg AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(sum(CAST(floor(ln(CAST(c AS DOUBLE)) * CAST(c AS DOUBLE)
                             * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s
  FROM cnt GROUP BY 1)
SELECT doc_id, n_tokens, n_distinct,
       CAST(CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1000000.0 + 0.5)
                 AS BIGINT) - s // n_tokens AS BIGINT) AS entropy_e6_nats
FROM agg
"""


@gate(SQL_TOKEN_ENTROPY)
def q_token_entropy(spark, sf_dir):
    """Per-document token entropy in micro-nats (text.token_entropy):
    lexical-diversity / gibberish signal; each c*ln(c) term quantized
    BEFORE the sum so the aggregate is integer and merge-order free.
    Oracle re-derives from the shared token CTE."""
    docs = _t(spark, sf_dir, "documents")
    return tx.token_entropy(docs)


_PII_EMAIL = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"


_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


_PII_PHONE = r"\b\d{2,4}-\d{3,4}-\d{4}\b"


SQL_PII_REDACT = f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@ex' || CAST(doc_id % 7 AS VARCHAR)
              || '.org or 10.' || CAST(doc_id % 256 AS VARCHAR)
              || '.' || CAST((doc_id * 3) % 256 AS VARCHAR)
              || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
              || ' tel 03-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
              || '-' || CAST(1000 + (doc_id * 13) % 9000 AS VARCHAR) AS t0
  FROM documents),
s1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(t0, '{_PII_EMAIL}')) AS BIGINT)
             AS n_email,
         regexp_replace(t0, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t1
  FROM aug),
s2 AS (
  SELECT doc_id, n_email,
         CAST(len(regexp_extract_all(t1, '{_PII_IPV4}')) AS BIGINT)
             AS n_ipv4,
         regexp_replace(t1, '{_PII_IPV4}', '<IP>', 'g') AS t2
  FROM s1),
s3 AS (
  SELECT doc_id, n_email, n_ipv4,
         CAST(len(regexp_extract_all(t2, '{_PII_PHONE}')) AS BIGINT)
             AS n_phone,
         regexp_replace(t2, '{_PII_PHONE}', '<PHONE>', 'g') AS t3
  FROM s2)
SELECT doc_id, n_email, n_ipv4, n_phone, md5(t3) AS redacted_md5,
       CAST(length(t3) AS BIGINT) AS n_chars_red
FROM s3
"""


@gate(SQL_PII_REDACT)
def q_pii_redact(spark, sf_dir):
    """PII redaction (operators/pii.py): emails, IPv4s and hyphenated
    phone numbers replaced with typed tokens, counts per kind, redacted
    text md5'd for byte-identity. PII is injected deterministically from
    doc_id (identical concat in both engines — the fixture corpus itself
    is PII-free). The oracle mirrors the staged email->ipv4->phone
    pipeline with RE2 regexes semantically identical to the Java ones
    (no lookaround/backrefs; see the module header)."""
    from ...operators import pii

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    s = [F.col("text"), F.lit(" contact user"), d.cast("string"),
         F.lit("@ex"), (d % 7).cast("string"), F.lit(".org or 10."),
         (d % 256).cast("string"), F.lit("."),
         ((d * 3) % 256).cast("string"), F.lit("."),
         ((d * 7) % 256).cast("string"), F.lit(" tel 03-"),
         (F.lit(1000) + d % 9000).cast("string"), F.lit("-"),
         (F.lit(1000) + (d * 13) % 9000).cast("string")]
    aug = docs.select("doc_id", F.concat(*s).alias("text"))
    return pii.pii_document_summary(aug)


SQL_TFIDF_TERMS = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)),
                                        '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents),
occ AS (
  SELECT doc_id, t[i+1] || ' ' || t[i+2] AS term
  FROM toks, UNNEST(range(greatest(len(t) - 1, 0))) AS u(i)),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM occ GROUP BY 1, 2),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
         tf.tf * CAST(floor(ln((nn.n + 1.0) / (dfq.df + 1.0)) * 1000000.0
                            + 0.5) AS BIGINT) AS score_e6
  FROM tf JOIN dfq USING (term) CROSS JOIN nn)
SELECT doc_id, term, tf, df, score_e6, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY score_e6 DESC, term) AS rank
  FROM scored)
WHERE rank <= 3
"""


@gate(SQL_TFIDF_TERMS)
def q_tfidf_terms(spark, sf_dir):
    """Per-document top-3 TF-IDF terms (retrieval.tfidf_topk_terms):
    keyword extraction over the bigram postings; idf quantized per term
    (floor(1e6*ln((N+1)/(df+1)) + 0.5)) so scores and ranking are
    integer-exact; deterministic (score desc, term) tie-break. Oracle
    re-derives postings/df/idf/window independently."""
    from ...operators import retrieval as rt

    docs = _t(spark, sf_dir, "documents")
    return rt.tfidf_topk_terms(docs, k=3)


SQL_WAND_TOPK = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)),
                                        '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents),
occ AS (
  SELECT doc_id, t[i+1] || ' ' || t[i+2] AS term
  FROM toks, UNNEST(range(greatest(len(t) - 1, 0))) AS u(i)),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM occ GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
       FROM occ GROUP BY 1),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(dl) AS BIGINT) AS t FROM dl),
dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        FROM tf GROUP BY 1),
ranked AS (
  SELECT term, row_number() OVER (ORDER BY df DESC, term) AS r
  FROM dfq),
queries AS (
  SELECT CAST((r - 12) // 2 AS BIGINT) AS query_id, term
  FROM ranked WHERE r > 11 AND r <= 23),
score AS (
  SELECT q.query_id, tf.doc_id,
    CAST(sum(
      ((((s.n - dfq.df) * 1000000) // dfq.df + 1000000)
       * ((22 * tf.tf * s.t * 1000000)
          // (10 * tf.tf * s.t + 3 * s.t + 9 * dl.dl * s.n)))
      // 1000000) AS BIGINT) AS score_micro
  FROM tf
  JOIN queries q USING (term)
  JOIN dfq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY 1, 2)
SELECT query_id, rank, doc_id, score_micro FROM (
  SELECT query_id, doc_id, score_micro,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
  FROM score)
WHERE rank <= 10
"""


@gate(SQL_WAND_TOPK)
def q_wand_topk(spark, sf_dir):
    """MaxScore-pruned BM25 top-k (retrieval.maxscore_topk): θ seeded
    from the conjunctive-match subset, non-essential terms cut by the
    ascending-ub inclusive-prefix rule, candidates exact-scored. The
    oracle is the FULL exact BM25 ranking over every matching doc, so
    the gate is a pruning-LOSSLESSNESS proof (the heavy_hitters /
    decontaminate_bloom pattern). 6 corpus-derived two-term queries at
    skip=11 — a disjoint fixture from the bm25_topk gate."""
    from ...operators import retrieval as rt

    docs = _t(spark, sf_dir, "documents")
    post = rt.postings(docs).localCheckpoint(eager=True)
    qs = rt.corpus_queries(docs, n_queries=6, skip=11, post=post)
    return rt.maxscore_topk(docs, qs, k=10, post=post)


SQL_PREFIX_COMPLETIONS = """
WITH q0 AS (SELECT regexp_extract(text, '^(\\w+ \\w+)', 1) AS q
            FROM documents),
c AS (SELECT q, CAST(count(*) AS BIGINT) AS n
      FROM q0 WHERE q IS NOT NULL AND length(q) >= 1 GROUP BY 1),
p AS (SELECT substr(q, 1, CAST(u.i AS INT)) AS prefix, q, n
      FROM c, UNNEST(range(1, least(length(q), 8) + 1)) AS u(i))
SELECT prefix, q, n, CAST(row_number() OVER w AS BIGINT) AS rank
FROM p
WINDOW w AS (PARTITION BY prefix ORDER BY n DESC, q)
QUALIFY row_number() OVER w <= 3
"""


@gate(SQL_PREFIX_COMPLETIONS)
def q_prefix_completions(spark, sf_dir):
    """Autocomplete index (retrieval.prefix_completions): top-3
    completions per character prefix (1..8) of each document's leading
    bigram — distinct queries counted once before the bounded prefix
    explode. Oracle re-derives with UNNEST(range)+substr and an
    independent window."""
    from ...operators import retrieval as rt

    docs = _t(spark, sf_dir, "documents")
    q = F.regexp_extract(F.col("text"), r"^(\w+ \w+)", 1)
    return rt.prefix_completions(docs.select(q.alias("q")),
                                 min_len=1, max_len=8, top_k=3)


SQL_SNIPPET_EXTRACT = """
WITH s AS (SELECT doc_id,
                  regexp_extract_all(text,
                      '(.{0,12}customer.{0,12})', 1) AS sn
           FROM documents)
SELECT doc_id, CAST(u.i AS BIGINT) AS idx, sn[u.i + 1] AS snippet
FROM s, UNNEST(range(len(sn))) AS u(i)
"""


@gate(SQL_SNIPPET_EXTRACT)
def q_snippet_extract(spark, sf_dir):
    """KWIC snippets (retrieval.snippet_extract): every non-overlapping
    'customer' occurrence with 12 chars of context — the search-results
    highlighter as one map-side regexp_extract_all + posexplode (zero
    shuffle, plan-asserted). Oracle shares the greedy leftmost-first
    pattern and indexes occurrences via range(len)."""
    from ...operators import retrieval as rt

    docs = _t(spark, sf_dir, "documents")
    return rt.snippet_extract(docs, term="customer", context=12)


SQL_SENTENCE_CHUNKS = """
WITH d AS (SELECT doc_id,
                  replace(replace(text, 'value', 'value.'),
                          'fast', 'fast!') AS t
           FROM documents),
ar AS (SELECT doc_id,
              regexp_extract_all(t, '[^.!?]+[.!?]*', 0) AS arr
       FROM d),
se AS (SELECT doc_id, CAST(u.i AS BIGINT) AS sid,
              trim(arr[u.i + 1]) AS s
       FROM ar, UNNEST(range(len(arr))) AS u(i)),
tk AS (SELECT doc_id, sid, s,
              CAST(len(list_filter(regexp_split_to_array(s, '\\s+'),
                                   x -> x <> '')) AS BIGINT) AS nt
       FROM se WHERE s <> ''),
cm AS (SELECT doc_id, sid, s, nt,
              sum(nt) OVER (PARTITION BY doc_id ORDER BY sid
                            ROWS UNBOUNDED PRECEDING) AS cum
       FROM tk)
SELECT doc_id, CAST((cum - 1) // 16 AS BIGINT) AS chunk_id,
       CAST(count(*) AS BIGINT) AS n_sentences,
       CAST(sum(nt) AS BIGINT) AS n_tokens,
       string_agg(s, ' ' ORDER BY sid) AS chunk_text
FROM cm GROUP BY 1, 2
"""


@gate(SQL_SENTENCE_CHUNKS)
def q_sentence_chunks(spark, sf_dir):
    """RAG chunking (text.sentence_chunks): documents given
    deterministic sentence terminators (every 'value' ends a sentence,
    every 'fast' an exclamation), split on the consuming [^.!?]+[.!?]*
    pattern and packed into 16-token chunks by the end-position bucket
    rule. Oracle re-derives with range-indexed unnest + an ORDER
    BY-string_agg."""
    from ...operators import text as tx2

    docs = _t(spark, sf_dir, "documents")
    t2 = F.replace(F.replace(F.col("text"), F.lit("value"),
                             F.lit("value.")),
                   F.lit("fast"), F.lit("fast!"))
    return tx2.sentence_chunks(
        docs.select("doc_id", t2.alias("text")), chunk_tokens=16)


SQL_TOKEN_WINDOWS = """
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)),
                                           '[^A-Za-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents),
w AS (SELECT doc_id, CAST(u.i AS BIGINT) AS win_id,
             CAST(u.i * 8 AS BIGINT) AS start_tok, t
      FROM tk, UNNEST(range((len(t) + 7) // 8)) AS u(i)
      WHERE len(t) > 0),
p AS (SELECT doc_id, win_id, start_tok,
             list_slice(t, CAST(start_tok + 1 AS INT),
                        CAST(least(start_tok + 12, len(t)) AS INT))
                 AS piece
      FROM w)
SELECT doc_id, win_id, start_tok,
       CAST(len(piece) AS BIGINT) AS n_tokens,
       array_to_string(piece, ' ') AS window_text
FROM p
"""


@gate(SQL_TOKEN_WINDOWS)
def q_token_windows(spark, sf_dir):
    """Long-document windows (text.token_windows): 12-token windows at
    stride 8 over the lowercased token stream — the HF overflowing-
    tokens layout, map-side only. Oracle re-derives with range +
    list_slice indexing."""
    from ...operators import text as tx2

    docs = _t(spark, sf_dir, "documents")
    return tx2.token_windows(docs, window=12, stride=8)


SQL_NDCG_EVAL = """
WITH nn AS (SELECT count(*) AS n FROM documents),
res AS (SELECT q.i AS query_id, r.i + 1 AS rank,
               (q.i * 17 + (r.i + 1) * 13) % nn.n AS doc_id
        FROM UNNEST(range(10)) AS q(i), UNNEST(range(5)) AS r(i), nn),
rel AS (SELECT q.i AS query_id,
               (q.i * 17 + (m.i + 1) * 13) % nn.n AS doc_id,
               (q.i + m.i + 1) % 4 AS rel
        FROM UNNEST(range(10)) AS q(i), UNNEST(range(8)) AS m(i), nn),
dcg AS (SELECT res.query_id,
               CAST(sum(floor(CAST(rel AS DOUBLE)
                    / (ln(CAST(rank AS DOUBLE) + 1.0) / ln(2.0))
                    * 1000000.0 + 0.5)) AS BIGINT) AS dcg_micro
        FROM res JOIN rel USING (query_id, doc_id)
        WHERE rank <= 5 GROUP BY 1),
ideal AS (SELECT query_id,
                 CAST(sum(floor(CAST(rel AS DOUBLE)
                      / (ln(CAST(irk AS DOUBLE) + 1.0) / ln(2.0))
                      * 1000000.0 + 0.5)) AS BIGINT) AS idcg_micro
          FROM (SELECT query_id, rel,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY rel DESC, doc_id)
                           AS irk
                FROM rel WHERE rel > 0) t
          WHERE irk <= 5 GROUP BY 1)
SELECT i.query_id,
       CAST(coalesce(d.dcg_micro, 0) AS BIGINT) AS dcg_micro,
       i.idcg_micro,
       CAST(CASE WHEN i.idcg_micro > 0
                 THEN 1000 * coalesce(d.dcg_micro, 0) // i.idcg_micro
            END AS BIGINT) AS ndcg_milli
FROM ideal i LEFT JOIN dcg d ON d.query_id = i.query_id
"""


@gate(SQL_NDCG_EVAL)
def q_ndcg_eval(spark, sf_dir):
    """Ranking quality (retrieval.ndcg_at_k): nDCG@5 of deterministic
    per-query result lists against judged relevance grades covering
    retrieved AND unretrieved documents (the normalization's point).
    Per-position gains ln-ratio-quantized to micro units before the
    sums; oracle re-derives the ideal ordering with its own window."""
    from ...operators import retrieval as rt

    docs = _t(spark, sf_dir, "documents")
    n = _t_count(spark, sf_dir, "documents")
    qs = spark.range(0, 10).select(F.col("id").alias("query_id"))
    results = qs.select(
        "query_id",
        F.explode(F.sequence(F.lit(1), F.lit(5))).alias("rank")) \
        .select("query_id", "rank",
                ((F.col("query_id") * 17 + F.col("rank") * 13)
                 % F.lit(n)).alias("doc_id"))
    rels = qs.select(
        "query_id",
        F.explode(F.sequence(F.lit(1), F.lit(8))).alias("m")) \
        .select("query_id",
                ((F.col("query_id") * 17 + F.col("m") * 13)
                 % F.lit(n)).alias("doc_id"),
                ((F.col("query_id") + F.col("m")) % 4).alias("rel"))
    return rt.ndcg_at_k(results, rels, k=5)


SQL_TEXTRANK = ("""
WITH toks AS (
  SELECT list_filter(regexp_split_to_array(lower(trim(text)),
                                           '[^a-z0-9_]+'),
                     x -> x <> '') AS t
  FROM documents),
pr0 AS (SELECT t[u.i + 1] AS a, t[u.i + 2] AS b
        FROM toks, UNNEST(range(greatest(len(t) - 1, 0))) AS u(i)),
e AS (SELECT DISTINCT src, dst FROM (
        SELECT a AS src, b AS dst FROM pr0 WHERE a <> b
        UNION ALL
        SELECT b, a FROM pr0 WHERE a <> b) q),
deg AS (SELECT src, count(*) AS out_degree FROM e GROUP BY 1),
s0 AS (SELECT DISTINCT src AS id, CAST(1000000 AS BIGINT) AS score
       FROM e),"""
                + _PR_ITER.format(i=1, p=0) + ","
                + _PR_ITER.format(i=2, p=1) + """
SELECT id AS term, CAST(score AS BIGINT) AS score_e6,
       CAST(row_number() OVER (ORDER BY score DESC, id) AS BIGINT)
           AS rank
FROM s2
QUALIFY row_number() OVER (ORDER BY score DESC, id) <= 10
""")


@gate(SQL_TEXTRANK)
def q_textrank(spark, sf_dir):
    """TextRank keywords (text.textrank_terms): PageRank over the
    symmetrized token-adjacency graph — the graph suite composing with
    the text suite on STRING node ids; top-10 terms by integer ppm
    score. Oracle unrolls the same two damped iterations over its own
    bigram CTEs."""
    from ...operators import text as tx2

    docs = _t(spark, sf_dir, "documents")
    return tx2.textrank_terms(docs, iters=2, k=10)


SQL_HEAPS_LAW = """
WITH toks AS (
  SELECT doc_id AS d, u.tok FROM (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(trim(text)),
                                             '[^a-z0-9_]+'),
                       x -> x <> '') AS t
    FROM documents) q, UNNEST(t) AS u(tok)),
first AS (SELECT tok, min(d) AS fd FROM toks GROUP BY 1),
nv AS (SELECT fd // 10 AS bk, CAST(count(*) AS BIGINT) AS nv
       FROM first GROUP BY 1),
nt AS (SELECT d // 10 AS bk, CAST(count(*) AS BIGINT) AS nt
       FROM toks GROUP BY 1),
curve AS (SELECT nt.bk, nt.nt, coalesce(nv.nv, 0) AS nv
          FROM nt LEFT JOIN nv ON nv.bk = nt.bk),
cum AS (SELECT bk,
               sum(nt) OVER (ORDER BY bk ROWS UNBOUNDED PRECEDING)
                   AS t_cum,
               sum(nv) OVER (ORDER BY bk ROWS UNBOUNDED PRECEDING)
                   AS v_cum
        FROM curve),
pts AS (SELECT
  CAST(floor(ln(CAST(t_cum AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
      AS lx,
  CAST(floor(ln(CAST(v_cum AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
      AS ly
  FROM cum WHERE t_cum > 0 AND v_cum > 0),
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


@gate(SQL_HEAPS_LAW)
def q_heaps_law(spark, sf_dir):
    """Vocabulary growth (text.heaps_law_fit): Heaps'-law beta from
    cumulative (tokens, vocab) at 10-doc ingest buckets — first-seen
    tokens bucketed by ingest position, cumsums over the BUCKET
    relation, then the shared log-log OLS. Oracle re-derives
    first-seens, buckets and the fit."""
    from ...operators import text as tx2

    docs = _t(spark, sf_dir, "documents")
    return tx2.heaps_law_fit(docs, bucket_docs=10)
