"""Embedding and multimodal gates (``operators/similarity.py``,
``operators/multimodal.py``): exact and approximate nearest neighbours,
near duplicates, spectral and isotropy statistics, media features."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._common import _t, gate


SQL_EMB_TOPK = """
WITH q AS (
  SELECT vec_id,
    list_transform(embedding,
      e -> CAST(floor(CAST(e AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qe
  FROM embeddings
),
cand AS (
  SELECT b.vec_id AS query_id, a.vec_id AS vec_id,
    CAST(list_sum(list_transform(range(1, 65), i -> a.qe[i] * b.qe[i])) AS BIGINT) AS dot,
    CAST(list_sum(list_transform(range(1, 65), i -> a.qe[i] * a.qe[i])) AS BIGINT) AS nb,
    CAST(list_sum(list_transform(range(1, 65), i -> b.qe[i] * b.qe[i])) AS BIGINT) AS na
  FROM q a, q b
  WHERE b.vec_id % 50 = 0 AND a.vec_id <> b.vec_id
),
r AS (
  SELECT query_id, vec_id,
    CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cos,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY
      CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) DESC,
      vec_id ASC) AS INT) AS rank
  FROM cand
)
SELECT query_id, vec_id, rank,
       CAST(floor(cos * 1000000 + 0.5) AS BIGINT) AS cos_e6
FROM r WHERE rank <= 5
"""


@gate(SQL_EMB_TOPK)
def q_embedding_topk(spark, sf_dir):
    """Brute-force cosine top-5 for every 50th vector (integer-quantized dot
    products so cross-engine float-sum order is irrelevant)."""
    emb = _t(spark, sf_dir, "embeddings")
    qe = F.transform(F.col("embedding"),
                     lambda e: F.floor(e.cast("double") * 10000 + F.lit(0.5))
                     .cast("bigint"))
    base = emb.select("vec_id", qe.alias("qe"))
    queries = (base.where(F.col("vec_id") % 50 == 0)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("qe").alias("q")))
    dot = F.aggregate(F.zip_with(F.col("q"), F.col("qe"), lambda x, y: x * y),
                      F.lit(0).cast("bigint"), lambda acc, v: acc + v)
    na = F.aggregate(F.col("q"), F.lit(0).cast("bigint"),
                     lambda acc, v: acc + v * v)
    nb = F.aggregate(F.col("qe"), F.lit(0).cast("bigint"),
                     lambda acc, v: acc + v * v)
    cand = (base.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
            .withColumn("dot", dot).withColumn("na", na).withColumn("nb", nb)
            .withColumn("cos", F.col("dot") /
                        (F.sqrt(F.col("na")) * F.sqrt(F.col("nb")))))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 5)
            .select("query_id", "vec_id", "rank",
                    F.floor(F.col("cos") * 1000000 + F.lit(0.5)).cast("bigint")
                    .alias("cos_e6")))


SQL_EMB_NEAR_DUP = """
WITH q AS (
  SELECT vec_id,
    list_transform(embedding,
      e -> CAST(floor(CAST(e AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qe
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
    CAST(list_sum(list_transform(range(1, 65), i -> a.qe[i] * b.qe[i])) AS BIGINT) AS dot,
    CAST(list_sum(list_transform(range(1, 65), i -> a.qe[i] * a.qe[i])) AS BIGINT) AS na,
    CAST(list_sum(list_transform(range(1, 65), i -> b.qe[i] * b.qe[i])) AS BIGINT) AS nb
  FROM q a, q b WHERE a.vec_id < b.vec_id
)
SELECT vec_a, vec_b,
  CAST(floor(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
       * 1000000 + 0.5) AS BIGINT) AS cos_e6
FROM pairs
WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) >= 0.35
"""


@gate(SQL_EMB_NEAR_DUP)
def q_embedding_near_dup(spark, sf_dir):
    """Embedding near-dup pairs: quantized cosine >= 0.35 over all pairs
    (exact; the LSH-blocked variant is operators/similarity.near_dup_pairs)."""
    emb = _t(spark, sf_dir, "embeddings")
    qe = F.transform(F.col("embedding"),
                     lambda e: F.floor(e.cast("double") * 10000 + F.lit(0.5))
                     .cast("bigint"))
    base = emb.select("vec_id", qe.alias("qe"))
    a = base.select(F.col("vec_id").alias("vec_a"), F.col("qe").alias("ea"))
    b = base.select(F.col("vec_id").alias("vec_b"), F.col("qe").alias("eb"))
    dot = F.aggregate(F.zip_with(F.col("ea"), F.col("eb"), lambda x, y: x * y),
                      F.lit(0).cast("bigint"), lambda acc, v: acc + v)
    na = F.aggregate(F.col("ea"), F.lit(0).cast("bigint"),
                     lambda acc, v: acc + v * v)
    nb = F.aggregate(F.col("eb"), F.lit(0).cast("bigint"),
                     lambda acc, v: acc + v * v)
    pairs = (a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
             .withColumn("cos", dot / (F.sqrt(na) * F.sqrt(nb)))
             .where(F.col("cos") >= 0.35))
    return pairs.select(
        "vec_a", "vec_b",
        F.floor(F.col("cos") * 1000000 + F.lit(0.5)).cast("bigint")
        .alias("cos_e6"))


SQL_MULTIMODAL_META = """
WITH pages AS (
  SELECT concat('https://', source, '/doc/', CAST(doc_id AS VARCHAR)) AS url,
         encode('<html><body>' || text || '</body></html>') AS blob
  FROM documents
)
SELECT url, 'text/html' AS media_type,
       CAST(octet_length(blob) AS BIGINT) AS n_bytes,
       lower(substring(hex(blob), 1, 16)) AS header_hex
FROM pages
"""


@gate(SQL_MULTIMODAL_META)
def q_multimodal_meta(spark, sf_dir):
    """Multimodal binary plumbing (operators/multimodal.py): build an html
    binary column from the derived pages and extract typed metadata via the
    Arrow-batched sniffing UDF. Oracle-checkable: the metadata (magic-prefix
    type, byte length, 8-byte header hex) is pure byte math."""
    from ...operators import multimodal as mm

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit("/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.encode(F.concat(F.lit("<html><body>"), F.col("text"),
                          F.lit("</body></html>")), "utf-8").alias("html"))
    return mm.media_metadata(pages)


def _ann_lsh_sql(dim: int = 64, bands: int = 4, planes_per_band: int = 4,
                 k: int = 5) -> str:
    """DuckDB replica of similarity.cosine_topk_lsh with the same integer
    plane numerators (similarity.plane_numerators) inlined as literals."""
    from ...operators import similarity as sim

    planes = sim.plane_numerators(dim, bands * planes_per_band)
    band_selects = []
    for b in range(bands):
        bits = []
        for j in range(planes_per_band):
            nums = planes[b * planes_per_band + j]
            dot = " + ".join(f"qe[{i + 1}]*({n})" for i, n in enumerate(nums))
            bits.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << j} ELSE 0 END)")
        band_selects.append(
            f"SELECT vec_id, {b} AS band, CAST({' + '.join(bits)} AS BIGINT)"
            " AS key FROM q")
    rng = f"range(1, {dim + 1})"
    return f"""
WITH q AS (
  SELECT vec_id,
    list_transform(embedding,
      e -> CAST(floor(CAST(e AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qe
  FROM embeddings
),
b AS ({' UNION ALL '.join(band_selects)}),
cand AS (
  SELECT DISTINCT qq.vec_id AS query_id, e.vec_id AS vec_id
  FROM b e JOIN b qq ON e.band = qq.band AND e.key = qq.key
  WHERE qq.vec_id % 50 = 0 AND e.vec_id <> qq.vec_id
),
sc AS (
  SELECT c.query_id, c.vec_id,
    CAST(list_sum(list_transform({rng}, i -> qq.qe[i] * a.qe[i])) AS BIGINT) AS dot,
    CAST(list_sum(list_transform({rng}, i -> qq.qe[i] * qq.qe[i])) AS BIGINT) AS nq,
    CAST(list_sum(list_transform({rng}, i -> a.qe[i] * a.qe[i])) AS BIGINT) AS ne
  FROM cand c JOIN q a ON a.vec_id = c.vec_id
              JOIN q qq ON qq.vec_id = c.query_id
),
r AS (
  SELECT query_id, vec_id,
    CAST(dot AS DOUBLE) / (sqrt(CAST(nq AS DOUBLE)) * sqrt(CAST(ne AS DOUBLE))) AS cos,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY
      CAST(dot AS DOUBLE) / (sqrt(CAST(nq AS DOUBLE)) * sqrt(CAST(ne AS DOUBLE))) DESC,
      vec_id ASC) AS INT) AS rank
  FROM sc
)
SELECT query_id, vec_id, rank,
       CAST(floor(cos * 1000000 + 0.5) AS BIGINT) AS cos_e6
FROM r WHERE rank <= {k}
"""


SQL_ANN_LSH = _ann_lsh_sql()


@gate(SQL_ANN_LSH)
def q_ann_lsh_topk(spark, sf_dir):
    """ANN top-k via banded multi-table sign-LSH over integer-quantized
    embeddings (operators/similarity.py) — every sign bit is exact int64
    math, so the oracle replicates the blocking bit-for-bit."""
    from ...operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    queries = (emb.where(F.col("vec_id") % 50 == 0)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = sim.cosine_topk_lsh(emb, queries, k=5, bands=4, planes_per_band=4,
                              dim=64)
    return out.select("query_id", "vec_id", "rank",
                      F.floor(F.col("cosine") * 1000000 + F.lit(0.5))
                      .cast("bigint").alias("cos_e6"))


def _cos_sql(a: str, b: str, dim: int = 64) -> str:
    """Integer-quantized cosine with the same op order as similarity._int_dot
    / _int_norm2 composition: dot / (sqrt(norm_a) * sqrt(norm_b))."""
    rng = f"range(1, {dim + 1})"
    return (f"(CAST(list_sum(list_transform({rng}, i -> {a}[i] * {b}[i])) AS DOUBLE)"
            f" / (sqrt(CAST(list_sum(list_transform({rng}, i -> {a}[i] * {a}[i])) AS DOUBLE))"
            f" * sqrt(CAST(list_sum(list_transform({rng}, i -> {b}[i] * {b}[i])) AS DOUBLE))))")


def _ann_ivf_sql(k_centroids: int = 16, nprobe: int = 4, k: int = 5) -> str:
    return f"""
WITH q AS (
  SELECT vec_id,
    list_transform(embedding,
      e -> CAST(floor(CAST(e AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qe
  FROM embeddings
),
cents AS (SELECT vec_id AS cent_id, qe AS c_qe FROM q
          ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
          LIMIT {k_centroids}),
assign AS (
  SELECT vec_id, qe, cent_id FROM (
    SELECT v.vec_id, v.qe, c.cent_id,
      row_number() OVER (PARTITION BY v.vec_id
        ORDER BY {_cos_sql('v.qe', 'c.c_qe')} DESC, c.cent_id ASC) AS rn
    FROM q v, cents c
  ) WHERE rn = 1
),
probes AS (
  SELECT query_id, q_qe, cent_id FROM (
    SELECT qq.vec_id AS query_id, qq.qe AS q_qe, c.cent_id,
      row_number() OVER (PARTITION BY qq.vec_id
        ORDER BY {_cos_sql('qq.qe', 'c.c_qe')} DESC, c.cent_id ASC) AS rn
    FROM q qq, cents c WHERE qq.vec_id % 50 = 0
  ) WHERE rn <= {nprobe}
),
cand AS (
  SELECT p.query_id, a.vec_id, {_cos_sql('p.q_qe', 'a.qe')} AS cos
  FROM probes p JOIN assign a USING (cent_id)
  WHERE a.vec_id <> p.query_id
),
r AS (
  SELECT query_id, vec_id, cos,
    CAST(row_number() OVER (PARTITION BY query_id
         ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
  FROM cand
)
SELECT query_id, vec_id, rank,
       CAST(floor(cos * 1000000 + 0.5) AS BIGINT) AS cos_e6
FROM r WHERE rank <= {k}
"""


SQL_ANN_IVF = _ann_ivf_sql()


@gate(SQL_ANN_IVF)
def q_ann_ivf_topk(spark, sf_dir):
    """ANN top-k via IVF cells (operators/similarity.cosine_topk_ivf):
    fixed-size deterministic centroid set (the 16 vec_ids sorting lowest by
    md5 — size independent of n, so the assignment broadcast is O(k·dim)),
    nprobe=4; exact integer-quantized rerank. The oracle replicates
    centroid selection, assignment, probing, and rerank bit-for-bit."""
    from ...operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    queries = (emb.where(F.col("vec_id") % 50 == 0)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = sim.cosine_topk_ivf(emb, queries, k=5, k_centroids=16, nprobe=4)
    return out.select("query_id", "vec_id", "rank",
                      F.floor(F.col("cosine") * 1000000 + F.lit(0.5))
                      .cast("bigint").alias("cos_e6"))


_B = ("CAST(concat('0x', substr(hx, {o}, 2)) AS INTEGER)")


SQL_IMAGE_FEATURES = f"""
WITH pages AS (
  SELECT concat('https://', source, '/doc/', CAST(doc_id AS VARCHAR)) AS url,
         md5('<html><body>' || text || '</body></html>') AS hx
  FROM documents
),
b AS (
  SELECT url, hx,
    {_B.format(o=1)} AS b0, {_B.format(o=3)} AS b1,
    {_B.format(o=5)} AS b2, {_B.format(o=7)} AS b3,
    {_B.format(o=9)} AS b4, {_B.format(o=11)} AS b5,
    {_B.format(o=13)} AS b6, {_B.format(o=15)} AS b7,
    {_B.format(o=17)} AS b8
  FROM pages
)
SELECT url,
  CAST(64 + (b0 + 256 * b1) % 1985 AS BIGINT) AS width,
  CAST(64 + (b2 + 256 * b3) % 1985 AS BIGINT) AS height,
  CAST(1 + b4 % 4 AS BIGINT) AS n_channels,
  (CAST(b5 AS BIGINT) + 256 * CAST(b6 AS BIGINT)
   + 65536 * CAST(b7 AS BIGINT) + 16777216 * CAST(b8 AS BIGINT)) % 256000
      AS luma_e3,
  CAST(CAST(concat('0x', substr(hx, 1, 16)) AS UBIGINT) >> 1 AS BIGINT)
      AS phash
FROM b
"""


@gate(SQL_IMAGE_FEATURES)
def q_image_features(spark, sf_dir):
    """Image-feature extraction plumbing (operators/multimodal.py) with the
    deterministic stub decoder forced: width/height/channels/luma/phash
    are pure md5 byte math over the html blob, so the oracle replicates
    them bit-exactly in SQL (the blob is utf-8 text here, so DuckDB's
    VARCHAR md5 hashes the same bytes). luma is emitted as exact integer
    thousandths."""
    from ...operators import multimodal as mm

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit("/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.encode(F.concat(F.lit("<html><body>"), F.col("text"),
                          F.lit("</body></html>")), "utf-8").alias("html"))
    out = mm.image_features(pages, decoder="stub")
    return out.select(
        "url", F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.col("n_channels").cast("bigint").alias("n_channels"),
        F.floor(F.col("mean_luma") * 1000 + F.lit(0.5)).cast("bigint")
        .alias("luma_e3"),
        F.col("phash"))


SQL_FRAME_SAMPLE = """
WITH pages AS MATERIALIZED (
  SELECT concat('https://', source, '/doc/', CAST(doc_id AS VARCHAR)) AS url,
         '<html><body>' || text || '</body></html>' AS page
  FROM documents),
nf AS (SELECT url, page,
              greatest(1, octet_length(encode(page)) // 64) AS n
       FROM pages)
SELECT url, CAST(idx AS INTEGER) AS frame_idx,
       md5(page || CAST(idx AS VARCHAR)) AS frame_digest
FROM nf, unnest(range(0, n, 10)) AS t(idx)
"""


@gate(SQL_FRAME_SAMPLE)
def q_frame_sample(spark, sf_dir):
    """Video frame-sampling plumbing (multimodal.frame_sample_stub): the
    third multimodal gate — 1->N rows per binary blob via mapInPandas
    (Python-by-design; the stub 'decode' is byte math: one fake frame
    per 64 bytes, every 10th sampled, digest = md5(blob || ASCII idx)
    so the oracle restates the hash input as plain string concat)."""
    from ...operators import multimodal as mm

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit("/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.encode(F.concat(F.lit("<html><body>"), F.col("text"),
                          F.lit("</body></html>")), "utf-8").alias("html"))
    return mm.frame_sample_stub(pages, every_n=10)


_PI_ITER = """
u{t}r AS (SELECT id, CAST(sum(x * {vin}.v) AS BIGINT) AS u
          FROM xl JOIN {vin} USING (d) GROUP BY 1),
u{t}m AS (SELECT max(abs(u)) AS um FROM u{t}r),
u{t} AS (SELECT id, CASE WHEN um > 0 THEN 1000 * u // um
                         ELSE 0 END AS uq
         FROM u{t}r, u{t}m),
w{t}r AS (SELECT d, CAST(sum(x * uq) AS BIGINT) AS w
          FROM xl JOIN u{t} USING (id) GROUP BY 1),
w{t}m AS (SELECT max(abs(w)) AS wm FROM w{t}r),
v{t} AS (SELECT d, CAST(CASE WHEN wm > 0 THEN 1000000 * w // wm
                             ELSE 0 END AS BIGINT) AS v
         FROM w{t}r, w{t}m)"""


SQL_POWER_ITERATION = ("""
WITH xl AS (
  SELECT vec_id AS id, CAST(u.i AS INT) AS d,
         CAST(floor(CAST(embedding[u.i + 1] AS DOUBLE) * 1000.0 + 0.5)
              AS BIGINT) AS x
  FROM embeddings, UNNEST(range(64)) AS u(i)
  WHERE embedding IS NOT NULL),
v0 AS (SELECT CAST(u.i AS INT) AS d, CAST(1000000 AS BIGINT) AS v
       FROM UNNEST(range(64)) AS u(i)),"""
                       + _PI_ITER.format(t=1, vin="v0") + ","
                       + _PI_ITER.format(t=2, vin="v1") + """
SELECT CAST(d AS BIGINT) AS d, v AS v_e6 FROM v2
""")


@gate(SQL_POWER_ITERATION)
def q_power_iteration(spark, sf_dir):
    """Spectral diagnostic (similarity.power_iteration_top): two
    integer-renormalized power-iteration rounds for the dominant
    direction of the embedding matrix — each matvec one join + one
    partial agg over the long form, scalar maxes folded back as 1-row
    broadcasts (the HITS discipline). Oracle unrolls the identical
    arithmetic."""
    from ...operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    return sim.power_iteration_top(emb, dim=64, iters=2)


SQL_FISHER_SCORES = """
WITH xl AS (
  SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
         CAST(u.i AS BIGINT) AS d,
         CAST(floor(CAST(embedding[u.i + 1] AS DOUBLE) * 1000.0 + 0.5)
              AS BIGINT) AS x
  FROM embeddings, UNNEST(range(64)) AS u(i)
  WHERE label IS NOT NULL AND embedding IS NOT NULL),
m AS (SELECT d, y, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM xl GROUP BY 1, 2),
j AS (SELECT p0.d, p0.n AS n0, p0.sx AS sx0, p0.sxx AS sxx0,
             p1.n AS n1, p1.sx AS sx1, p1.sxx AS sxx1
      FROM (SELECT * FROM m WHERE y = 0) p0
      JOIN (SELECT * FROM m WHERE y = 1) p1 USING (d))
SELECT d, n0, n1,
       CAST(CASE WHEN
         (CAST(sxx0 AS DOUBLE) / CAST(n0 AS DOUBLE)
          - (CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE))
            * (CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE)))
         + (CAST(sxx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            - (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE))
              * (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE))) > 0
       THEN floor(
         (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
          - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE))
         * (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
            - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE))
         / ((CAST(sxx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
             - (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE))
               * (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)))
            + (CAST(sxx0 AS DOUBLE) / CAST(n0 AS DOUBLE)
               - (CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                 * (CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE))))
         * 1000.0 + 0.5)
       END AS BIGINT) AS score_milli
FROM j
"""


@gate(SQL_FISHER_SCORES)
def q_fisher_scores(spark, sf_dir):
    """Embedding separability (similarity.fisher_scores): per-dimension
    Fisher discriminant of the binarized label over milli-quantized
    coordinates — exact per-class moments, one mirrored double chain.
    Oracle re-derives moments with its own pivot."""
    from ...operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", (F.col("label") < 5).cast("int")
        .alias("label"))
    return sim.fisher_scores(emb, dim=64)


SQL_ISOTROPY = """
WITH xl AS (
  SELECT vec_id AS rid, CAST(u.i AS BIGINT) AS d,
         CAST(floor(CAST(embedding[u.i + 1] AS DOUBLE) * 1000.0 + 0.5)
              AS BIGINT) AS x
  FROM embeddings, UNNEST(range(64)) AS u(i)),
pd AS (SELECT d, CAST(sum(x) AS BIGINT) AS sd FROM xl GROUP BY 1),
prw AS (SELECT rid, CAST(sum(x * x) AS BIGINT) AS r2
        FROM xl GROUP BY 1),
a AS (SELECT CAST(sum(sd * sd) AS BIGINT) AS ss FROM pd),
b AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r2) AS BIGINT) AS self_dot_sum
      FROM prw)
SELECT n, self_dot_sum,
       CAST(ss - self_dot_sum AS BIGINT) AS pair_dot_num,
       CAST(CASE WHEN n > 1 AND self_dot_sum > 0 THEN
         floor(CAST(ss - self_dot_sum AS DOUBLE)
               / CAST(n * (n - 1) AS DOUBLE)
               / (CAST(self_dot_sum AS DOUBLE) / CAST(n AS DOUBLE))
               * 1000.0 + 0.5)
       END AS BIGINT) AS anisotropy_milli
FROM b, a
"""


@gate(SQL_ISOTROPY)
def q_isotropy(spark, sf_dir):
    """Embedding anisotropy (similarity.isotropy_score): average
    pairwise dot over ALL n(n-1) pairs without a pair join — the
    ||Σv||² − Σ||v||² identity over two integer aggregates. Oracle
    restates the identity over its own long form."""
    from ...operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    return sim.isotropy_score(emb, dim=64)
