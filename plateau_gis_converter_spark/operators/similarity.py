"""Similarity search over the ``embeddings`` table (vec_id, embedding:
array<float>, label).

* ``cosine_topk_bruteforce`` — exact top-k neighbors for a set of query
  vectors: broadcast the (small) query side, dot products via Catalyst
  higher-order ``aggregate``/``zip_with`` (JVM-side), window top-k.
  This is the correctness baseline and the oracle-checkable path.
* ``cosine_topk_lsh`` — scale path: banded multi-table random-hyperplane
  LSH (b bands x r sign bits each, like the MinHash band construction),
  candidates from the union of per-band bucket equi-joins, exact re-rank.
  At 10^12 rows, per-band key width r bounds bucket sizes (2^r buckets per
  band); raise r and add bands to trade shuffle width for recall.
* ``near_dup_pairs_cosine`` — embedding near-dup pairs (cos >= τ) within
  the corpus via the same banded blocking, with an optional bucket-size cap
  (``max_bucket``): oversized buckets are re-split by additional sign
  planes so no single bucket ever produces an unbounded self-join (the
  round-1 design had one global 2^8-bucket table — quadratic at scale).

Determinism (CORRECTNESS-gate requirement): embeddings are quantized to
integers (e4) and hyperplane coefficients are integer numerators over 1e6,
so every sign bit and every candidate set is exact integer arithmetic —
bit-identical across Spark, DuckDB, and runs. Final cosines divide the
integer dot by integer-norm square roots in a fixed op order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.local import local_relation

EMB_SCALE = 10_000          # embedding quantization (e4)
PLANE_SCALE = 1_000_000     # plane coefficient = numerator / PLANE_SCALE


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def with_cosine(df: DataFrame, a: str, b: str, out: str = "cosine") -> DataFrame:
    ca, cb = F.col(a), F.col(b)
    cos = _dot(ca, cb) / (_norm(ca) * _norm(cb))
    return df.withColumn(out, cos)


def cosine_topk_bruteforce(embeddings: DataFrame, queries: DataFrame,
                           k: int = 5) -> DataFrame:
    """queries(query_id, embedding) x embeddings(vec_id, embedding) -> exact
    top-k by cosine. Query side is broadcast; ranking window is partitioned
    by query_id (bounded state). Deterministic tie-break on vec_id."""
    q = queries.select(F.col("query_id"), F.col("embedding").alias("q_emb"))
    cand = (embeddings.alias("e")
            .join(F.broadcast(q), F.col("e.vec_id") != F.col("query_id")))
    cand = with_cosine(cand, "q_emb", "embedding", "cosine")
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("vec_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "vec_id", "rank", "cosine"))


def plane_numerators(dim: int, n_planes: int) -> list[list[int]]:
    """Deterministic pseudo-random hyperplane coefficients as INTEGER
    numerators in [-1e6, 1e6] (value = num / PLANE_SCALE). Seeded
    xorshift64 — no RNG state, reproducible everywhere; the sign of
    sum(qe_i * num_i) over e4-quantized embeddings is exact int64 math
    (|dot| < 64 * 1e4 * 1e6 = 6.4e11 << 2^63)."""
    planes = []
    state = 88172645463325252
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            state ^= (state << 13) & 0xFFFFFFFFFFFFFFFF
            state ^= state >> 7
            state ^= (state << 17) & 0xFFFFFFFFFFFFFFFF
            v.append((state % 2000001) - 1000000)
        planes.append(v)
    return planes


def quantized_embedding(emb_col) -> F.Column:
    """array<float> -> array<bigint> at e4 (exact, engine-portable)."""
    return F.transform(
        emb_col, lambda e: F.floor(e.cast("double") * EMB_SCALE + F.lit(0.5))
        .cast("bigint"))


def _int_dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0).cast("bigint"), lambda acc, v: acc + v)


def _int_norm2(a):
    return F.aggregate(a, F.lit(0).cast("bigint"), lambda acc, v: acc + v * v)


def band_key(qe_col, band_planes: list[list[int]]) -> F.Column:
    """Key of one band: r sign bits of integer plane dots, packed LSB-first."""
    key = F.lit(0).cast("bigint")
    for j, nums in enumerate(band_planes):
        dot = _int_dot(qe_col, F.array(*[F.lit(int(n)).cast("bigint")
                                         for n in nums]))
        key = key + F.when(dot >= 0, F.lit(1 << j)).otherwise(F.lit(0)) \
                     .cast("bigint")
    return key


def banded_buckets(df: DataFrame, id_col: str, qe_col: str,
                   planes: list[list[int]], bands: int,
                   planes_per_band: int) -> DataFrame:
    """(id, band, key) — one row per (row, band). `planes` must hold
    bands*planes_per_band rows (extra planes beyond that are for re-split,
    see near_dup_pairs_cosine)."""
    cols = []
    for b in range(bands):
        bp = planes[b * planes_per_band:(b + 1) * planes_per_band]
        cols.append(F.struct(F.lit(b).alias("band"),
                             band_key(F.col(qe_col), bp).alias("key")))
    return (df.select(id_col, qe_col, F.explode(F.array(*cols)).alias("bk"))
            .select(id_col, qe_col, F.col("bk.band").alias("band"),
                    F.col("bk.key").alias("key")))


def cosine_topk_lsh(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                    bands: int = 4, planes_per_band: int = 4,
                    dim: int | None = None) -> DataFrame:
    """ANN top-k: candidates share any band bucket; exact integer-quantized
    rerank. Recall < 1 by design (raise bands for recall, planes_per_band
    for bucket selectivity); candidates are the union of b equi-joins —
    never a global self-join. `dim` is required (no driver-side sniffing).
    """
    if dim is None:
        raise ValueError("pass dim explicitly (embedding length)")
    planes = plane_numerators(dim, bands * planes_per_band)
    e = embeddings.select("vec_id", quantized_embedding(F.col("embedding"))
                          .alias("qe"))
    q = queries.select(F.col("query_id"),
                       quantized_embedding(F.col("embedding")).alias("q_qe"))
    eb = banded_buckets(e, "vec_id", "qe", planes, bands, planes_per_band)
    qb = banded_buckets(q, "query_id", "q_qe", planes, bands, planes_per_band)
    cand_ids = (eb.select("vec_id", "band", "key")
                .join(F.broadcast(qb.select("query_id", "band", "key")),
                      ["band", "key"])
                .where(F.col("vec_id") != F.col("query_id"))
                .select("query_id", "vec_id").distinct())
    cand = (cand_ids.join(e, "vec_id")
            .join(F.broadcast(q), "query_id"))
    cos = (_int_dot(F.col("q_qe"), F.col("qe")).cast("double")
           / (F.sqrt(_int_norm2(F.col("q_qe")).cast("double"))
              * F.sqrt(_int_norm2(F.col("qe")).cast("double"))))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("vec_id").asc())
    return (cand.withColumn("cosine", cos)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "vec_id", "rank", "cosine"))


def ivf_centroids(embeddings: DataFrame, k_centroids: int = 32) -> DataFrame:
    """Fixed-size deterministic centroid seed set: the ``k_centroids``
    vectors whose md5(vec_id) sorts lowest. Unlike a modulo rule the set
    size is INDEPENDENT of n — the downstream broadcast is O(k·dim) bytes
    and assignment is O(n·k) no matter how big the corpus grows. md5 over
    the decimal id string is engine-portable (Spark and DuckDB agree), so
    the CORRECTNESS oracle can reproduce the exact set. The orderBy+limit
    compiles to TakeOrderedAndProject: per-partition partial top-k, only
    k rows cross the wire."""
    e = embeddings.select("vec_id", quantized_embedding(F.col("embedding"))
                          .alias("qe"))
    return (e.withColumn("_h", F.md5(F.col("vec_id").cast("string")))
            .orderBy(F.col("_h").asc(), F.col("vec_id").asc())
            .limit(k_centroids)
            .select(F.col("vec_id").alias("cent_id"),
                    F.col("qe").alias("c_qe")))


def ivf_kmeans_refine(embeddings: DataFrame, cents: DataFrame,
                      iters: int = 2) -> DataFrame:
    """Optional Lloyd refinement of the seed centroids, entirely as Spark
    aggregations: assign each vector to its nearest centroid (broadcast
    O(k·dim)), recompute each centroid as the member mean per dimension
    (posexplode → groupBy(cent_id, pos) → avg → re-assemble, all partial-agg
    shuffles of O(k·dim) result size), repeat. Output schema matches
    ivf_centroids (cent_id, c_qe) with c_qe the rounded integer mean.
    Not in the oracle path (float means are not engine-portable); pytest
    checks it against a NumPy Lloyd run."""
    e = embeddings.select("vec_id", quantized_embedding(F.col("embedding"))
                          .alias("qe"))
    for _ in range(iters):
        cand = e.join(F.broadcast(cents))
        cos = (_int_dot(F.col("qe"), F.col("c_qe")).cast("double")
               / (F.sqrt(_int_norm2(F.col("qe")).cast("double"))
                  * F.sqrt(_int_norm2(F.col("c_qe")).cast("double"))))
        assign = (cand.withColumn("_c", cos)
                  .groupBy("vec_id")
                  .agg(F.max(F.struct(F.col("_c").alias("c"),
                                      (-F.col("cent_id")).alias("nid"),
                                      F.col("qe").alias("qe"))).alias("b"))
                  .select((-F.col("b.nid")).alias("cent_id"),
                          F.col("b.qe").alias("qe")))
        dims = assign.select("cent_id",
                             F.posexplode(F.col("qe")).alias("pos", "v"))
        means = (dims.groupBy("cent_id", "pos")
                 .agg(F.avg(F.col("v")).alias("m")))
        cents = (means.groupBy("cent_id")
                 .agg(F.array_sort(
                     F.collect_list(F.struct("pos", "m"))).alias("pm"))
                 .select("cent_id",
                         F.transform(F.col("pm"),
                                     lambda s: F.floor(s["m"] + F.lit(0.5))
                                     .cast("bigint")).alias("c_qe")))
    return cents


def ivf_assign(embeddings: DataFrame, k_centroids: int = 32,
               cents: DataFrame | None = None) -> DataFrame:
    """IVF coarse quantizer: every vector joins its nearest centroid by
    integer-quantized cosine (ties -> smaller centroid id). Centroids
    default to the fixed-size deterministic seed set (``ivf_centroids``);
    pass a refined set (``ivf_kmeans_refine``) for better cell balance.
    Output: (vec_id, qe, cent_id). One O(k·dim) broadcast join + argmax —
    no shuffle of the vector side beyond its partitioning, and the
    broadcast no longer scales with n."""
    e = embeddings.select("vec_id", quantized_embedding(F.col("embedding"))
                          .alias("qe"))
    if cents is None:
        cents = ivf_centroids(embeddings, k_centroids)
    cand = e.join(F.broadcast(cents))
    cos = (_int_dot(F.col("qe"), F.col("c_qe")).cast("double")
           / (F.sqrt(_int_norm2(F.col("qe")).cast("double"))
              * F.sqrt(_int_norm2(F.col("c_qe")).cast("double"))))
    best = (cand.withColumn("_c", cos)
            .groupBy("vec_id")
            .agg(F.max(F.struct(F.col("_c").alias("c"),
                                (-F.col("cent_id")).alias("nid"))).alias("b")))
    return (e.join(best, "vec_id")
            .select("vec_id", "qe", (-F.col("b.nid")).alias("cent_id")))


def cosine_topk_ivf(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                    k_centroids: int = 32, nprobe: int = 4,
                    lloyd_iters: int = 0) -> DataFrame:
    """ANN top-k via IVF: queries probe their nprobe nearest centroids and
    rerank exactly within those cells. At scale the index is partitioned BY
    cent_id, so a probe reads nprobe partitions — the classic IVF pruning;
    recall grows with nprobe. The centroid set is fixed-size (k_centroids,
    independent of n) so every broadcast here is O(k·dim). Deterministic
    end-to-end with lloyd_iters=0 (integer-quantized cosines, id
    tie-breaks), so the gate oracle replicates it exactly; lloyd_iters>0
    refines cell balance via Spark-native k-means (not oracle-portable)."""
    cents = ivf_centroids(embeddings, k_centroids)
    if lloyd_iters > 0:
        cents = ivf_kmeans_refine(embeddings, cents, lloyd_iters)
    # The centroid set is O(k·dim) scalars by construction — materialize it
    # once as a local relation so the two consumers below (assignment and
    # probing) broadcast a LocalTableScan instead of re-running the
    # top-k/refinement scan twice. This is bounded driver metadata, not a
    # data collect.
    cent_rows = [(r["cent_id"], list(r["c_qe"])) for r in cents.collect()]
    cents = local_relation(embeddings.sparkSession, cent_rows,
                           "cent_id bigint, c_qe array<bigint>")
    idx = ivf_assign(embeddings, cents=cents)
    q = queries.select("query_id", quantized_embedding(F.col("embedding"))
                       .alias("q_qe"))
    return _ivf_probe_rerank(idx, cents, q, k, nprobe)


def _ivf_probe_rerank(idx: DataFrame, cents: DataFrame, q: DataFrame,
                      k: int, nprobe: int) -> DataFrame:
    """Shared IVF probe+rerank: each query picks its ``nprobe`` nearest
    centroids (broadcast O(k·dim)), then reranks exactly within those
    cells. ``idx`` is (vec_id, qe, cent_id) — in-memory or read back from
    a cent_id-partitioned parquet index."""
    pcos = (_int_dot(F.col("q_qe"), F.col("c_qe")).cast("double")
            / (F.sqrt(_int_norm2(F.col("q_qe")).cast("double"))
               * F.sqrt(_int_norm2(F.col("c_qe")).cast("double"))))
    wp = Window.partitionBy("query_id").orderBy(F.col("_pc").desc(),
                                                F.col("cent_id").asc())
    probes = (q.join(F.broadcast(cents))
              .withColumn("_pc", pcos)
              .withColumn("_pr", F.row_number().over(wp))
              .where(F.col("_pr") <= nprobe)
              .select("query_id", "q_qe", "cent_id"))
    cand = (idx.join(F.broadcast(probes), "cent_id")
            .where(F.col("vec_id") != F.col("query_id")))
    cos = (_int_dot(F.col("q_qe"), F.col("qe")).cast("double")
           / (F.sqrt(_int_norm2(F.col("q_qe")).cast("double"))
              * F.sqrt(_int_norm2(F.col("qe")).cast("double"))))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("vec_id").asc())
    return (cand.withColumn("cosine", cos)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "vec_id", "rank", "cosine"))


def write_ivf_index(embeddings: DataFrame, path: str,
                    k_centroids: int = 32, lloyd_iters: int = 0) -> None:
    """Materialize the IVF index ON DISK, hash-partitioned BY cent_id
    (``partitionBy`` parquet layout: one ``cent_id=<c>/`` directory per
    cell) plus the centroid table — the production shape behind
    ``cosine_topk_ivf``'s docstring claim. A probe filters on a static
    cent_id IN-list, so Catalyst's partition pruning skips every
    non-probed cell directory at the FILE INDEX level: a query touches
    nprobe cells of data no matter how many billions of vectors the
    index holds (tests assert the pruned read via input_file_name)."""
    cents = ivf_centroids(embeddings, k_centroids)
    if lloyd_iters > 0:
        cents = ivf_kmeans_refine(embeddings, cents, lloyd_iters)
    cent_rows = [(r["cent_id"], list(r["c_qe"])) for r in cents.collect()]
    cents_local = local_relation(embeddings.sparkSession, cent_rows,
                                 "cent_id bigint, c_qe array<bigint>")
    cents_local.coalesce(1).write.mode("overwrite").parquet(
        f"{path}/centroids")
    (ivf_assign(embeddings, cents=cents_local)
     .write.mode("overwrite").partitionBy("cent_id")
     .parquet(f"{path}/cells"))


def probe_ivf_index(spark, path: str, queries: DataFrame, k: int = 5,
                    nprobe: int = 4) -> DataFrame:
    """ANN top-k against a ``write_ivf_index`` on-disk index. The probed
    cell ids (≤ k_centroids distinct values — bounded driver metadata,
    not data) become a static IN filter on the partition column, so the
    parquet scan reads ONLY the probed cell directories. Results are
    identical to the in-memory ``cosine_topk_ivf`` for the same
    centroid parameters."""
    cents = spark.read.parquet(f"{path}/centroids")
    raw = spark.read.parquet(f"{path}/cells")
    q = queries.select("query_id", quantized_embedding(F.col("embedding"))
                       .alias("q_qe"))
    pcos = (_int_dot(F.col("q_qe"), F.col("c_qe")).cast("double")
            / (F.sqrt(_int_norm2(F.col("q_qe")).cast("double"))
               * F.sqrt(_int_norm2(F.col("c_qe")).cast("double"))))
    wp = Window.partitionBy("query_id").orderBy(F.col("_pc").desc(),
                                                F.col("cent_id").asc())
    probes = (q.join(F.broadcast(cents))
              .withColumn("_pc", pcos)
              .withColumn("_pr", F.row_number().over(wp))
              .where(F.col("_pr") <= nprobe)
              .select("query_id", "q_qe", "cent_id"))
    cells = sorted(r["cent_id"]
                   for r in probes.select("cent_id").distinct().collect())
    # static IN on the RAW partition column (before any cast) so the
    # predicate lands in the scan's PartitionFilters and prunes at the
    # file-index level
    pruned = (raw.where(F.col("cent_id").isin(cells))
              .select("vec_id", "qe",
                      F.col("cent_id").cast("bigint").alias("cent_id")))
    return _ivf_probe_rerank(pruned, cents, q, k, nprobe)


def near_dup_pairs_cosine(embeddings: DataFrame, threshold: float = 0.95,
                          bands: int = 8, planes_per_band: int = 8,
                          dim: int | None = None,
                          max_bucket: int | None = None,
                          split_planes: int = 8) -> DataFrame:
    """Embedding near-duplicate pairs via banded LSH blocking + exact
    verification on the integer-quantized cosine.

    With ``max_bucket`` set, buckets holding more than that many vectors are
    re-split by ``split_planes`` additional sign bits (subkey 1+extra vs 0
    for normal buckets — disjoint key spaces), bounding every self-join
    input to ~max_bucket/2^split_planes rows per bucket. Pairs whose two
    members land in different sub-buckets of an oversized bucket are lost
    from THAT band only — other bands still catch them (the standard
    bounded-bucket recall trade; multi-probe would recover more).
    """
    if dim is None:
        raise ValueError("pass dim explicitly (embedding length)")
    n_planes = bands * planes_per_band + split_planes
    planes = plane_numerators(dim, n_planes)
    e = embeddings.select("vec_id", quantized_embedding(F.col("embedding"))
                          .alias("qe"))
    b = banded_buckets(e, "vec_id", "qe", planes, bands, planes_per_band)
    if max_bucket is not None:
        extra = planes[bands * planes_per_band:]
        sizes = (b.groupBy("band", "key")
                 .agg(F.count(F.lit(1)).alias("n_bucket")))
        oversized = sizes.where(F.col("n_bucket") > max_bucket) \
                         .select("band", "key", F.lit(True).alias("_big"))
        b = (b.join(F.broadcast(oversized), ["band", "key"], "left")
             .withColumn("subkey",
                         F.when(F.col("_big").isNotNull(),
                                F.lit(1).cast("bigint")
                                + band_key(F.col("qe"), extra))
                         .otherwise(F.lit(0).cast("bigint")))
             .drop("_big"))
        join_keys = ["band", "key", "subkey"]
    else:
        join_keys = ["band", "key"]
    lhs = b.select(F.col("vec_id").alias("vec_a"), *join_keys)
    rhs = b.select(F.col("vec_id").alias("vec_b"), *join_keys)
    cand = (lhs.join(rhs, join_keys)
            .where(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b").distinct())
    ea = e.select(F.col("vec_id").alias("vec_a"), F.col("qe").alias("qe_a"))
    eb2 = e.select(F.col("vec_id").alias("vec_b"), F.col("qe").alias("qe_b"))
    pairs = cand.join(ea, "vec_a").join(eb2, "vec_b")
    cos = (_int_dot(F.col("qe_a"), F.col("qe_b")).cast("double")
           / (F.sqrt(_int_norm2(F.col("qe_a")).cast("double"))
              * F.sqrt(_int_norm2(F.col("qe_b")).cast("double"))))
    return (pairs.withColumn("cosine", cos)
            .where(F.col("cosine") >= threshold)
            .select("vec_a", "vec_b", "cosine"))


def power_iteration_top(embeddings: DataFrame, dim: int, iters: int = 2,
                        id_col: str = "vec_id",
                        emb_col: str = "embedding") -> DataFrame:
    """Distributed power iteration for the TOP principal direction of
    the (uncentered) embedding matrix — v_{t+1} ∝ Xᵀ(X v_t) — the
    first step of any spectral diagnostic over an embedding corpus
    (dominant-direction drift, anisotropy checks, PCA whitening
    seeds). Lanczos/full PCA need an orthogonalization loop; at 10^12
    rows the practical move is a few matvec rounds, and each matvec
    here is pure relational algebra over the LONG form (id, d, x):
    one join + one partial agg per side.

    Integer-exact determinism (the pagerank/HITS discipline): inputs
    quantize to milli units; after every half-step the vector
    renormalizes to max-abs = 1000 (row side) / 1e6 (dim side) with
    integer DIV, the scalar max folded back as a 1-row broadcast cross
    join — no driver roundtrip, no float sums anywhere, so Spark's
    partial-agg merge order cannot change a single bit and the oracle
    unrolls the identical arithmetic. i64 bounds: |Σ_d x·v| <=
    dim·1000·1e6 ~ 2^36; |Σ_rows x·u| <= n·1000·1000 — safe to
    ~9·10^12 rows per partitioned sum.

    v0 = all-ones (deterministic; orthogonal-start failure is measure
    zero and detectable via the emitted max). Output: (d, v_e6) — the
    direction scaled to max-abs 1e6.
    """
    if iters < 1 or dim < 1:
        raise ValueError(f"need iters >= 1 and dim >= 1, "
                         f"got iters={iters} dim={dim}")
    xl = (embeddings.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(emb_col)).alias("d", "xf"))
        .select("id", "d",
                F.floor(F.col("xf").cast("double") * F.lit(1000.0)
                        + F.lit(0.5)).cast("bigint").alias("x")))
    spark = embeddings.sparkSession
    v = spark.range(0, dim).select(
        F.col("id").cast("int").alias("d"),
        F.lit(1_000_000).cast("bigint").alias("v"))
    for _ in range(int(iters)):
        u_raw = (xl.join(v, "d")
                 .groupBy("id")
                 .agg(F.sum(F.col("x") * F.col("v")).cast("bigint")
                      .alias("u")))
        umax = u_raw.agg(F.max(F.abs(F.col("u"))).alias("um"))
        u = (u_raw.crossJoin(F.broadcast(umax))
             .select("id",
                     F.when(F.col("um") > 0,
                            F.expr("1000 * u div um"))
                     .otherwise(F.lit(0)).cast("bigint").alias("uq")))
        w_raw = (xl.join(u, "id")
                 .groupBy("d")
                 .agg(F.sum(F.col("x") * F.col("uq")).cast("bigint")
                      .alias("w")))
        wmax = w_raw.agg(F.max(F.abs(F.col("w"))).alias("wm"))
        v = (w_raw.crossJoin(F.broadcast(wmax))
             .select("d",
                     F.when(F.col("wm") > 0,
                            F.expr("1000000 * w div wm"))
                     .otherwise(F.lit(0)).cast("bigint").alias("v")))
    return v.select(F.col("d").cast("bigint").alias("d"),
                    F.col("v").cast("bigint").alias("v_e6"))


def fisher_scores(embeddings: DataFrame, dim: int,
                  label_col: str = "label",
                  id_col: str = "vec_id",
                  emb_col: str = "embedding") -> DataFrame:
    """Per-dimension Fisher discriminant score for a binary label —
    (mean1 - mean0)^2 / (var1 + var0) — the embedding-space
    separability diagnostic (which coordinates carry the class signal;
    near-zero everywhere means the label is not linearly visible, a
    prerequisite check before training a probe).

    Inputs quantize to milli ints; per-(dimension, class) moments
    (n, sum, sum of squares) are associative int64 aggregates; the
    score is ONE fixed-op-order double chain over those exact ints
    (population variances), milli-quantized. One explode + one partial
    agg + one pivot join.

    Output: (d, n0, n1, score_milli) — NULL when var1 + var0 = 0.
    """
    xl = (embeddings
          .where(F.col(label_col).isNotNull())
          .select(F.col(label_col).cast("int").alias("y"),
                  F.posexplode(F.col(emb_col)).alias("d", "xf"))
          .select("y", "d",
                  F.floor(F.col("xf").cast("double") * F.lit(1000.0)
                          + F.lit(0.5)).cast("bigint").alias("x")))
    m = (xl.groupBy("d", "y")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
              F.sum("x").cast("bigint").alias("sx"),
              F.sum(F.col("x") * F.col("x")).cast("bigint")
              .alias("sxx")))
    p0 = (m.where(F.col("y") == 0)
          .select("d", F.col("n").alias("n0"), F.col("sx").alias("sx0"),
                  F.col("sxx").alias("sxx0")))
    p1 = (m.where(F.col("y") == 1)
          .select("d", F.col("n").alias("n1"), F.col("sx").alias("sx1"),
                  F.col("sxx").alias("sxx1")))
    j = p0.join(p1, "d")
    m0 = F.col("sx0").cast("double") / F.col("n0").cast("double")
    m1 = F.col("sx1").cast("double") / F.col("n1").cast("double")
    v0 = (F.col("sxx0").cast("double") / F.col("n0").cast("double")
          - m0 * m0)
    v1 = (F.col("sxx1").cast("double") / F.col("n1").cast("double")
          - m1 * m1)
    score = F.when(v0 + v1 > 0,
                   F.floor((m1 - m0) * (m1 - m0) / (v1 + v0)
                           * F.lit(1000.0) + F.lit(0.5)).cast("bigint"))
    return j.select(F.col("d").cast("bigint").alias("d"), "n0", "n1",
                    score.alias("score_milli"))


def isotropy_score(embeddings: DataFrame, dim: int,
                   emb_col: str = "embedding") -> DataFrame:
    """Embedding anisotropy diagnostic (Ethayarajh 2019): the average
    pairwise DOT over all n(n-1) ordered pairs, relative to the
    average self-dot — near 0 for an isotropic cloud, near 1000 milli
    when every vector points the same way (the 'cone' pathology that
    breaks cosine retrieval). Identity that removes the pair join
    entirely: sum over pairs of <u, v> = ||sum v||^2 - sum ||v||^2 —
    two integer aggregates over the long form, NO O(n^2) anywhere.

    Milli-quantized integer coordinates; S_d and the self-dot sum are
    exact int64; the final ratio is one fixed-op-order double.

    Output (one row): (n, self_dot_sum, pair_dot_num,
    anisotropy_milli).
    """
    # row id BEFORE the explode (inside the same select it would be
    # evaluated per generator OUTPUT row — n would count coordinates)
    rows = embeddings.select(
        F.monotonically_increasing_id().alias("rid"),
        F.col(emb_col).alias("__e"))
    xl = (rows.select(
        "rid", F.posexplode(F.col("__e")).alias("d", "xf"))
        .select("rid", "d",
                F.floor(F.col("xf").cast("double") * F.lit(1000.0)
                        + F.lit(0.5)).cast("bigint").alias("x")))
    per_dim = xl.groupBy("d").agg(F.sum("x").cast("bigint").alias("sd"))
    per_row = xl.groupBy("rid").agg(
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("r2"))
    a = per_dim.agg(F.sum(F.col("sd") * F.col("sd")).cast("bigint")
                    .alias("ss"))
    b = per_row.agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                    F.sum("r2").cast("bigint").alias("self_dot_sum"))
    j = b.crossJoin(F.broadcast(a))
    num = F.col("ss") - F.col("self_dot_sum")
    aniso = F.when(
        (F.col("n") > 1) & (F.col("self_dot_sum") > 0),
        F.floor(num.cast("double")
                / (F.col("n") * (F.col("n") - 1)).cast("double")
                / (F.col("self_dot_sum").cast("double")
                   / F.col("n").cast("double"))
                * F.lit(1000.0) + F.lit(0.5)).cast("bigint"))
    return j.select("n", "self_dot_sum",
                    num.cast("bigint").alias("pair_dot_num"),
                    aniso.alias("anisotropy_milli"))
