"""Deterministic sampling for training-data mixes.

Corpus curation needs REPRODUCIBLE sampling: per-stratum rates (e.g.
upsample high-quality English, downsample boilerplate) that give the same
sample on every run, every engine, and every partitioning. Random
`df.sample` is none of those. The operator here uses an md5-derived
Bernoulli draw per row — `md5(key || salt)` maps each row to a uniform
bucket in [0, 1e6), and a row survives iff its bucket < rate_ppm of its
stratum — so the sample is a pure function of (key, salt, rates): exact
SQL oracle, stable across runs, joins, and retries (the property that
makes downstream incremental processing safe).

Scale: a map-only filter (one md5 + one broadcast-joined or inlined rate
lookup); no shuffle, no state. The same construction gives deterministic
train/val/test splits (disjoint bucket ranges).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

BUCKETS = 1_000_000


def hash_bucket(key: Column, salt: str) -> Column:
    """Uniform deterministic bucket in [0, BUCKETS): the first 15 hex
    chars of md5(key||salt) (60 bits, exact in i64) mod BUCKETS."""
    h = F.md5(F.concat(key.cast("string"), F.lit(salt)))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint") % BUCKETS


def stratified_sample(df: DataFrame, rates_ppm: dict[str, int],
                      stratum_col: str, key_col: str,
                      salt: str = "s0",
                      default_ppm: int = 0) -> DataFrame:
    """Keep each row iff hash_bucket(key) < rates_ppm[stratum] (ppm).
    Unknown strata fall back to ``default_ppm``. The rate lookup is an
    inlined CASE (tiny dict) — a broadcast join for large rate tables.
    Rates are schema-validated (ppm bounds) at plan time."""
    from ..parameters import validate_rates_ppm

    validate_rates_ppm(dict(rates_ppm) | {"__default__": default_ppm})
    rate = None
    for stratum, ppm in sorted(rates_ppm.items()):
        cond = F.col(stratum_col) == stratum
        rate = (F.when(cond, ppm) if rate is None
                else rate.when(cond, ppm))
    rate = (rate.otherwise(default_ppm) if rate is not None
            else F.lit(default_ppm))
    return df.where(hash_bucket(F.col(key_col), salt) < rate)


def deterministic_split(df: DataFrame, key_col: str,
                        val_ppm: int = 10_000, test_ppm: int = 10_000,
                        salt: str = "split0") -> DataFrame:
    """Add a ``split`` column (train/val/test) from disjoint bucket
    ranges — reproducible and leakage-free (a key lands in exactly one
    split, forever)."""
    b = hash_bucket(F.col(key_col), salt)
    return df.withColumn(
        "split",
        F.when(b < val_ppm, F.lit("val"))
        .when(b < val_ppm + test_ppm, F.lit("test"))
        .otherwise(F.lit("train")))


def cap_per_group(df: DataFrame, group_col: str, n_max: int,
                  order_by: list | None = None,
                  key_col: str = "doc_id",
                  skew_salts: int = 0) -> DataFrame:
    """Per-group document cap (domain diversification): keep at most
    ``n_max`` rows per group — the standard per-registered-domain cap
    that stops one SEO farm from dominating a training mix. The kept
    rows are the lexicographic-MIN ``n_max`` under ``order_by`` (e.g.
    ``[-F.col("quality")]`` keeps the highest-quality pages); the key is
    always the final tiebreak, so the cap is deterministic — same kept
    set on every run, partitioning, and engine (exact SQL oracle).

    Scale / skew: the naive plan is one ``row_number`` window keyed by
    group — a single shuffle, but a hot group (a 10^9-page domain)
    becomes ONE task's sort. ``skew_salts = S > 0`` switches to the
    two-phase top-N: phase 1 ranks within (group, md5-salt-of-key) and
    keeps ``n_max`` per salt cell (hot group -> S parallel cells), phase
    2 ranks the <= S * n_max survivors per group. The union of per-cell
    top-N always contains the global top-N, so the result is IDENTICAL
    to the unsalted plan (the ``domain_cap`` gate proves invariance
    against the plain-window oracle) — same pattern as
    operators/skew.py's salted aggregation, applied to ranking.
    """
    from pyspark.sql import Window

    order_by = list(order_by or [])
    order_cols = [*order_by, F.col(key_col)]
    if skew_salts and skew_salts > 1:
        salt = hash_bucket(F.col(key_col), "cap") % skew_salts
        pre = (df.withColumn("__rk1", F.row_number().over(
                   Window.partitionBy(F.col(group_col), salt)
                   .orderBy(*order_cols)))
               .where(F.col("__rk1") <= n_max))
        ranked = pre.withColumn("__rk", F.row_number().over(
            Window.partitionBy(group_col).orderBy(*order_cols)))
        return (ranked.where(F.col("__rk") <= n_max)
                .drop("__rk1", "__rk"))
    ranked = df.withColumn("__rk", F.row_number().over(
        Window.partitionBy(group_col).orderBy(*order_cols)))
    return ranked.where(F.col("__rk") <= n_max).drop("__rk")


def weighted_sample(df: DataFrame, weight_col: str, max_weight: int,
                    key_col: str = "doc_id",
                    salt: str = "w0") -> DataFrame:
    """Deterministic weighted Bernoulli sample: keep each row with
    probability ``weight / max_weight`` — importance sampling by a
    per-row integer weight (token count, quality ppm, ...) instead of
    ``stratified_sample``'s finite per-stratum rates.

    The draw is the same md5 bucket as ``stratified_sample`` and the
    comparison is an integer CROSS-MULTIPLY — ``bucket * max_weight <
    weight * BUCKETS`` — so there is no float division anywhere: the
    kept set is a pure function of (key, salt, weight), bit-identical
    across engines (exact SQL oracle), runs, and partitionings.  Weights
    above ``max_weight`` clamp to always-keep; negative weights to
    never-keep.

    Scale: map-only (one md5 + one multiply per row), zero shuffle,
    zero state — the filter pushes straight into the scan stage.
    """
    if max_weight < 1:
        raise ValueError(f"max_weight must be >= 1, got {max_weight}")
    w = F.greatest(F.least(F.col(weight_col).cast("bigint"),
                           F.lit(int(max_weight))), F.lit(0))
    b = hash_bucket(F.col(key_col), salt)
    return df.where(b * int(max_weight) < w * BUCKETS)


def bottom_k_sketch(df: DataFrame, key_col: str, k: int,
                    group_cols: list[str] | None = None,
                    salt: str = "bk0") -> DataFrame:
    """Bottom-k (KMV) sample: per group, the ``k`` DISTINCT keys with the
    smallest deterministic hash — the classic mergeable distinct-value
    sketch (Bar-Yossef et al. 2002; Beyer et al. SIGMOD'07). Properties
    a curation pipeline leans on:

    * it is a uniform sample over DISTINCT keys (the hash is a random
      permutation of the key space), so resemblance between two groups'
      corpora is estimable by comparing sketches: J ≈ |bottom_k(A) ∩
      bottom_k(B) ∩ bottom_k(A ∪ B)| / k;
    * mergeable: union two sketches, keep the k smallest — so shards
      can be sketched independently and combined (same register
      discipline as the CMS/HLL modules);
    * the k-th smallest hash is itself a distinct-count estimator
      (N̂ ≈ (k-1) * SPACE / h_(k)).

    Deterministic (md5), hence exactly reproducible in any engine — the
    gate's oracle re-derives the same sketch with a window rank.

    Output: group cols + (key, h, r) with r = 1..k the rank by (h, key).
    Scale: one distinct (partial-agg) + one window keyed by group over
    the DISTINCT keys; the window input is the distinct relation, never
    the raw corpus, and per-group output is capped at k.
    """
    groups = list(group_cols or [])
    from pyspark.sql import Window

    h = (F.conv(F.substring(
            F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt))),
            1, 15), 16, 10).cast("bigint"))
    dist = (df.select(*groups, key_col).distinct()
            .withColumn("h", h))
    w = Window.partitionBy(*groups).orderBy(F.col("h").asc(),
                                            F.col(key_col).asc())
    return (dist.withColumn("r", F.row_number().over(w).cast("bigint"))
            .where(F.col("r") <= k))


def stratified_exact_split(df: DataFrame, quotas_ppm: dict[str, int],
                           stratum_col: str, key_col: str,
                           salt: str = "xsplit0") -> DataFrame:
    """EXACT-count stratified splits: within every stratum, the named
    splits get exactly ``floor(ppm * n_stratum / 10^6)`` rows each (in
    dict-key order), and whatever remains lands in ``train``.  Bernoulli
    splitting (``deterministic_split``) only hits the quota in
    expectation — a 1000-doc minority language can miss its 1% eval slice
    by half; audits and benchmark builds need the exact count.

    Determinism: rows rank inside their stratum by
    (hash_bucket(key, salt), key) — a uniform shuffle order that is
    reproducible across runs/engines and independent of physical row
    order.  A key's split can change when the stratum's population
    changes (exact counts force that); when immunity-to-growth matters
    more than exactness, use the Bernoulli variant.

    Shape: one window ranking per stratum (a single hash-partitioned
    sort, the unavoidable cost of exact quotas) + a broadcast join of
    per-stratum counts; no driver collect.  Skew note: a hot stratum
    sorts on one partition spread — at 10^12 rows pre-aggregate quotas
    apply per (stratum, salt-range) shard the same way cap_per_group's
    salted variant bounds its window.
    """
    from pyspark.sql import Window

    from ..parameters import validate_rates_ppm

    validate_rates_ppm(dict(quotas_ppm))
    if sum(quotas_ppm.values()) > 1_000_000:
        raise ValueError("split quotas exceed 10^6 ppm in total")
    w = Window.partitionBy(stratum_col).orderBy(
        hash_bucket(F.col(key_col), salt), F.col(key_col))
    counts = (df.groupBy(stratum_col)
              .agg(F.count(F.lit(1)).cast("bigint").alias("_n")))
    ranked = (df.withColumn("_rk", F.row_number().over(w))
              .join(F.broadcast(counts), stratum_col))
    split = None
    cum = "CAST(0 AS BIGINT)"
    for name, ppm in quotas_ppm.items():
        hi = f"{cum} + (_n * {int(ppm)}) div 1000000"
        cond = (F.col("_rk") > F.expr(cum)) & (F.col("_rk") <= F.expr(hi))
        split = (F.when(cond, name) if split is None
                 else split.when(cond, name))
        cum = hi
    split = (split.otherwise("train") if split is not None
             else F.lit("train"))
    return ranked.withColumn("split", split).drop("_rk", "_n")


def kmv_set_ops(sketch: DataFrame, group_col: str, k: int) -> DataFrame:
    """Theta-sketch-style set-operation estimates between every pair of
    groups from their bottom-k (KMV) sketches (``bottom_k_sketch``
    output) — "how many distinct urls do these two crawls share?"
    answered from two k-row sketches instead of a corpus-scale join
    (Dasgupta et al., "Theta sketch framework", PODS'16; Beyer et al.
    SIGMOD'07 for the KMV estimator).

    Per unordered group pair (a < b):

    * merged  = k smallest distinct hashes of the union of the two
      sketches — exactly ``bottom_k(A ∪ B)`` by the sketch property;
    * union_est: exact ``|merged|`` when the union sketch is not full
      (the sketch IS the distinct set), else ``(k-1) * 2^40 div
      (h_(k) div 2^20)`` — the KMV estimator on a 40-bit coarsening of
      the 60-bit hash so the numerator stays in i64 for any k
      (relative coarsening error ~2^-20, far below the sketch's own
      ~1/sqrt(k));
    * inter_est: ``m * union_est div k`` where m counts merged hashes
      present in BOTH sketches (the theta-sketch intersection rule);
      exact m when the union sketch is not full.

    Everything is md5-derived integers, so the estimates are
    bit-reproducible across engines (full-oracle gate).  Shape: one
    per-group collect of the (≤ k)-element hash array + a tiny
    group-pair self-join — the corpus itself is never touched again.
    """
    arrs = (sketch.groupBy(group_col)
            .agg(F.sort_array(F.collect_list("h")).alias("hs")))
    a = arrs.select(F.col(group_col).alias("g_a"),
                    F.col("hs").alias("ha"))
    b = arrs.select(F.col(group_col).alias("g_b"),
                    F.col("hs").alias("hb"))
    kk = int(k)
    merged = F.expr(f"slice(array_sort(array_union(ha, hb)), 1, {kk})")
    pairs = (a.join(b, F.col("g_a") < F.col("g_b"))
             .withColumn("_m", merged)
             .withColumn("_both", F.expr(
                 "size(array_intersect(_m, array_intersect(ha, hb)))"))
             .withColumn("_kth", F.expr("element_at(_m, size(_m))")))
    full = F.expr(f"size(_m) >= {kk}")
    union_est = F.when(
        ~full, F.expr("size(_m)").cast("bigint")).otherwise(
        F.expr(f"({kk} - 1) * {1 << 40} div greatest(_kth div {1 << 20}, 1)"))
    return (pairs
            .withColumn("union_est", union_est.cast("bigint"))
            .withColumn("inter_est",
                        F.when(~full, F.col("_both").cast("bigint"))
                        .otherwise(F.expr(
                            f"_both * union_est div {kk}").cast("bigint")))
            .select("g_a", "g_b", "union_est", "inter_est"))


def negative_samples(positives: DataFrame, k: int, n_docs: int,
                     query_col: str = "query_id",
                     doc_col: str = "doc_id",
                     overdraw: int = 4,
                     stride: int = 2_654_435_761) -> DataFrame:
    """Deterministic hash-ring negative sampling for contrastive
    training pairs (the DPR / sentence-transformers recipe: every
    (query, positive) needs k "random" negatives, reproducibly): for
    each query, candidates are generated DIRECTLY on a hash ring —
    cand_j = (md5_60(query) + j * stride) mod n_docs for j = 0 ..
    k+overdraw-1 — positives are removed by ONE anti-join, and the
    first k survivors by ring order are the negatives.

    The point of the ring: never a per-query scan of the corpus. The
    naive "rank all docs per query and exclude" plan is
    |queries| x |corpus| (dead at 10^9 x 10^12); this is
    O(|queries| * (k + overdraw)) rows total, generated map-side.
    ``overdraw`` absorbs ring duplicates and positive collisions — a
    query with more than ``overdraw`` collisions emits fewer than k
    negatives (deterministically; raise overdraw for dense positive
    sets). Contract: the corpus id space is dense 0..n_docs-1 (the
    standard pre-step of any embedding-table pipeline).

    Output: (query_id, rank, neg_id) with rank 1..k in ring order.
    """
    if k < 1 or overdraw < 0:
        raise ValueError(f"need k >= 1 and overdraw >= 0, "
                         f"got k={k} overdraw={overdraw}")
    h = F.conv(F.substring(
        F.md5(F.concat(F.col("q").cast("string"), F.lit(":neg"))), 1, 15),
        16, 10).cast("bigint")
    cands = (positives.select(F.col(query_col).alias("q")).distinct()
             .select("q", h.alias("h"),
                     F.explode(F.sequence(
                         F.lit(0), F.lit(int(k + overdraw) - 1)))
                     .alias("j"))
             .select("q", "j",
                     ((F.col("h") + F.col("j") * F.lit(int(stride)))
                      % F.lit(int(n_docs))).alias("cand")))
    dedup = (cands.groupBy("q", "cand")
             .agg(F.min("j").alias("j")))
    pos = positives.select(F.col(query_col).alias("q"),
                           F.col(doc_col).alias("cand"))
    neg = dedup.join(pos, ["q", "cand"], "left_anti")
    w = Window.partitionBy("q").orderBy("j", "cand")
    return (neg.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= int(k))
            .select(F.col("q").alias(query_col),
                    F.col("rank").cast("bigint").alias("rank"),
                    F.col("cand").cast("bigint").alias("neg_id")))


def mix_waterfill(sources: DataFrame, budget: int | DataFrame,
                  source_col: str = "source", avail_col: str = "avail",
                  weight_col: str = "weight") -> DataFrame:
    """Exact water-filling solver for a training-data mix: given each
    source's available token count and target mixture weight, allocate
    a total ``budget`` proportionally to weights EXCEPT where a source
    cannot fill its share — its whole availability is taken and the
    shortfall redistributes over the rest (the standard max-min
    fair-allocation / water-filling solution, which single-pass
    "min(avail, share)" under-spends).

    Closed form on the relation: sort sources by saturation ratio
    avail/weight ascending; source i saturates iff
    a_i * W_{>=i} <= (B - cumA_{i-1}) * w_i (the cross-multiplied
    integer form of a_i/w_i <= current water level — prefix-closed in
    this order, so ONE cumulative window decides every row). The final
    level is the exact rational (B - cumA_K) / W_{>K}; unsaturated
    quotas floor it. All integer; i64 needs
    budget * max_weight < 2^63 (weights in ppm and budgets to 10^12
    fit). Total allocated <= budget (floor residue, documented).

    Output: (source, avail, weight, saturated, quota).

    ``budget`` may alternatively be a ONE-ROW, one-column DataFrame (the
    budget scalar as a relation — e.g. a corpus-total aggregate): it is
    folded in lazily as a 1-row broadcast crossJoin, so deriving the
    budget from the corpus does NOT force an extra driver-side pass over
    it before the main job (VERDICT r5 #3; at 10^12 docs the eager
    ``collect()`` was a real second corpus scan). The relation is folded
    through one (count, max) aggregate, so the crossJoin always sees one
    row, and the query fails unless that count is 1 and the value is
    non-NULL and >= 0: several rows would otherwise multiply every
    source and an empty relation would drop them all.
    """
    if isinstance(budget, DataFrame):
        if len(budget.columns) != 1:
            raise ValueError("budget relation must have exactly one "
                             f"column, got {budget.columns}")
        folded = budget.agg(
            F.count(F.lit(1)).alias("__n"),
            F.max(F.col(budget.columns[0]).cast("bigint")).alias("__b"))
        ok = ((F.col("__n") == 1) & F.col("__b").isNotNull()
              & (F.col("__b") >= 0))
        bdf = F.broadcast(folded.select(F.coalesce(
            F.assert_true(ok, "mix_waterfill: the budget relation must "
                              "hold exactly one non-NULL row >= 0"),
            F.col("__b")).alias("__b")))
        b, b_agg = F.col("__b"), F.max("__b")
    else:
        if budget < 0:
            raise ValueError(f"budget must be >= 0, got {budget}")
        bdf = None
        b, b_agg = F.lit(int(budget)), F.lit(int(budget))
    s = sources.select(F.col(source_col).alias("src"),
                       F.col(avail_col).cast("bigint").alias("a"),
                       F.col(weight_col).cast("bigint").alias("w"))
    if bdf is not None:
        s = s.crossJoin(bdf)
    ratio = F.col("a").cast("double") / F.col("w").cast("double")
    wo = Window.orderBy(ratio.asc(), F.col("src"))
    cum = (s.where(F.col("w") > 0)
           .withColumn("cum_a", F.sum("a").over(
               wo.rowsBetween(Window.unboundedPreceding, -1)))
           .withColumn("w_rest", F.sum("w").over(
               wo.rowsBetween(Window.currentRow,
                              Window.unboundedFollowing))))
    cum = cum.withColumn("cum_a", F.coalesce(F.col("cum_a"), F.lit(0)))
    sat = (F.col("a") * F.col("w_rest")
           <= (b - F.col("cum_a")) * F.col("w"))
    flagged = cum.withColumn("sat", sat)
    level = flagged.agg(
        (b_agg - F.coalesce(F.sum(F.when(F.col("sat"), F.col("a"))),
                            F.lit(0))).alias("lam_n"),
        F.coalesce(F.sum(F.when(~F.col("sat"), F.col("w"))),
                   F.lit(0)).alias("lam_d"))
    out = flagged.crossJoin(F.broadcast(level))
    quota = (F.when(F.col("sat"), F.col("a"))
             .when(F.col("lam_d") > 0,
                   F.expr("lam_n * w div lam_d"))
             .otherwise(F.lit(0)))
    zero_w = sources.where(F.col(weight_col).cast("bigint") <= 0).select(
        F.col(source_col).alias("src"),
        F.col(avail_col).cast("bigint").alias("a"),
        F.col(weight_col).cast("bigint").alias("w"),
        F.lit(False).alias("saturated"),
        F.lit(0).cast("bigint").alias("quota"))
    return (out.select(F.col("src").alias(source_col),
                       F.col("a").alias(avail_col),
                       F.col("w").alias(weight_col),
                       F.col("sat").alias("saturated"),
                       quota.cast("bigint").alias("quota"))
            .unionByName(zero_w.select(
                F.col("src").alias(source_col),
                F.col("a").alias(avail_col),
                F.col("w").alias(weight_col), "saturated", "quota")))


def weighted_topk_sample(df: DataFrame, group_col: str, weight_col: str,
                         key_col: str, k: int,
                         salt: str = "aes0") -> DataFrame:
    """Exact-size weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006, A-ES): per group keep the k rows with the largest
    u^(1/w) — equivalently the largest ln(u)/w, which is how it is
    computed — where u is the deterministic md5 uniform. The
    distribution is exactly weighted sampling without replacement, and
    because u is hash-derived the SAMPLE IS REPRODUCIBLE (the property
    ``weighted_sample``'s Bernoulli form has, now with an exact size —
    what a fixed-budget curation quota needs).

    ln(u)/w is a computed double from exact integers in one fixed op
    order (the theil_sen ordering rule) so both engines rank
    identically; ties break on the key. Zero/negative weights never
    selected. One window per group (salt via ``cap_per_group`` if a
    group is hot).

    Output: input rows + ``sample_rank`` (1..k).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    h = F.conv(F.substring(
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt))),
        1, 15), 16, 10).cast("bigint")
    u = (h + 1).cast("double") / F.lit(float(1 << 60))
    akey = F.log(u) / F.col(weight_col).cast("double")
    ranked = (df.where(F.col(weight_col).cast("bigint") > 0)
              .withColumn("__ak", akey)
              .withColumn("sample_rank", F.row_number().over(
                  Window.partitionBy(group_col)
                  .orderBy(F.col("__ak").desc(), F.col(key_col))))
              .where(F.col("sample_rank") <= int(k))
              .drop("__ak"))
    return ranked.withColumn("sample_rank",
                             F.col("sample_rank").cast("bigint"))
