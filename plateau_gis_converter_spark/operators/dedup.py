"""Deduplication operators over the ``documents`` table.

Five families (all first-class for a 100 TB training-data pipeline):

* exact           — md5 fingerprint groupBy; partial-agg (map-side combine)
                    keeps the shuffle proportional to distinct keys.
* ngram-jaccard   — exact shingle-set Jaccard over candidate pairs; the
                    candidate generator is a shingle-anchor equi-join (any
                    shared shingle), so Catalyst plans a hash join, never a
                    cartesian. Exact → has a full SQL oracle.
* minhash-LSH     — shingle → 64-bit hash → k min-hash signatures → banded
                    LSH buckets → bucket equi-join; probabilistic recall,
                    verified by exact Jaccard afterwards. Scale path for
                    10^12 docs (bounded shuffle width, no n² term).
* simhash         — 64-bit simhash of token multiset, hamming-ball pairing
                    via 4-band exact-match blocking (Charikar 2002 / the
                    standard Manku et al. WWW'07 construction).
* embedding cosine— see operators/similarity.py (near-dup = cos >= τ).

Determinism: every hash is derived from md5 (stable everywhere) — no JVM
hashCode, no Python hash(), so results reproduce bit-identically across
engines and runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.local import local_relation
from .text import TOKEN_SPLIT


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents (size > 1), smallest doc_id is the
    canonical representative. Output: (fingerprint, group_size, canonical_id)."""
    fp = F.md5(F.col(text_col)).alias("fingerprint")
    return (docs.select(fp, F.col("doc_id"))
            .groupBy("fingerprint")
            .agg(F.count(F.lit(1)).alias("group_size"),
                 F.min("doc_id").alias("canonical_id"))
            .where(F.col("group_size") > 1))


def _tokens(text_col: str):
    return F.filter(F.split(F.col(text_col), TOKEN_SPLIT), lambda t: t != "")


def shingles(docs: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """(doc_id, shingle) distinct word n-grams, lowercased.

    Catalyst-only, shaped for execution speed: the token array materializes
    ONCE as a projection attribute, then the n-gram window is a zip_with
    fold over n shifted array slices (gram_i = toks[i] ' ' toks[i+1] ...).
    The round-1 formulation (transform over an index sequence with
    element_at back into an inline token expression) re-evaluated the
    tokenizer per element and codegen'd pathologically — 43 s for 260k
    shingles at sf0.1 vs 1.7 s for this shape (25x, measured cold AND warm).
    Empty/short docs yield empty slices (greatest guard), hence no shingles.
    """
    toks = F.transform(_tokens(text_col), lambda t: F.lower(t))
    tdf = docs.select("doc_id", toks.alias("_toks"))
    t = F.col("_toks")
    m = F.greatest(F.size(t) - F.lit(n - 1), F.lit(0))
    grams = F.slice(t, 1, m)
    for j in range(2, n + 1):
        grams = F.zip_with(grams, F.slice(t, j, m),
                           lambda x, y: F.concat(x, F.lit(" "), y))
    return tdf.select("doc_id",
                      F.explode(F.array_distinct(grams)).alias("shingle"))


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.5,
                        text_col: str = "text",
                        max_df: int | None = None) -> DataFrame:
    """n-gram Jaccard near-duplicate pairs (doc_a < doc_b, jaccard >= τ).

    candidates = docs sharing >= 1 shingle (equi-join on the shingle);
    |A∩B| = count of shared shingles; |A∪B| = |A| + |B| - |A∩B|.
    Shuffles on the shingle key.

    ``max_df``: drop shingles appearing in more than max_df documents BEFORE
    the self-join — the standard web-scale guard: one boilerplate shingle
    with df=10^6 would otherwise emit 5*10^11 candidate pairs from a single
    key; the cap bounds per-key fan-out at max_df^2/2. With the cap the
    result is the EXACT Jaccard over the capped shingle sets (sizes are
    computed on the same capped sets, so the measure stays self-consistent);
    pairs whose overlap lies only in boilerplate shingles are intentionally
    dropped. ``max_df=None`` keeps full exactness.
    """
    # the shingle relation feeds three plan branches (both join sides and
    # the per-doc sizes); persist so the tokenize+explode runs once. At
    # 10^12-doc scale this is a staged intermediate table instead.
    sh = shingles(docs, n, text_col)
    if max_df is not None:
        keep = (sh.groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("df"))
                .where(F.col("df") <= max_df)
                .select("shingle"))
        sh = sh.join(keep, "shingle", "left_semi")
    sh = sh.persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count(F.lit(1)).alias("n_inter")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (inter.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("jaccard",
                        F.col("n_inter").cast("double")
                        / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double"))
            .where(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard"))


def _hash64_15hex(c):
    """Stable 60-bit integer hash of a string column: first 15 hex chars of
    md5, parsed base-16 (engine-portable: conv in Spark, from-hex in DuckDB).
    15 hex chars = 60 bits < 2^63 so BIGINT-safe in both engines."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def _doc_sketch(docs: DataFrame, num_hashes: int, n: int,
                text_col: str) -> DataFrame:
    """(doc_id, sig, arr): k min-hash values and the shingle list (a set:
    ``shingles()`` is distinct per doc) from one groupBy(doc_id).
    h_i(s) = (a_i * h(s) + b_i) mod p with fixed a/b and the md5-derived
    base hash — deterministic across engines/runs."""
    p = (1 << 31) - 1  # Mersenne prime; (h % p) * a + b stays < 2^63
    sh = shingles(docs, n, text_col).withColumn("h", _hash64_15hex(F.col("shingle")))
    aggs = [F.min((F.col("h") % p * (2 * i + 1) + 104729 * (i + 1)) % p)
            .alias(f"mh{i}") for i in range(num_hashes)]
    sk = sh.groupBy("doc_id").agg(*aggs, F.collect_list("shingle").alias("arr"))
    return sk.select("doc_id", F.array(*[f"mh{i}" for i in range(num_hashes)])
                     .alias("sig"), "arr")


def minhash_signatures(docs: DataFrame, num_hashes: int = 16, n: int = 3,
                       text_col: str = "text") -> DataFrame:
    """(doc_id, sig: array<bigint>) — k min-hash values per doc; O(k) state
    per key regardless of doc size (column pruning drops ``arr``)."""
    return _doc_sketch(docs, num_hashes, n, text_col).select("doc_id", "sig")


def _bands(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    rows_per_band = num_hashes // bands
    band_cols = []
    for bi in range(bands):
        parts = [F.col("sig")[i].cast("string")
                 for i in range(bi * rows_per_band, (bi + 1) * rows_per_band)]
        band_cols.append(F.struct(F.lit(bi).alias("band"),
                                  F.md5(F.concat_ws("_", *parts)).alias("key")))
    return (sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bk"))
            .select("doc_id", F.col("bk.band").alias("band"),
                    F.col("bk.key").alias("key")))


def _bucket_pairs(buckets: DataFrame) -> DataFrame:
    a, b = buckets.alias("a"), buckets.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())


def lsh_buckets(docs: DataFrame, num_hashes: int = 16, bands: int = 4,
                n: int = 3, text_col: str = "text") -> DataFrame:
    """(doc_id, band, key) LSH bucket rows: the signature split into
    ``bands`` bands of num_hashes/bands values, each band md5-folded to a
    bucket key.  This relation IS the persistable dedup index — write it
    once per snapshot and probe it with new docs' bucket rows
    (operators/incremental.py) instead of re-shingling the corpus."""
    return _bands(minhash_signatures(docs, num_hashes, n, text_col),
                  num_hashes, bands)


def minhash_lsh_candidates(docs: DataFrame, num_hashes: int = 16,
                           bands: int = 4, n: int = 3,
                           text_col: str = "text") -> DataFrame:
    """LSH candidates: distinct (doc_a < doc_b) agreeing on any full band."""
    return _bucket_pairs(lsh_buckets(docs, num_hashes, bands, n, text_col))


def _verify(cand: DataFrame, arrs: DataFrame, threshold: float) -> DataFrame:
    def side(s):
        return arrs.select(F.col("doc_id").alias(f"doc_{s}"),
                           F.col("arr").alias(f"__arr_{s}"),
                           F.size("arr").alias(f"n{s}"))
    inter = (cand.join(side("a"), "doc_a").join(side("b"), "doc_b")
             .select("doc_a", "doc_b", "na", "nb",
                     F.size(F.array_intersect("__arr_a", "__arr_b"))
                     .alias("n_inter")))
    return (inter
            .withColumn("jaccard",
                        F.col("n_inter").cast("double")
                        / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double"))
            .where(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard"))


def jaccard_verify(cand: DataFrame, sh: DataFrame,
                   threshold: float) -> DataFrame:
    """Exact shingle-set Jaccard over candidate (doc_a, doc_b) pairs.
    ``sh`` must carry distinct (doc_id, shingle) rows for every doc
    appearing in ``cand`` (the ``shingles()`` contract). Each doc's set
    is one array row; the intersection is size(array_intersect) per
    candidate, over two doc-keyed equi-joins."""
    arrs = sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("arr"))
    return _verify(cand, arrs, threshold)


def minhash_dedup_pairs(docs: DataFrame, threshold: float = 0.5,
                        num_hashes: int = 16, bands: int = 4, n: int = 3,
                        text_col: str = "text") -> DataFrame:
    """LSH candidates verified by exact Jaccard (the production dedup path:
    probabilistic recall, exact precision). The per-doc sketch is pinned
    once; both band self-join sides and both verify joins read the pin."""
    sk = _doc_sketch(docs, num_hashes, n, text_col).localCheckpoint()
    cand = _bucket_pairs(_bands(sk, num_hashes, bands))
    return _verify(cand, sk, threshold)


def simhash(docs: DataFrame, bits: int = 60, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash) — Charikar simhash over the token multiset.

    Per-bit weighted majority expressed with Catalyst higher-order functions:
    explode tokens -> 60-bit stable hash -> for each bit, sum(±1) -> sign.
    """
    toks = (docs.select("doc_id", F.explode(_tokens(text_col)).alias("tok"))
            .withColumn("h", _hash64_15hex(F.lower(F.col("tok")))))
    per_bit = [
        F.sum(F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1,
                     F.lit(1)).otherwise(F.lit(-1))).alias(f"b{i}")
        for i in range(bits)]
    agg = toks.groupBy("doc_id").agg(*per_bit)
    sh = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("bigint")).otherwise(
            F.lit(0).cast("bigint"))
        term = bit * F.lit(1 << i).cast("bigint")
        sh = term if sh is None else sh + term
    return agg.select("doc_id", sh.alias("simhash"))


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3,
                       bits: int = 60, text_col: str = "text") -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming via banded
    blocking with ``bands = max_hamming + 1`` (Manku et al. WWW'07
    pigeonhole: if <= d bits differ, at least one of d+1 disjoint bands is
    identical) — so recall is EXACTLY 1 for the requested radius, at the
    cost of shorter band keys (bits/(d+1)) and therefore bigger buckets as
    d grows. Precision is exact (hamming verified on the full fingerprint).
    """
    bands = max_hamming + 1
    if bands > bits:
        raise ValueError(f"max_hamming={max_hamming} needs more bands than "
                         f"bits={bits}")
    sh = simhash(docs, bits, text_col)
    base, rem = divmod(bits, bands)
    starts, widths = [], []
    pos = 0
    for i in range(bands):
        w = base + (1 if i < rem else 0)
        starts.append(pos)
        widths.append(w)
        pos += w
    bandc = [F.struct(F.lit(i).alias("band"),
                      F.shiftright(F.col("simhash"), starts[i])
                      .bitwiseAND(F.lit((1 << widths[i]) - 1)).alias("key"))
             for i in range(bands)]
    blocks = (sh.select("doc_id", "simhash", F.explode(F.array(*bandc)).alias("bk"))
              .select("doc_id", "simhash", "bk.band", "bk.key"))
    a = blocks.alias("a")
    b = blocks.alias("b")
    pairs = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.key") == F.col("b.key"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"),
                     F.col("a.simhash").alias("sh_a"),
                     F.col("b.simhash").alias("sh_b"))
             .distinct())
    xor = F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    return (pairs.withColumn("hamming", F.bit_count(xor))
            .where(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming"))


def chunk_dedup_ratio(docs: DataFrame, chunk_words: int = 8,
                      text_col: str = "text") -> DataFrame:
    """Corpus-level exact chunk dedup (the scalable approximation of
    suffix-array substring dedup a la Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better"): split each document into
    non-overlapping ``chunk_words``-word chunks, count each chunk's corpus
    frequency, and report per document how much of it is duplicated text.

    Output (docs with >= 1 full chunk): doc_id, n_chunks, n_dup_chunks
    (chunks whose text appears in more than one chunk-slot corpus-wide),
    dup_ratio_e6 (round-half-up ppm, exact integer arithmetic).

    Scale: tokenize+chunk is map-only; the frequency count is one hash
    aggregation keyed by md5(chunk) with map-side partial combine
    (O(distinct chunks) state); the count-back join is an equi-join on the
    same key, so Catalyst reuses the shuffle partitioning. No n^2 term,
    no window. Chunks are md5-grouped (128-bit) so cross-engine results
    are identical; trailing partial chunks (< chunk_words words) are
    excluded, matching the fixed-stride definition.
    """
    toks = F.transform(_tokens(text_col), lambda t: F.lower(t))
    tdf = docs.select("doc_id", toks.alias("_toks"))
    t = F.col("_toks")
    n_chunks = (F.size(t) / chunk_words).cast("int")
    # chunk i = tokens [i*W+1 .. i*W+W], i in [0, n_chunks)
    chunks = F.when(
        n_chunks > 0,
        F.transform(F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.md5(F.concat_ws(
                        " ", F.slice(t, i * chunk_words + 1, chunk_words))))
    ).otherwise(F.array().cast("array<string>"))
    slots = (tdf.select("doc_id", F.posexplode(chunks).alias("pos", "chunk")))
    freq = slots.groupBy("chunk").agg(F.count(F.lit(1)).alias("freq"))
    marked = slots.join(freq, "chunk")
    return (marked.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_chunks"),
                 F.sum(F.when(F.col("freq") > 1, 1).otherwise(0))
                 .alias("n_dup_chunks"))
            .select("doc_id",
                    F.col("n_chunks").cast("bigint").alias("n_chunks"),
                    F.col("n_dup_chunks").cast("bigint").alias("n_dup_chunks"),
                    F.expr("(n_dup_chunks * 2000000 + n_chunks) div "
                           "(2 * n_chunks)").cast("bigint")
                    .alias("dup_ratio_e6")))


def decontaminate(docs: DataFrame, benchmark: DataFrame, n: int = 3,
                  min_shared: int = 2,
                  text_col: str = "text") -> DataFrame:
    """Benchmark decontamination: flag training documents that share at
    least ``min_shared`` distinct word n-grams with ANY benchmark document
    (the standard eval-contamination filter — e.g. GPT-3 appendix C /
    Brown et al. 2020 used 13-gram overlap; the synthetic fixture texts
    are short, so tests use n=3).

    Output: (doc_id, n_shared, contaminated) for every training doc with
    >= 1 shingle; ``n_shared`` counts distinct (benchmark-shared) shingle
    TYPES, aggregated over all benchmark docs.

    Scale: the benchmark side is small by construction (eval suites are
    thousands of docs, not billions) — its distinct-shingle relation
    broadcast-joins against the training shingles, so the 10^12-row side
    never shuffles; the per-doc count is one partial-agg groupBy.
    """
    train_sh = shingles(docs, n, text_col)
    bench_sh = (shingles(benchmark, n, text_col)
                .select("shingle").distinct())
    shared = (train_sh.join(F.broadcast(bench_sh), "shingle")
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_shared")))
    base = train_sh.select("doc_id").distinct()
    return (base.join(shared, "doc_id", "left")
            .select("doc_id",
                    F.coalesce(F.col("n_shared"), F.lit(0)).cast("bigint")
                    .alias("n_shared"))
            .withColumn("contaminated",
                        (F.col("n_shared") >= min_shared)))


def dedup_keep_list(docs: DataFrame, components: DataFrame,
                    key_col: str = "doc_id",
                    prefer: list | None = None) -> DataFrame:
    """Clusters -> deduplicated corpus: the final stage of the dedup
    pipeline (pairs -> clusters -> keep-list). For every document emit
    (key, component_id, kept): ``component_id`` is the cluster label from
    ``connected_components`` (the smallest member id) or the doc's own id
    for unclustered docs (singletons ARE their own canonical); ``kept`` is
    true exactly for the canonical representative of each cluster, so
    ``where(kept)`` IS the deduplicated corpus and ``where(NOT kept)``
    anti-joins away the duplicates.

    ``prefer`` (VERDICT r4 #7): which cluster member to keep. Default
    None keeps the min-id doc (= the component label itself — zero extra
    work). A real pipeline usually keeps the best-quality or earliest
    doc instead: pass a list of Columns whose lexicographic MINIMUM picks
    the winner, e.g. ``[-F.col("quality"), F.col("warc_ts")]`` for
    (quality desc, timestamp asc); the key is always the final tiebreak,
    so the choice is deterministic.

    Scale: one equi-join of the corpus against the component labels on
    the key — the labels relation has one row per doc *that appeared in
    a near-dup pair* (usually a small fraction of the corpus; Spark
    broadcasts it when it fits, plain shuffle join otherwise). With
    ``prefer``, one additional partial-agg ``min_by`` keyed by component
    plus the join back — both shuffles keyed by component_id, no
    all-pairs stage, no driver data.
    """
    comp = components.select(F.col("id").alias(key_col),
                             F.col("component_id").alias("__cid"))
    cid = F.coalesce(F.col("__cid"), F.col(key_col))
    if prefer is None:
        return (docs.select(key_col).join(comp, key_col, "left")
                .select(key_col,
                        cid.cast("bigint").alias("component_id"),
                        (cid == F.col(key_col)).alias("kept")))
    rank = F.struct(*[c.alias(f"__p{i}") for i, c in enumerate(prefer)],
                    F.col(key_col).alias("__pk"))
    labeled = (docs.select(F.col(key_col), rank.alias("__rank"))
               .join(comp, key_col, "left")
               .select(F.col(key_col), F.col("__rank"),
                       cid.cast("bigint").alias("component_id")))
    reps = (labeled.groupBy("component_id")
            .agg(F.min_by(key_col, F.col("__rank")).alias("__keep")))
    return (labeled.join(reps, "component_id")
            .select(key_col, "component_id",
                    (F.col(key_col) == F.col("__keep")).alias("kept")))


def prefix_filter_jaccard_pairs(docs: DataFrame, n: int = 3,
                                threshold: float = 0.5,
                                text_col: str = "text") -> DataFrame:
    """EXACT Jaccard similarity join via prefix filtering (the PPJoin /
    AllPairs family — Bayardo et al. WWW'07, Xiao et al. WWW'08).

    Same output contract as ``ngram_jaccard_pairs(max_df=None)``
    (doc_a < doc_b, jaccard >= τ, exact) but a fundamentally cheaper
    candidate generator: instead of joining on ANY shared shingle, each
    document's shingles are put in one global canonical order (ascending
    document frequency, shingle tiebreak) and only the first
    ``|x| - ceil(τ·|x|) + 1`` shingles — the PREFIX — participate in the
    equi-join. Two sets with Jaccard >= τ must share at least one prefix
    token under any global order (pigeonhole on the >= ceil(τ·|x|)
    overlap), so the filter is LOSSLESS; ordering by ascending df puts
    the rarest shingles in the prefix, which is what collapses the
    candidate count (the frequent boilerplate shingles that make the
    naive join quadratic land at the back and never join). A length
    filter (τ·|a| <= |b| <= |a|/τ) prunes inside the join condition.

    Complement to the two existing scale paths: minhash-LSH is
    probabilistic (can miss pairs), ``max_df``-capped Jaccard changes the
    measure; prefix filtering is exact on the TRUE shingle sets AND
    avoids the hot-key blowup. Cost model at 10^12 docs: one df
    aggregation (partial-agg), one per-doc sort window over shingles
    (shuffle keyed by doc_id), a candidate equi-join keyed by prefix
    shingle (bounded per key by df, which the prefix biases small), and
    one verify join of candidates back to full shingle sets.

    Reference anchor: the reference dedupes vertices/features by exact
    key equality (nusamai-citygml geometry dedup); this is the
    web-corpus generalization the brief's training-pipeline axis asks
    for.
    """
    # r6 OPTIMIZATION (measured at sf0.1: verify was 3.0 s of the 5-6 s
    # total — 310k candidate pairs exploded into a ~16M-row double
    # equi-join on (doc, shingle); the prefix rank paid another ~1.2 s of
    # row_number window): the per-doc canonical order now materializes as
    # ONE sorted array per document (sort_array over (df, sid) structs),
    # the prefix is an array slice, and the exact verify is
    # size(array_intersect(arr_a, arr_b)) over the two documents' full
    # (distinct) shingle arrays — two equi-joins keyed by doc id that
    # shuffle one array payload per doc instead of one row per
    # (candidate, shingle).
    #
    # r6 OPTIMIZATION 2 (measured: 5.0 -> 3.8 s floor, identical output
    # row-for-row): shingles are dictionary-encoded to dense int64 ``sid``
    # surrogates (monotonically_increasing_id over the CHECKPOINTED df
    # relation — the checkpoint pins the numbering for the run; any
    # bijection works because intersection/union COUNTS are all the
    # measure needs, and the candidate join only tests sid equality).
    # The canonical order becomes (df asc, sid tiebreak) — still a global
    # total order, so the prefix filter stays lossless (Xiao et al.'s
    # proof needs any fixed total order; df-ascending is what keeps the
    # prefix rare) — and the candidate equi-join + the verify arrays
    # carry 8-byte longs instead of ~20-byte shingle strings: fewer
    # shuffled bytes (guide §2.3 "narrower types") and a long-typed
    # array_intersect instead of a string one.
    sh = shingles(docs, n, text_col)
    dfreq = (sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
             .withColumn("sid", F.monotonically_increasing_id())
             .localCheckpoint(eager=True))
    arrs = (sh.join(dfreq, "shingle")
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_list(F.struct("__df", "sid")))
                 .alias("__ord"))
            .select("doc_id",
                    F.transform(F.col("__ord"), lambda s: s["sid"])
                    .alias("arr"),
                    F.size("__ord").alias("n_sh"))
            .localCheckpoint(eager=True))
    # prefix length |x| - ceil(τ|x|) + 1 (Jaccard prefix, Xiao et al. §3)
    plen = (F.col("n_sh")
            - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1).cast("int")
    pre = (arrs.select("doc_id", "n_sh",
                       F.explode(F.slice("arr", 1, plen)).alias("sid")))
    a = pre.select(F.col("doc_id").alias("doc_a"), "sid",
                   F.col("n_sh").alias("na"))
    b = pre.select(F.col("doc_id").alias("doc_b"), "sid",
                   F.col("n_sh").alias("nb"))
    cand = (a.join(b, ["sid"])
            .where((F.col("doc_a") < F.col("doc_b"))
                   & (F.col("nb") >= F.ceil(F.lit(threshold) * F.col("na")))
                   & (F.col("na") >= F.ceil(F.lit(threshold) * F.col("nb"))))
            .select("doc_a", "doc_b", "na", "nb")
            .distinct())
    # exact verify over the full shingle arrays of surviving candidates
    inter = (cand
             .join(arrs.select(F.col("doc_id").alias("doc_a"),
                               F.col("arr").alias("__arr_a")), "doc_a")
             .join(arrs.select(F.col("doc_id").alias("doc_b"),
                               F.col("arr").alias("__arr_b")), "doc_b")
             .select("doc_a", "doc_b", "na", "nb",
                     F.size(F.array_intersect("__arr_a", "__arr_b"))
                     .alias("n_inter")))
    return (inter.withColumn(
                "jaccard",
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter"))
                .cast("double"))
            .where(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard"))


def containment_pairs(docs: DataFrame, n: int = 3,
                      threshold_pct: int = 80,
                      min_shingles: int = 3,
                      text_col: str = "text",
                      max_df: int | None = None) -> DataFrame:
    """ASYMMETRIC containment near-duplicate pairs: ordered (doc_a, doc_b)
    with C(A->B) = |A ∩ B| / |A| >= threshold_pct / 100 — "A's shingles
    are (mostly) inside B".

    This is the quote/wrapper detector symmetric Jaccard structurally
    misses: a 100-shingle article fully embedded in a 5000-shingle page
    has containment 1.0 but Jaccard ~0.02, so no Jaccard threshold can
    find it without drowning in noise. Web curation uses containment for
    wire-copy detection, quote-chain collapse, and boilerplate-wrapped
    syndication (the same reason Lee et al. 2022 dedup at the substring
    level; ``chunk_dedup`` is the fixed-window form, this is the
    set-containment form).

    Exact integer decision: keep iff 100 * n_inter >= threshold_pct * na
    (no float compare), and ``cont_pct = (100 * n_inter) div na`` is
    emitted as an integer — bit-stable for the gate. ``min_shingles``
    drops docs shorter than the measure is meaningful for (a 1-shingle
    doc is "contained" in anything sharing that shingle).

    Scale shape: same as ``ngram_jaccard_pairs`` — one equi-join keyed by
    shingle bounded by ``max_df`` (the boilerplate-shingle fan-out guard;
    with the cap the result is exact containment over the capped sets),
    one partial-agg count per ordered pair, one join to the |A| side.
    Output is ordered pairs, so both (a,b) and (b,a) can appear (mutual
    containment == near-identical docs).
    """
    sh = shingles(docs, n, text_col)
    if max_df is not None:
        keep = (sh.groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("df"))
                .where(F.col("df") <= max_df)
                .select("shingle"))
        sh = sh.join(keep, "shingle", "left_semi")
    sh = sh.persist()
    sizes = (sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
             .where(F.col("n_sh") >= min_shingles))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                    & (F.col("a.doc_id") != F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count(F.lit(1)).alias("n_inter")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_sh").alias("na"))
    return (inter.join(sa, "doc_a")
            .where(F.lit(100) * F.col("n_inter")
                   >= F.lit(threshold_pct) * F.col("na"))
            .select("doc_a", "doc_b", "n_inter", "na",
                    F.expr("(100 * n_inter) div na").cast("bigint")
                    .alias("cont_pct")))


def paragraph_dedup(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    sep: str = "\n") -> DataFrame:
    """Corpus-wide paragraph-level dedup with document reconstruction —
    the C4 rule (Raffel et al., JMLR 2020 §2.2 keep one occurrence of
    any repeated span, applied at paragraph granularity): every
    paragraph that appears anywhere else in the corpus survives ONLY at
    its first occurrence (min (doc_id, idx) over md5(paragraph));
    every later occurrence is dropped and the document is re-assembled
    from its surviving paragraphs in original order.

    Output: (doc_id, text, n_paras, n_removed) — one row per input doc;
    a doc whose every paragraph occurred earlier elsewhere comes back
    with empty text (the downstream length/quality filter drops it, the
    same flow as C4).  Empty paragraphs (consecutive separators) are
    exempt from dedup — they carry layout, not content, and keying on
    them would couple every multi-paragraph doc in the corpus.

    Shape: posexplode (map-only) -> ONE partial-agg groupBy on
    md5(paragraph) computing the min (doc_id, idx) occurrence -> equi-
    join back on the same key (Catalyst reuses the hash partitioning)
    -> one per-doc agg re-assembling via array_sort over (idx, para)
    structs.  No window over the corpus, no all-pairs term; state per
    distinct paragraph is O(1).  At 10^12 docs the md5 groupBy is the
    same shuffle budget as exact_duplicates, just keyed finer.

    Reference parity: none — engine curation addition (SURVEY §2.8b);
    the keep-first-global rule matches dedup_keep_list's min-id
    representative discipline.
    """
    paras = (docs
             .select(F.col(id_col).alias("doc_id"),
                     F.posexplode(F.split(F.col(text_col), sep, -1))
                     .alias("idx", "para")))
    nonempty = paras.where(F.col("para") != "")
    first = (nonempty
             .groupBy(F.md5(F.col("para")).alias("h"))
             .agg(F.min(F.struct("doc_id", "idx")).alias("keep")))
    kept = (nonempty
            .join(first, F.md5(F.col("para")) == F.col("h"))
            .where((F.col("doc_id") == F.col("keep.doc_id"))
                   & (F.col("idx") == F.col("keep.idx")))
            .select("doc_id", "idx", "para")
            .unionByName(paras.where(F.col("para") == "")))
    rebuilt = (kept.groupBy("doc_id")
               .agg(F.array_sort(F.collect_list(F.struct("idx", "para")))
                    .alias("ps")))
    base = (paras.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_paras")))
    return (base.join(rebuilt, "doc_id", "left")
            .select(F.col("doc_id").alias(id_col),
                    F.concat_ws(sep, F.transform(
                        F.coalesce(F.col("ps"), F.array()),
                        lambda p: p["para"])).alias(text_col),
                    "n_paras",
                    (F.col("n_paras")
                     - F.coalesce(F.size("ps"), F.lit(0)).cast("bigint"))
                    .alias("n_removed")))


def cdc_chunks(docs: DataFrame, w: int = 3, divisor: int = 8,
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content-defined chunking (the rsync/LBFS rolling-hash rule, Muthitacharoen
    et al. SOSP'01, word-granular): a chunk boundary opens BEFORE word
    position i whenever the w-gram anchored at i hashes to
    ``0 mod divisor``.  Boundaries are decided by local content only, so
    inserting or deleting words resynchronizes within ~w positions —
    fixed-stride chunking (``chunk_dedup_ratio``) shifts every later
    chunk and misses the duplication entirely (pytest demonstrates the
    exact failure).  Expected chunk length = divisor words.

    Output: (doc_id, chunk_idx, n_words, chunk) — chunks tile the
    document's token sequence exactly (pytest-proven).  Docs shorter
    than w words form one chunk; empty docs contribute nothing.

    Shape: map-only — the token array, anchor hashes, boundary list and
    chunk slices are all Catalyst array expressions over a materialized
    ``_toks`` projection attribute; no shuffle until a consumer
    aggregates.  Hashing is md5-derived (house rule: no engine-specific
    hash in gated paths), the same 60-bit decode as sampling.hash_bucket.
    """
    toks = _tokens(text_col)
    tdf = docs.select(F.col(id_col).alias("doc_id"), toks.alias("_toks"))
    d = int(divisor)
    n = "size(_toks)"
    # anchor i (2..len-w+1, 1-based) opens a boundary before position i
    bounds = (
        f"concat(array(1), "
        f" filter(CASE WHEN {n} >= {int(w) + 1} THEN sequence(2, {n} - {int(w) - 1}) ELSE array() END, "
        f"  i -> CAST(conv(substring(md5(concat_ws(' ', slice(_toks, i, {int(w)}))), 1, 15), 16, 10) AS BIGINT) % {d} = 0), "
        f" array({n} + 1))")
    chunks = (
        f"CASE WHEN {n} = 0 THEN array() ELSE "
        f"zip_with(slice(_b, 1, size(_b) - 1), slice(_b, 2, size(_b) - 1), "
        f"         (s, e) -> struct(s AS s, e - s AS nw, "
        f"                          concat_ws(' ', slice(_toks, s, e - s)) AS c)) END")
    return (tdf.withColumn("_b", F.expr(bounds))
            .select("doc_id", F.posexplode(F.expr(chunks))
                    .alias("chunk_idx", "_ch"))
            .select("doc_id", "chunk_idx",
                    F.col("_ch.nw").cast("bigint").alias("n_words"),
                    F.col("_ch.c").alias("chunk")))


def cdc_dedup_ratio(docs: DataFrame, w: int = 3, divisor: int = 8,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-document duplicated-text ratio under content-defined chunking —
    ``chunk_dedup_ratio`` semantics (chunks whose text fills more than
    one chunk-slot corpus-wide count as duplicated) but shift-robust.

    Shape after the map-only chunker: one md5-keyed hash aggregation
    (map-side combine, O(distinct chunks) state) + the count-back
    equi-join on the same key (shuffle reuse) + one per-doc agg — the
    exact plan of chunk_dedup_ratio, so the scale story carries over.
    dup_ratio weights by chunk WORD counts (chunks vary in length).
    """
    ch = cdc_chunks(docs, w, divisor, text_col, id_col)
    freq = (ch.groupBy(F.md5(F.col("chunk")).alias("h"))
            .agg(F.count(F.lit(1)).alias("n_slots")))
    return (ch.join(freq, F.md5(F.col("chunk")) == F.col("h"))
            .groupBy(F.col("doc_id").alias(id_col))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
                 F.sum("n_words").cast("bigint").alias("n_words"),
                 F.sum(F.when(F.col("n_slots") > 1, F.col("n_words"))
                       .otherwise(F.lit(0))).cast("bigint")
                 .alias("dup_words"))
            .withColumn("dup_ratio_e6",
                        F.expr("dup_words * 1000000 div n_words")))


def cosine_pairs(docs: DataFrame, threshold_pct: int = 60,
                 max_df: int | None = None, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """EXACT tf-weighted cosine all-pairs similarity over the inverted
    index (Bayardo et al. WWW'07 family) — the weighted complement to
    the set-based exact joins (``prefix_filter_jaccard_pairs`` for
    Jaccard, ``containment_pairs`` for containment): pairs that share
    skewed term FREQUENCIES match here even when their shingle sets
    diverge.

    Integer-exact decision (house rule): with dot = sum(tf_a * tf_b)
    and ss = sum(tf^2) per doc,

        cos >= t/100  <=>  dot^2 * 10^4 >= t^2 * ss_a * ss_b

    — no sqrt, so the gate hashes bit-for-bit.  Output carries
    cos2_micro = dot^2 * 10^6 div (ss_a * ss_b) (squared cosine, micro).

    Shape: postings (one partial agg) -> term-keyed self-equi-join with
    doc_a < doc_b -> one (a, b) agg for dot -> two joins against the
    per-doc ss relation.  ``max_df`` drops terms whose posting list
    exceeds it BEFORE the self-join — the same hot-key fan-out guard as
    ``ngram_jaccard_pairs``; semantics become cosine-over-kept-terms
    (documented, exact over the capped index).

    Overflow: dot^2 and t^2*ss_a*ss_b must stay in i64 — dot, ss <
    3e9^(1/2)... practically tf*|doc| products; at trillion-token scale
    pre-normalize tf to capped buckets first (documented discipline,
    same as bm25's exact-mode bound).
    """
    toks = docs.select(F.col(id_col).alias("doc_id"),
                       _tokens(text_col).alias("_t"))
    postings = (toks.select("doc_id", F.explode("_t").alias("term"))
                .groupBy("doc_id", "term")
                .agg(F.count(F.lit(1)).cast("bigint").alias("tf")))
    if max_df is not None:
        keep = (postings.groupBy("term")
                .agg(F.count(F.lit(1)).alias("df"))
                .where(F.col("df") <= int(max_df))
                .select("term"))
        postings = postings.join(keep, "term", "left_semi")
    ss = (postings.groupBy("doc_id")
          .agg(F.sum(F.col("tf") * F.col("tf")).cast("bigint").alias("ss")))
    a = postings.alias("a")
    b = postings.alias("b")
    dots = (a.join(b, (F.col("a.term") == F.col("b.term"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(F.sum(F.col("a.tf") * F.col("b.tf")).cast("bigint")
                 .alias("dot")))
    t = int(threshold_pct)
    sa = ss.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("ss_a"))
    sb = ss.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("ss_b"))
    return (dots.join(sa, "doc_a").join(sb, "doc_b")
            .where(F.col("dot") * F.col("dot") * 10_000
                   >= F.lit(t * t) * F.col("ss_a") * F.col("ss_b"))
            .select("doc_a", "doc_b", "dot", "ss_a", "ss_b",
                    F.expr("dot * dot * 1000000 div (ss_a * ss_b)")
                    .cast("bigint").alias("cos2_micro")))


def hamming_near_pairs(df: DataFrame, key_col: str, fp_col: str,
                       max_hamming: int = 3, bits: int = 64) -> DataFrame:
    """Generic banded hamming near-pair join over ANY precomputed
    integer fingerprint column — the blocking engine behind
    ``simhash_near_pairs`` exposed for fingerprints the caller computed
    elsewhere: image perceptual hashes (multimodal pHash near-dup),
    audio chromaprints, or any 64-bit LSH sketch.  Same pigeonhole
    guarantee (Manku et al. WWW'07): with ``bands = max_hamming + 1``
    disjoint bands, two fingerprints within the radius agree on at
    least one full band, so recall is EXACTLY 1; precision is exact
    (hamming verified on the full fingerprint after the bucket join).

    Scale: one explode (d+1 rows per key) + one band-keyed self
    equi-join — never all-pairs; bucket sizes shrink exponentially in
    the band width (bits/(d+1)).

    Output: (key_a, key_b, hamming), key_a < key_b, distinct.
    """
    bands = max_hamming + 1
    if bands > bits:
        raise ValueError(f"max_hamming={max_hamming} needs more bands "
                         f"than bits={bits}")
    base, rem = divmod(bits, bands)
    starts, widths, pos = [], [], 0
    for i in range(bands):
        w = base + (1 if i < rem else 0)
        starts.append(pos)
        widths.append(w)
        pos += w
    bandc = [F.struct(F.lit(i).alias("band"),
                      F.shiftright(F.col(fp_col), starts[i])
                      .bitwiseAND(F.lit((1 << widths[i]) - 1)).alias("key"))
             for i in range(bands)]
    blocks = (df.select(F.col(key_col).alias("k"),
                        F.col(fp_col).alias("fp"),
                        F.explode(F.array(*bandc)).alias("bk"))
              .select("k", "fp", "bk.band", "bk.key"))
    a, b = blocks.alias("a"), blocks.alias("b")
    pairs = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.key") == F.col("b.key"))
                    & (F.col("a.k") < F.col("b.k")))
             .select(F.col("a.k").alias("key_a"),
                     F.col("b.k").alias("key_b"),
                     F.col("a.fp").alias("fp_a"),
                     F.col("b.fp").alias("fp_b"))
             .distinct())
    xor = F.col("fp_a").bitwiseXOR(F.col("fp_b"))
    return (pairs.withColumn("hamming", F.bit_count(xor))
            .where(F.col("hamming") <= max_hamming)
            .select("key_a", "key_b", "hamming"))


def sorted_neighborhood_pairs(df: DataFrame, key_col: str, block_col: str,
                              window: int = 4,
                              num_partitions: int | None = None) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo SIGMOD'95) — the
    classic entity-resolution candidate generator the LSH family doesn't
    cover: sort the corpus by a blocking key (record length, normalized
    title, zip code) and pair every record with its ``window - 1``
    successors.  Catches near-duplicates whose set similarity is low but
    whose blocking keys are adjacent.

    Scale: the global rank does NOT use a single-reducer window — it is
    the two-phase scan from operators/packing.py: repartitionByRange on
    (block, key), per-partition row_number (partitionBy partition id →
    parallel), plus O(partitions) count offsets collected to the driver.
    The eager localCheckpoint pins one physical range partitioning for
    both the offsets job and the output job (same nondeterminism window
    as packing — RangePartitioner samples per execution).  Pairing is an
    EQUI-join on rank+j for j in 1..window-1 (map-side explode), never a
    range join.

    Output: (key_a, key_b, block_a, block_b, dist) with key_a the
    earlier record in sort order and dist its rank distance.
    """
    from pyspark.sql import Window

    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    d = df.select(F.col(key_col).alias("k"), F.col(block_col).alias("b"))
    if num_partitions:
        d = d.repartitionByRange(num_partitions, "b", "k")
    else:
        d = d.repartitionByRange("b", "k")
    part = (d.withColumn("pid", F.spark_partition_id())
            .localCheckpoint(eager=True))
    totals = {r["pid"]: r["n"] for r in
              part.groupBy("pid").agg(F.count(F.lit(1)).alias("n")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    off_df = local_relation(df.sparkSession, offsets.items(),
                            "pid: int, off: long")
    w = Window.partitionBy("pid").orderBy("b", "k")
    ranked = (part.join(F.broadcast(off_df), "pid")
              .withColumn("rank", (F.col("off")
                                   + F.row_number().over(w) - 1)
                          .cast("bigint"))
              .select("k", "b", "rank"))
    probes = ranked.select(
        "k", "b",
        F.explode(F.array(*[F.lit(j) for j in range(1, window)]))
        .alias("dist"),
        (F.col("rank") + F.col("dist")).alias("rank"))
    right = ranked.select(F.col("k").alias("key_b"),
                          F.col("b").alias("block_b"), "rank")
    return (probes.join(right, "rank")
            .select(F.col("k").alias("key_a"), "key_b",
                    F.col("b").alias("block_a"), "block_b",
                    F.col("dist").cast("int").alias("dist")))

def edit_distance_pairs(df: DataFrame, key_col: str, str_col: str,
                        max_dist: int = 2) -> DataFrame:
    """Exact edit-distance self-join with LOSSLESS length-band blocking —
    the typo/near-title/URL-variant matcher the set-similarity family
    (Jaccard/MinHash/SimHash) can't express: 'rec-0421x' vs 'rec-0421xx'
    is one edit but shares almost no high-order shingles.

    Blocking rule: levenshtein(a, b) <= k implies |len(a) - len(b)| <= k
    (each edit changes length by at most 1), so bucketing strings by
    floor(len / (k+1)) guarantees any qualifying pair lands in the same
    or adjacent buckets. Each string sits in its HOME bucket once; the
    probe side explodes to {home-1, home, home+1}; the equi-join on the
    bucket plus ``key(home) < key(probe)`` yields every qualifying pair
    exactly once (no distinct needed). Candidate recall is exactly 1 —
    the gate's oracle is the brute-force all-pairs levenshtein, so a
    blocking bug fails the gate.

    Verification is Spark's built-in ``levenshtein`` (JVM codegen, the
    classic unit-cost insert/delete/substitute DP — same definition as
    DuckDB's), with the |len diff| <= k necessary condition applied
    before the DP as a cheap prune.

    Scale: one equi-join keyed by bucket. Bucket population is bounded
    by the corpus length distribution, not the corpus (production
    blocking composes this with a second key — first token, registered
    domain — the same way `sorted_neighborhood_pairs` composes block
    keys); the DP cost per candidate is O(len^2) on short keys only.
    Output: (key_a, key_b, dist), key_a < key_b, dist <= max_dist.
    """
    if max_dist < 1:
        raise ValueError(f"max_dist must be >= 1, got {max_dist}")
    width = max_dist + 1
    d = df.select(F.col(key_col).alias("k"), F.col(str_col).alias("s"),
                  F.length(str_col).alias("ln"))
    home = d.select("k", "s", "ln",
                    F.floor(F.col("ln") / width).alias("bk"))
    probe = d.select(
        F.col("k").alias("kb"), F.col("s").alias("sb"),
        F.col("ln").alias("lnb"),
        F.explode(F.array(F.floor(F.col("ln") / width) - 1,
                          F.floor(F.col("ln") / width),
                          F.floor(F.col("ln") / width) + 1)).alias("bk"))
    return (home.join(probe, "bk")
            .where(F.col("k") < F.col("kb"))
            .where(F.abs(F.col("ln") - F.col("lnb")) <= max_dist)
            .withColumn("dist", F.levenshtein("s", "sb"))
            .where(F.col("dist") <= max_dist)
            .select(F.col("k").alias("key_a"), F.col("kb").alias("key_b"),
                    F.col("dist").cast("bigint").alias("dist")))

def er_match_scores(pairs: DataFrame, records: DataFrame, key_col: str,
                    fields: "list[tuple[str, int, int]]",
                    upper: int, lower: int) -> DataFrame:
    """Fellegi-Sunter record-pair scoring (Fellegi & Sunter JASA'69) —
    the decision stage of entity resolution: candidate pairs (from any
    blocking generator here: ``edit_distance_pairs``,
    ``sorted_neighborhood_pairs``, LSH) get an integer log-odds score
    as the sum of per-field agreement weights, then a three-way
    classification against the (upper, lower) thresholds.

    fields: [(column, agree_weight, disagree_weight)] — weights are
    integer deci-bans (10 * log10 of the m/u likelihood ratio, rounded
    offline where the m/u probabilities are estimated); keeping them
    integers makes the score and classification engine-exact. Field
    equality is NULL-SAFE (two NULLs agree — mirror with IS NOT
    DISTINCT FROM in SQL).

    Output: (key_a, key_b, score, match_class in
    'match'|'possible'|'nonmatch'). Shape: two equi-joins of the pair
    relation to the record fields + map-side CASE sums; no shuffle
    beyond the joins.
    """
    if lower > upper:
        raise ValueError(f"lower ({lower}) must be <= upper ({upper})")
    cols = [c for c, _, _ in fields]
    a = records.select(F.col(key_col).alias("key_a"),
                       *[F.col(c).alias(f"a_{c}") for c in cols])
    b = records.select(F.col(key_col).alias("key_b"),
                       *[F.col(c).alias(f"b_{c}") for c in cols])
    j = pairs.select("key_a", "key_b").join(a, "key_a").join(b, "key_b")
    score = None
    for c, agree, disagree in fields:
        term = F.when(F.col(f"a_{c}").eqNullSafe(F.col(f"b_{c}")),
                      F.lit(int(agree))).otherwise(F.lit(int(disagree)))
        score = term if score is None else score + term
    return j.select(
        "key_a", "key_b", score.cast("bigint").alias("score"),
        F.when(score >= upper, F.lit("match"))
        .when(score >= lower, F.lit("possible"))
        .otherwise(F.lit("nonmatch")).alias("match_class"))


def shingle_novelty(docs: DataFrame, n: int = 3) -> DataFrame:
    """Per-document n-gram NOVELTY against everything that came before
    it (doc_id order = ingest order): the ppm share of the doc's
    distinct shingles whose FIRST occurrence in the corpus is this doc.
    The curation signal between exact dedup and LSH: boilerplate-heavy
    or templated docs score near 0 even when no single earlier doc is
    a near-duplicate of them (pairwise similarity misses N-way overlap
    diluted across many sources).

    novelty_ppm = 1_000_000 * |{s : min_doc(s) = doc}| DIV |shingles| —
    integer-exact. Shape: the shingle explode + ONE min-agg keyed by
    shingle + one equi-join back + one count agg keyed by doc. The
    min-agg is the same partial-combine shape as exact dedup; no
    all-pairs anything.
    """
    sh = shingles(docs, n=n)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (sh.join(first, "shingle")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_shingles"),
                    F.sum(F.when(F.col("first_doc") == F.col("doc_id"),
                                 1).otherwise(0)).alias("n_first")))
    return per_doc.select(
        "doc_id", F.col("n_shingles").cast("bigint").alias("n_shingles"),
        F.col("n_first").cast("bigint").alias("n_first"),
        F.expr("CAST((1000000 * n_first) DIV n_shingles AS BIGINT)")
        .alias("novelty_ppm"))


def golden_record(members: DataFrame, cluster_col: str,
                  fields: "list[str]") -> DataFrame:
    """Golden-record consensus merge: after pairs -> clusters -> keep
    list, the OTHER thing an entity-resolution pipeline ships is the
    merged record itself — per cluster and per FIELD, the value the
    most members agree on (majority vote; ties break to the smallest
    value, so the result is deterministic under any partitioning).
    ``dedup_keep_list`` keeps one member ROW; this merges column-wise,
    which beats any single row when members are partially null or
    disagree field-by-field.

    Output is LONG FORM — (cluster, field, value, n_votes), one row per
    cluster x field with at least one non-null vote — so the schema is
    stable for any field list (values vote as strings; the caller casts
    back on read, the documented melt contract).

    Plan: one map-side explode melts the fields (F rows per member),
    ONE count aggregation keyed by (cluster, field, value), one
    max_by-style window over that aggregate relation (small: distinct
    values per cluster-field, not members). Partial aggregation does
    the heavy lifting; no per-field pass over the corpus.
    """
    from pyspark.sql import Window

    pairs = F.array(*[
        F.struct(F.lit(f).alias("field"),
                 F.col(f).cast("string").alias("value"))
        for f in fields])
    melted = (members.select(F.col(cluster_col).alias("cluster"),
                             F.explode(pairs).alias("kv"))
              .select("cluster", "kv.field", "kv.value")
              .where(F.col("value").isNotNull()))
    votes = (melted.groupBy("cluster", "field", "value")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_votes")))
    w = Window.partitionBy("cluster", "field").orderBy(
        F.col("n_votes").desc(), F.col("value").asc())
    return (votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("cluster", "field", "value", "n_votes"))


# American Soundex letter codes with H/W removed up front (the H/W rule:
# same-code consonants separated by h/w collapse; separated by vowels
# they do not — deletion before the adjacent-run collapse implements
# exactly that).  Vowels+Y code to '0' so they break runs, then drop.
_SOUNDEX_FROM = "ABCDEFGIJKLMNOPQRSTUVXYZ"
_SOUNDEX_TO = "012301202245501262301202"


def soundex_col(name: Column) -> Column:
    """American Soundex code (Russell/Odell, as specified by the US
    National Archives) as a pure Catalyst expression — the classic
    phonetic blocking key for entity resolution: 'Smith'/'Smyth' and
    'Ashcraft'/'Ashcroft' land in the same block, so the ER pipeline
    (``er_match_scores``) compares candidate pairs instead of the
    quadratic corpus.

    Spark HAS a built-in ``soundex`` — the point of this expression is
    that the IDENTICAL arithmetic runs in the DuckDB oracle (no
    soundex there), with the pytest pinning parity against Spark's
    builtin on the canonical Archives examples (Ashcraft→A261 is the
    h/w rule; Tymczak→T522 the vowel-separation rule; Pfister→P236 the
    first-letter collapse). Run-collapse uses 3 replace passes per
    digit (handles runs up to 8 — beyond any real name) because RE2
    has no backreferences for the regex form.

    Contract: alphabetic names (the caller strips punctuation);
    NULL-safe.
    """
    u = F.upper(F.trim(name))
    first = F.substring(u, 1, 1)
    digits = F.translate(F.translate(u, "HW", ""),
                         _SOUNDEX_FROM, _SOUNDEX_TO)
    collapsed = digits
    for _ in range(3):
        for d in "0123456":
            collapsed = F.replace(collapsed, F.lit(d + d), F.lit(d))
    # drop the first letter's own code — unless the first letter was
    # h/w (already deleted: position 1 belongs to the SECOND letter)
    tail_src = F.when(first.isin("H", "W"), collapsed) \
        .otherwise(F.substring(collapsed, 2, 64))
    tail = F.translate(tail_src, "0", "")
    return F.when(name.isNull(), F.lit(None)).otherwise(
        F.substring(F.rpad(F.concat(first, tail), 4, "0"), 1, 4))


def soundex_blocking_keys(df: DataFrame, name_col: str = "name",
                          id_col: str = "doc_id") -> DataFrame:
    """(id, name, sdx): the phonetic blocking relation — group by
    ``sdx`` and pair within blocks (the ``sorted_neighborhood_pairs``
    discipline) to feed ``er_match_scores``/``edit_distance_pairs``
    with candidates instead of all-pairs."""
    return df.select(F.col(id_col), F.col(name_col).alias("name"),
                     soundex_col(F.col(name_col)).alias("sdx"))


def pair_eval(pred: DataFrame, truth: DataFrame, a_col: str = "doc_a",
              b_col: str = "doc_b") -> DataFrame:
    """Pair-level evaluation harness for near-dup / ER candidates:
    confusion counts and integer-ppm precision / recall / F1 of a
    PREDICTED pair relation against a TRUTH pair relation — the
    measurement loop every dedup threshold choice runs (how many real
    duplicates does simhash@k catch, at what false-pair cost?).

    Both relations are canonicalized (unordered pairs, distinct), then
    ONE full-outer equi-join on the pair key + one global aggregate —
    no driver collect; at 10^9 pairs this is a single co-keyed shuffle.
    F1 stays integer: with P and R in ppm, f1_ppm = 2*P*R div (P+R).

    Output (one row): (n_pred, n_truth, tp, fp, fn, precision_ppm,
    recall_ppm, f1_ppm); ratios NULL when their denominator is 0.
    """
    def canon(df: DataFrame, tag: str) -> DataFrame:
        a, b = F.col(a_col), F.col(b_col)
        return (df.select(F.least(a, b).alias("pa"),
                          F.greatest(a, b).alias("pb"))
                .distinct()
                .withColumn(tag, F.lit(1)))

    m = canon(pred, "in_p").join(canon(truth, "in_t"),
                                 ["pa", "pb"], "full_outer")
    agg = m.agg(
        F.sum(F.coalesce(F.col("in_p"), F.lit(0))).alias("n_pred"),
        F.sum(F.coalesce(F.col("in_t"), F.lit(0))).alias("n_truth"),
        F.sum(F.when(F.col("in_p").isNotNull()
                     & F.col("in_t").isNotNull(), 1).otherwise(0))
        .alias("tp"),
        F.sum(F.when(F.col("in_p").isNotNull()
                     & F.col("in_t").isNull(), 1).otherwise(0))
        .alias("fp"),
        F.sum(F.when(F.col("in_p").isNull()
                     & F.col("in_t").isNotNull(), 1).otherwise(0))
        .alias("fn"))
    p = F.when(F.col("n_pred") > 0,
               F.expr("1000000 * tp div n_pred"))
    r = F.when(F.col("n_truth") > 0,
               F.expr("1000000 * tp div n_truth"))
    out = (agg.withColumn("precision_ppm", p.cast("bigint"))
           .withColumn("recall_ppm", r.cast("bigint")))
    f1 = F.when(
        F.col("precision_ppm").isNotNull()
        & F.col("recall_ppm").isNotNull()
        & (F.col("precision_ppm") + F.col("recall_ppm") > 0),
        F.expr("2 * precision_ppm * recall_ppm "
               "div (precision_ppm + recall_ppm)"))
    return out.select(
        F.col("n_pred").cast("bigint").alias("n_pred"),
        F.col("n_truth").cast("bigint").alias("n_truth"),
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.col("fn").cast("bigint").alias("fn"),
        "precision_ppm", "recall_ppm", f1.cast("bigint").alias("f1_ppm"))
