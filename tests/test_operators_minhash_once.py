"""MinHash dedup and connected components evaluate their inputs once:
CC symmetrizes its pairs in one pass, ``minhash_dedup_pairs`` pins one
per-doc sketch and leaves nothing in Spark's cache, and the fused path
returns what the unfused public composition returns."""
import os
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from plateau_gis_converter_spark.operators import dedup as dd
from plateau_gis_converter_spark.operators import graph as gr


def test_connected_components_reads_pairs_once(spark):
    """Each row of a lazy ``pairs`` relation is produced once: the
    symmetrized edges are built from one pass, not a two-branch union."""
    seen = spark.sparkContext.accumulator(0)

    @F.udf("bigint")
    def tick(x):
        seen.add(1)
        return x

    # four chains 10k .. 10k+9
    pairs = (spark.range(40).where(F.col("id") % 10 != 9)
             .select(tick(F.col("id")).alias("doc_a"),
                     (F.col("id") + 1).alias("doc_b")))
    got = {r["id"]: r["component_id"]
           for r in gr.connected_components(pairs).collect()}
    assert got == {i: i - i % 10 for i in range(40)}
    assert seen.value == 36


def test_minhash_dedup_pairs_leaves_nothing_cached(spark):
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    spark.catalog.clearCache()
    dd.minhash_dedup_pairs(docs).count()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_minhash_dedup_pairs_matches_unfused_composition(spark, sf):
    """The pinned-sketch path against LSH candidates verified over a
    separate shingling: same rows, bit-identical jaccard doubles."""
    docs = spark.read.parquet(
        os.path.join(os.path.dirname(SF_DIR), sf, "documents.parquet"))
    fused = dd.minhash_dedup_pairs(docs, 0.5).collect()
    unfused = dd.jaccard_verify(dd.minhash_lsh_candidates(docs),
                                dd.shingles(docs), 0.5).collect()
    assert fused
    assert sorted(map(tuple, fused)) == sorted(map(tuple, unfused))


def _label_propagation_ref(edges, rounds):
    """Most frequent neighbor label, smallest on ties; self-loops are not
    neighbors."""
    nbrs = defaultdict(set)
    for a, b in edges:
        if a != b:
            nbrs[a].add(b)
            nbrs[b].add(a)
    labels = {v: v for v in nbrs}
    for _ in range(rounds):
        labels = {v: min(Counter(labels[u] for u in nb).items(),
                         key=lambda kv: (-kv[1], kv[0]))[0]
                  for v, nb in nbrs.items()}
    return labels


def test_label_propagation_ignores_self_loops(spark):
    edges = [(5, 9), (5, 7), (5, 5)]
    df = spark.createDataFrame(edges, "src: long, dst: long")
    got = {r["id"]: r["community"]
           for r in gr.label_propagation(df, rounds=1).collect()}
    assert got == _label_propagation_ref(edges, 1) == {5: 7, 7: 5, 9: 5}
