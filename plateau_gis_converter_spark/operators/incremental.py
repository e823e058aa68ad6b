"""Incremental MinHash-LSH dedup against a persisted bucket index.

``operators/delta.py`` routes a recurring crawl: only ``added`` and
``changed`` pages re-enter dedup.  This module is the dedup side of
that contract — the reason a 10^12-page pipeline is incremental
instead of full-recompute:

* the previous snapshot's LSH bucket rows (``dedup.lsh_buckets`` —
  (doc_id, band, key), a constant ``bands`` rows per doc) are
  PERSISTED once per snapshot (parquet; at scale the bucketed layout
  of ``sources/bucketed.py`` keyed on (band, key));
* a new crawl shingles/signs ONLY its added+changed docs;
* candidates = new-vs-new band agreement ∪ new-vs-index band
  agreement — two equi-joins, never touching unchanged-vs-unchanged
  (those pairs are the previous run's output, carried over);
* exact-Jaccard verification re-reads text for exactly the unchanged
  docs that appear in some candidate pair (one semi-join pushdown) —
  O(candidates), not O(corpus).

Losslessness contract (what the ``incremental_dedup`` gate proves
against a FULL-recompute oracle): the result equals
``minhash_dedup_pairs(unchanged ∪ new)`` restricted to pairs with at
least one new doc.  Band keys are md5-deterministic functions of the
text alone, so index rows and fresh rows are interchangeable, and the
union of the two candidate joins is exactly the full candidate set
minus unchanged-vs-unchanged.

Reference parity: the reference converter is batch-only (one CityGML
input → one run, sinks/*); snapshot-incremental dedup is an engine
addition for the recurring-crawl corpus per the brief's
training-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import dedup as dd


def incremental_dedup_pairs(unchanged_index: DataFrame,
                            unchanged_docs: DataFrame,
                            new_docs: DataFrame,
                            threshold: float = 0.5,
                            num_hashes: int = 16, bands: int = 4,
                            n: int = 3,
                            text_col: str = "text") -> DataFrame:
    """Near-dup pairs (doc_a < doc_b, jaccard >= threshold) involving at
    least one doc from ``new_docs``.

    ``unchanged_index``: (doc_id, band, key) rows for the unchanged
    corpus — the persisted output of ``dedup.lsh_buckets`` from the
    previous snapshot, with removed/changed doc ids filtered out by the
    caller (``crawl_delta`` tells it which).  ``unchanged_docs`` is
    consulted only for text of candidate-pair members (semi-join).
    LSH parameters must match the ones the index was built with.
    """
    nb = dd.lsh_buckets(new_docs, num_hashes, bands, n,
                        text_col).localCheckpoint()

    a = nb.alias("a")
    b = nb.alias("b")
    new_new = (a.join(b, (F.col("a.band") == F.col("b.band"))
                      & (F.col("a.key") == F.col("b.key"))
                      & (F.col("a.doc_id") < F.col("b.doc_id")))
               .select(F.col("a.doc_id").alias("doc_a"),
                       F.col("b.doc_id").alias("doc_b")))
    idx = unchanged_index.alias("i")
    new_old = (a.join(idx, (F.col("a.band") == F.col("i.band"))
                      & (F.col("a.key") == F.col("i.key")))
               .select(F.least(F.col("a.doc_id"), F.col("i.doc_id"))
                       .alias("doc_a"),
                       F.greatest(F.col("a.doc_id"), F.col("i.doc_id"))
                       .alias("doc_b"))
               .where(F.col("doc_a") != F.col("doc_b")))
    cand = new_new.unionAll(new_old).distinct().localCheckpoint()

    # text re-read bounded by the candidate set: only unchanged docs
    # that actually collide with a new doc get re-shingled.
    cand_ids = (cand.select(F.col("doc_a").alias("doc_id"))
                .unionAll(cand.select(F.col("doc_b").alias("doc_id")))
                .distinct())
    touched_old = unchanged_docs.join(cand_ids, "doc_id", "left_semi")
    sh = dd.shingles(new_docs, n, text_col).unionAll(
        dd.shingles(touched_old, n, text_col))
    return dd.jaccard_verify(cand, sh, threshold)


def write_lsh_index(docs: DataFrame, path: str, num_hashes: int = 16,
                    bands: int = 4, n: int = 3,
                    text_col: str = "text") -> None:
    """Persist the snapshot's LSH bucket index.  Partitioned by ``band``
    so a probe of one band prunes to its directory; within a band the
    equi-join shuffles on ``key``."""
    (dd.lsh_buckets(docs, num_hashes, bands, n, text_col)
     .write.mode("overwrite").partitionBy("band").parquet(path))


def read_lsh_index(spark, path: str) -> DataFrame:
    df = spark.read.parquet(path)
    return df.select("doc_id", F.col("band").cast("int").alias("band"), "key")


def incremental_connected_components(prev_labels: DataFrame,
                                     prev_pairs: DataFrame,
                                     stale_ids: DataFrame,
                                     new_pairs: DataFrame,
                                     max_iters: int = 50) -> DataFrame:
    """Dedup clusters for the new snapshot, recomputing ONLY components
    the delta touched.

    Inputs are the previous run's stored outputs plus the delta:

    * ``prev_labels`` — (id, component_id) from the previous snapshot's
      ``connected_components``;
    * ``prev_pairs`` — the previous snapshot's verified pair relation
      (doc_a, doc_b) — the dedup output a pipeline persists anyway;
    * ``stale_ids`` — (doc_id) nodes invalid in the new snapshot:
      removed docs AND content-changed docs (their old pairs no longer
      describe their text; changed docs re-enter through ``new_pairs``);
    * ``new_pairs`` — pairs involving added/changed docs
      (``incremental_dedup_pairs``).

    A component is DIRTY iff it contains a stale doc or one of its
    members appears in a new pair.  Clean components cannot have gained
    or lost an edge (pairs between unchanged docs are deterministic in
    the text, and any new pair would have dirtied them), so their labels
    carry over verbatim — zero compute.  Dirty components re-run
    alternating-CC over exactly their surviving old pairs (both
    endpoints unchanged) plus the new pairs.  Output is IDENTICAL to
    ``connected_components(all pairs of the new snapshot)`` — the
    ``incremental_clusters`` gate proves it against a full-recompute
    oracle.  Work scales with the dirty subgraph, not the corpus:
    removal-only deltas touch O(affected clusters), and the carried
    part is one anti-join.
    """
    from . import graph as gr

    members = (new_pairs.select(F.col("doc_a").alias("id"))
               .unionAll(new_pairs.select(F.col("doc_b").alias("id"))))
    dirty = (prev_labels.join(stale_ids.select(F.col("doc_id").alias("id")),
                              "id", "left_semi")
             .select("component_id")
             .unionAll(prev_labels.join(members, "id", "left_semi")
                       .select("component_id"))
             .distinct())
    carried = prev_labels.join(dirty, "component_id", "left_anti")

    stale = stale_ids.select(F.col("doc_id").alias("id"))
    old_edges = (prev_pairs
                 .join(prev_labels.select(F.col("id").alias("doc_a"),
                                          "component_id"), "doc_a")
                 .join(dirty, "component_id", "left_semi")
                 .select("doc_a", "doc_b")
                 .join(stale.withColumnRenamed("id", "doc_a"), "doc_a",
                       "left_anti")
                 .join(stale.withColumnRenamed("id", "doc_b"), "doc_b",
                       "left_anti"))
    edges = old_edges.unionAll(new_pairs.select("doc_a", "doc_b"))
    redone = gr.connected_components(edges, max_iters=max_iters)
    return carried.select("id", "component_id").unionAll(
        redone.select("id", "component_id"))
