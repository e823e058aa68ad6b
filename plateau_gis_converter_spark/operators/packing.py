"""Sequence packing for LLM pretraining: concatenate-and-chunk.

The standard pretraining batcher concatenates all documents in a fixed
order and cuts the token stream every ``budget`` tokens (GPT-style
packing). The distributed core is a GLOBAL PREFIX SUM of per-document
token counts — naively a single-partition window (a scale killer), here
the classic two-phase scan:

  1. range-partition by the order key (global order across partitions);
  2. per-partition token totals → driver (O(partitions) rows, not data);
  3. prefix offsets broadcast back; per-partition cumulative sum via a
     window PARTITIONED BY the range partition (parallel), plus the
     partition's offset.

The result is boundary-independent: a document's global prefix is the sum
of all earlier documents' tokens no matter where the range boundaries
fell, so the output is a pure function of (corpus, order key, budget) —
exact SQL oracle, stable across partitionings and reruns.

Output per doc: n_tokens, token_start (global prefix), chunk_start /
chunk_end (the chunk ids the doc's tokens land in; a doc may straddle
chunks — that IS concat-and-chunk semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.local import local_relation
from .text import token_count


def pack_concat_chunks(docs: DataFrame, budget: int,
                       key_col: str = "doc_id",
                       text_col: str = "text",
                       num_partitions: int | None = None) -> DataFrame:
    """Assign every document its global token offset and chunk range under
    concat-and-chunk packing with ``budget`` tokens per chunk. Documents
    are ordered by ``key_col``; zero-token docs get an empty range
    (chunk_end < chunk_start). ``budget`` is schema-validated at plan
    time (>= 1)."""
    from ..parameters import PACKING

    PACKING.resolve({"budget": budget})
    d = docs.select(F.col(key_col).alias("k"),
                    token_count(F.col(text_col)).alias("ntok"))
    if num_partitions:
        d = d.repartitionByRange(num_partitions, "k")
    else:
        d = d.repartitionByRange("k")
    # Materialize the range partitioning ONCE. RangePartitioner boundaries
    # come from reservoir sampling seeded by the per-execution RDD id (and
    # AQE may re-coalesce the exchange per plan), so evaluating `part` in
    # two independent jobs — the totals collect below and the final output
    # query — could assign rows to DIFFERENT pids in each job at any scale
    # where sampling is partial, silently corrupting token_start. The eager
    # localCheckpoint pins one physical partitioning that both jobs read.
    part = (d.withColumn("pid", F.spark_partition_id())
            .localCheckpoint(eager=True))

    # O(partitions) rows to the driver — partition totals, not data. The
    # prefix offsets go back as a local relation: the broadcast reads a
    # LocalTableScan and starts no Python worker.
    totals = {r["pid"]: r["tot"] for r in
              part.groupBy("pid").agg(F.sum("ntok").alias("tot")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid] or 0
    off_df = local_relation(docs.sparkSession, offsets.items(),
                            "pid: int, off: long")

    w = Window.partitionBy("pid").orderBy("k")
    cum_incl = F.sum("ntok").over(w)
    out = (part.join(F.broadcast(off_df), "pid")
           .withColumn("token_start",
                       (F.col("off") + cum_incl - F.col("ntok"))
                       .cast("bigint"))
           .select(F.col("k").alias(key_col),
                   F.col("ntok").cast("bigint").alias("n_tokens"),
                   "token_start"))
    return (out
            .withColumn("chunk_start",
                        F.expr(f"token_start div {budget}").cast("bigint"))
            # guarded: Spark's `div` truncates toward zero while DuckDB's
            # `//` floors, so the n_tokens == 0, token_start == 0 corner
            # would disagree without the explicit empty-range branch
            .withColumn("chunk_end",
                        F.when(F.col("n_tokens") > 0,
                               F.expr(f"(token_start + n_tokens - 1) "
                                      f"div {budget}"))
                        .otherwise(F.col("chunk_start") - 1)
                        .cast("bigint")))


def pack_chunk_composition(docs: DataFrame, budget: int,
                           key_col: str = "doc_id",
                           text_col: str = "text",
                           num_partitions: int | None = None) -> DataFrame:
    """The INVERSE mapping a training loader actually consumes (VERDICT
    r4 #8): one row per (chunk, document-span) — which docs compose each
    chunk, in order, and where each span sits both inside the chunk and
    inside the source document:

      chunk_id      — the chunk
      doc_id        — the source document
      span_start    — offset of the span within the DOC's token stream
      span_len      — tokens the span contributes to this chunk (> 0)
      chunk_offset  — offset of the span within the CHUNK (so spans of a
                      chunk, ordered by chunk_offset, tile [0, budget))

    Derivation: one map-side explode of each doc's straddle range
    [chunk_start, chunk_end] over the ``pack_concat_chunks`` output plus
    greatest/least span arithmetic — no extra shuffle beyond the packing
    scan itself; a doc lands in at most n_tokens/budget + 1 chunks, so
    the blow-up is bounded by corpus_tokens/budget + corpus_docs rows.
    """
    packed = pack_concat_chunks(docs, budget, key_col=key_col,
                                text_col=text_col,
                                num_partitions=num_partitions)
    b = F.lit(budget).cast("bigint")
    cstart = F.col("chunk_id") * b                  # chunk's global start
    sstart = F.greatest(F.col("token_start"), cstart)
    send = F.least(F.col("token_start") + F.col("n_tokens"),
                   cstart + b)
    return (packed.where(F.col("n_tokens") > 0)
            .withColumn("chunk_id",
                        F.explode(F.sequence(F.col("chunk_start"),
                                             F.col("chunk_end"))))
            .select(F.col("chunk_id").cast("bigint"),
                    F.col(key_col),
                    (sstart - F.col("token_start")).cast("bigint")
                    .alias("span_start"),
                    (send - sstart).cast("bigint").alias("span_len"),
                    (sstart - cstart).cast("bigint")
                    .alias("chunk_offset")))
