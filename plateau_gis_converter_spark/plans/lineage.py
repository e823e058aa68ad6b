"""Per-stage lineage + metrics checkpointing and idempotent resume
(north_rule: "resumable from checkpoint with per-partition lineage +
metrics").

The reference's Feedback channel (nusamai/src/pipeline/feedback.rs:26-141)
carries progress/cancel signals in-process; at cluster scale the durable
equivalent is a lineage TABLE: each stage commits
(run_id, stage, partition_id, rows_in, rows_out, bytes_out, wall_ms, batch_id)
rows alongside its data output; a re-run anti-joins completed partitions and
processes only the remainder. With Iceberg both writes share one snapshot
commit; on plain Parquet (this sandbox) the lineage dir is written after the
stage's data write succeeds — same at-least-once + idempotent-reprocess
semantics.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.local import local_relation

LINEAGE_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType()),
    T.StructField("stage", T.StringType()),
    T.StructField("partition_key", T.StringType()),
    T.StructField("rows_out", T.LongType()),
    T.StructField("bytes_out", T.LongType()),
    T.StructField("wall_ms", T.LongType()),
])


class LineageLog:
    """Filesystem-backed lineage table (Iceberg table in production)."""

    def __init__(self, spark: SparkSession, root: str, run_id: str):
        self.spark = spark
        self.root = root
        self.run_id = run_id
        os.makedirs(self._dir(), exist_ok=True)

    def _dir(self) -> str:
        return os.path.join(self.root, "_lineage")

    def completed_partitions(self, stage: str) -> set[str]:
        path = os.path.join(self._dir(), f"{stage}.jsonl")
        done = set()
        if os.path.exists(path):
            with open(path) as f:
                for line in f:
                    rec = json.loads(line)
                    if rec["run_id"] == self.run_id or rec.get("terminal"):
                        done.add(rec["partition_key"])
        return done

    def stage_complete(self, stage: str) -> bool:
        """Stage-LEVEL completion marker (ADVICE r4): per-key commits
        can't distinguish 'stage finished with some keys legitimately
        empty' from 'stage interrupted' — counting committed keys
        against an expected total makes every resume recompute a stage
        whose missing keys simply produced no rows. The marker records
        the whole stage's success explicitly."""
        path = os.path.join(self._dir(), f"{stage}.complete.json")
        if not os.path.exists(path):
            return False
        with open(path) as f:
            rec = json.load(f)
        return rec["run_id"] == self.run_id or rec.get("terminal", True)

    def mark_stage_complete(self, stage: str) -> None:
        path = os.path.join(self._dir(), f"{stage}.complete.json")
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "stage": stage,
                       "terminal": True}, f)

    def commit(self, stage: str, partition_key: str, rows_out: int,
               bytes_out: int, wall_ms: int, terminal: bool = True) -> None:
        path = os.path.join(self._dir(), f"{stage}.jsonl")
        rec = {"run_id": self.run_id, "stage": stage,
               "partition_key": partition_key, "rows_out": rows_out,
               "bytes_out": bytes_out, "wall_ms": wall_ms,
               "terminal": terminal}
        with open(path, "a") as f:
            f.write(json.dumps(rec) + "\n")

    def metrics_df(self) -> DataFrame:
        import glob

        rows = []
        for path in glob.glob(os.path.join(self._dir(), "*.jsonl")):
            with open(path) as f:
                for line in f:
                    rec = json.loads(line)
                    rows.append((rec["run_id"], rec["stage"],
                                 rec["partition_key"], rec.get("rows_out", 0),
                                 rec.get("bytes_out", 0), rec.get("wall_ms", 0)))
        return local_relation(self.spark, rows, LINEAGE_SCHEMA)


def run_stage_partitioned(df: DataFrame, stage: str, key_col: str,
                          lineage: LineageLog, sink_fn) -> int:
    """Run a stage partitioned by ``key_col`` with resume.

    Keys already in the lineage log are anti-joined away; the remainder is
    processed DISTRIBUTED via ``groupBy(key).applyInPandas`` — one executor
    task per key runs ``sink_fn(key, pandas_df) -> bytes_out`` (the sink
    closure must be serializable and write to executor-visible storage).
    Only the per-key metadata rows (rows_out/bytes_out/wall_ms — O(keys),
    the same cardinality as the lineage log itself) return to the driver,
    which appends the lineage commits; no unbounded data is ever collected.

    AT-LEAST-ONCE contract (ADVICE r2 #4): Spark task retries and
    speculative execution can invoke ``sink_fn`` MORE than once for the
    same key before the lineage commit, so ``sink_fn`` MUST be idempotent
    per key — write to a deterministic per-key path with overwrite (every
    sink in this package does), never append. The lineage log only
    guarantees a key is skipped on a RESUMED run, not within one run.
    Disable ``spark.speculation`` for this stage if the sink cannot be
    made idempotent.
    """
    import pandas as pd

    done = lineage.completed_partitions(stage)
    if done:
        done_df = local_relation(
            lineage.spark, [(k,) for k in done],
            T.StructType([T.StructField(key_col, T.StringType())]))
        df = df.join(F.broadcast(done_df),
                     df[key_col].cast("string") == done_df[key_col], "left_anti")

    result_schema = T.StructType([
        T.StructField("partition_key", T.StringType()),
        T.StructField("rows_out", T.LongType()),
        T.StructField("bytes_out", T.LongType()),
        T.StructField("wall_ms", T.LongType()),
    ])

    def process(pdf: "pd.DataFrame") -> "pd.DataFrame":
        t0 = time.time()
        key = str(pdf["_pk"].iloc[0])
        bytes_out = sink_fn(key, pdf.drop(columns=["_pk"]))
        return pd.DataFrame({
            "partition_key": [key], "rows_out": [len(pdf)],
            "bytes_out": [int(bytes_out)],
            "wall_ms": [int((time.time() - t0) * 1000)]})

    results = (df.withColumn("_pk", F.col(key_col).cast("string"))
               .groupBy("_pk").applyInPandas(process, result_schema)
               .collect())
    for r in sorted(results, key=lambda r: r["partition_key"]):
        lineage.commit(stage, r["partition_key"], r["rows_out"],
                       r["bytes_out"], r["wall_ms"])
    return len(results)
