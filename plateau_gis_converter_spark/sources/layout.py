"""Hilbert-clustered parquet layout — spatial data-skipping at rest.

The on-disk sibling of the IVF index (``similarity.write_ivf_index``)
and the bucketed join layout (``sources/bucketed.py``): lay the corpus
out so a SPATIAL predicate prunes I/O before any row is read.  Parquet
keeps min/max statistics per row group for every column; a bbox filter
(``lng BETWEEN .. AND lat BETWEEN ..``) lets the scan skip every row
group whose [min,max] envelope misses the box.  Random or insert-order
layouts defeat this — every row group spans the whole extent, so
nothing skips.  Clustering rows by a space-filling curve (the SAME
PMTiles Hilbert id the tile pipeline uses — ``functions/geo.
hilbert_id_expr``, nusamai-mvt hilbert.rs parity) makes each row group
a compact spatial block, so a city-sized box touches a handful of
groups out of thousands.  This is the standard lakehouse Z-ORDER /
Hilbert-cluster technique (Delta OPTIMIZE ZORDER, Iceberg sort orders)
expressed with stock Spark:

* ``repartitionByRange`` on the Hilbert key → one range shuffle, files
  = contiguous curve segments (ranges sampled, so skew in the curve
  key balances file sizes);
* ``sortWithinPartitions`` → row groups inside each file are curve
  segments too — pruning works at BOTH granularities (Spark prunes
  row groups via pushed filters; a catalog can prune whole files from
  the same footer stats).

At 100 TB the layout is written once per snapshot (the same "pay the
shuffle once" story as bucketing) and every subsequent spatial read —
tile builds, geocode joins, kNN seeds — pays I/O proportional to the
query box, not the corpus.  ``bbox_rowgroup_stats`` audits the footer
metadata directly (pyarrow), counting exactly the row groups a
stats-aware reader must touch — the same min/max intersection test the
scan's pushed filter performs, measured from the files themselves.
"""

from __future__ import annotations

import glob as _glob
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import geo


def hilbert_key(df: DataFrame, z: int = 12, lng_col: str = "lng_udeg",
                lat_col: str = "lat_udeg", out: str = "hkey") -> DataFrame:
    """Append the zoom-``z`` PMTiles Hilbert id of each point as ``out``
    (pure Catalyst — ``functions/geo.hilbert_id_expr``)."""
    zl = F.lit(z)
    x = geo.tile_x(zl, geo.mercator_mx(geo.udeg_to_deg(F.col(lng_col))))
    y = geo.tile_y(zl, geo.mercator_my(geo.udeg_to_deg(F.col(lat_col))))
    return df.withColumn(out, geo.hilbert_id_expr(z, x, y))


def write_hilbert_layout(df: DataFrame, path: str, z: int = 12,
                         n_files: int = 8, lng_col: str = "lng_udeg",
                         lat_col: str = "lat_udeg",
                         row_group_bytes: int | None = None) -> None:
    """Write ``df`` Hilbert-clustered: range-partitioned AND sorted by the
    curve key, so both files and row groups are compact spatial blocks.
    ``row_group_bytes`` shrinks parquet row groups (tests force several
    groups per file; production keeps the 128 MB default)."""
    keyed = hilbert_key(df, z, lng_col, lat_col)
    w = (keyed.repartitionByRange(n_files, "hkey")
         .sortWithinPartitions("hkey")
         .write.mode("overwrite"))
    if row_group_bytes is not None:
        w = w.option("parquet.block.size", str(row_group_bytes))
    w.parquet(path)


def bbox_rowgroup_stats(path: str, lng_min: int, lng_max: int,
                        lat_min: int, lat_max: int,
                        lng_col: str = "lng_udeg",
                        lat_col: str = "lat_udeg") -> tuple[int, int]:
    """(total_row_groups, row_groups_a_stats_aware_scan_must_read) for a
    bbox query, from the parquet footers alone — the exact min/max
    intersection test the pushed-down scan filter applies."""
    total = touched = 0
    for f in sorted(_glob.glob(f"{path}/*.parquet")):
        import pyarrow.parquet as pq

        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        li, la = names.index(lng_col), names.index(lat_col)
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            total += 1
            slng, slat = rg.column(li).statistics, rg.column(la).statistics
            if slng is None or slat is None:
                touched += 1  # no stats -> reader cannot skip
                continue
            if (slng.max >= lng_min and slng.min <= lng_max
                    and slat.max >= lat_min and slat.min <= lat_max):
                touched += 1
    return total, touched


def compaction_plan(files: DataFrame, target_bytes: int,
                    path_col: str = "path",
                    bytes_col: str = "bytes") -> DataFrame:
    """Small-file compaction planning — the other half of layout
    maintenance (write_hilbert_layout creates the clustered files; a
    streaming/incremental writer then accretes many SMALL files that
    must be periodically coalesced or every scan pays per-file open
    cost and the footer-stats pruning granularity degrades).

    Assigns each file to a merge task by PATH-ORDER cumulative size:
    ``task_id = floor(cum_bytes_before / target_bytes)`` — the same
    packing rule Spark's own scan uses to build FilePartitions
    (maxPartitionBytes) and Delta/Iceberg OPTIMIZE use for bin sizing.
    Path order is deliberate: for a Hilbert-clustered table,
    lexicographically adjacent files are curve-adjacent, so compacting
    neighbors PRESERVES the clustering (a size-sorted first-fit packing
    would interleave far-apart curve segments and destroy the locality
    the layout exists for). Each task's total is < target_bytes +
    max_file_bytes, the standard greedy bound.

    Output: (path, bytes, task_id, task_seq) — task_seq is the 0-based
    merge order within the task, so a rewriter can stream-concatenate
    deterministically. Scale: ONE window over the file-metadata
    relation (millions of rows for a 100 TB table, not billions) — the
    data files themselves are never read by the planner.
    """
    if target_bytes <= 0:
        raise ValueError(f"target_bytes must be > 0, got {target_bytes}")
    from pyspark.sql import Window

    w = Window.orderBy(F.col(path_col).asc())
    before = (F.coalesce(
        F.sum(bytes_col).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0)).cast("bigint"))
    out = (files.select(path_col, F.col(bytes_col).cast("bigint")
                        .alias(bytes_col))
           .withColumn("task_id",
                       F.floor(before / F.lit(target_bytes)).cast("bigint")))
    ws = Window.partitionBy("task_id").orderBy(F.col(path_col).asc())
    return out.withColumn(
        "task_seq", (F.row_number().over(ws) - F.lit(1)).cast("bigint"))


def compaction_summary(plan: DataFrame) -> DataFrame:
    """Per merge task: file count and total bytes (one partial-agg
    groupBy over the plan relation) — the rewrite scheduler's work
    list."""
    return (plan.groupBy("task_id")
            .agg(F.count(F.lit(1)).alias("n_files"),
                 F.sum("bytes").alias("total_bytes")))


def vacuum_plan(manifests: DataFrame, snapshots: DataFrame,
                retain_last: int) -> DataFrame:
    """Snapshot-retention vacuum planning — the third lakehouse
    maintenance operation next to ``write_hilbert_layout`` (clustering)
    and ``compaction_plan`` (small files): given the table's
    snapshot->file reference metadata, decide which data files become
    unreachable once only the newest ``retain_last`` snapshots are kept
    (Iceberg ``expire_snapshots`` / Delta ``VACUUM`` semantics — see
    ICEBERG.md for the parquet-substitution note).

    manifests: (snapshot_id, path) — one row per file reference.
    snapshots: (snapshot_id, ts) — the snapshot log.
    Returns one row per distinct file: (path, first_snapshot,
    last_snapshot, n_refs, deletable) where ``deletable`` is true iff NO
    retained snapshot references the file. A file referenced by any
    retained snapshot stays, however old its first reference — vacuum
    must never break a live snapshot (time travel to retained history).

    Scale shape: the retained set is ``retain_last`` rows (a window rank
    over the snapshot LOG, which is tiny) broadcast into one hash
    semi-probe; the per-file profile is ONE partial-agg groupBy over the
    manifest relation (metadata, not data); no data file is opened.
    """
    from pyspark.sql import Window

    w = Window.orderBy(F.col("ts").desc(), F.col("snapshot_id").desc())
    retained = (snapshots
                .select("snapshot_id", F.row_number().over(w).alias("__r"))
                .where(F.col("__r") <= retain_last)
                .select("snapshot_id"))
    flags = manifests.join(
        F.broadcast(retained.withColumn("__live", F.lit(1))),
        "snapshot_id", "left")
    return (flags.groupBy("path")
            .agg(F.min("snapshot_id").alias("first_snapshot"),
                 F.max("snapshot_id").alias("last_snapshot"),
                 F.count(F.lit(1)).alias("n_refs"),
                 (F.count("__live") == 0).alias("deletable")))


def merge_plan(file_stats: DataFrame, update_keys: DataFrame,
               key_col: str = "key") -> DataFrame:
    """Copy-on-write MERGE planning (the Iceberg/Delta ``MERGE INTO``
    write path): given per-file key-range statistics and the incoming
    update keyset, decide which data files must be rewritten — a file is
    touched iff an update key lands inside its [min_key, max_key] range.
    Everything else is carried over untouched; on a Hilbert-clustered
    layout (``write_hilbert_layout``) spatially-local updates touch few
    files, which is the point of clustering.  Completes the lakehouse
    maintenance family: clustering, compaction, vacuum, merge.

    Output: one row per file — (file_id, min_key, max_key, bytes,
    n_hits, rewrite) with n_hits = DISTINCT update keys in range and
    rewrite = n_hits > 0.

    Shape: the file-stats relation is metadata (one row per data file —
    bounded, always broadcastable), so the range probe is a broadcast
    join against the update keys with NO shuffle of the keyset, then
    one partial agg keyed by file.  Never a sort-merge range join.
    """
    ks = update_keys.select(F.col(key_col).alias("_k")).distinct()
    hits = (ks.join(F.broadcast(file_stats),
                    (F.col("_k") >= F.col("min_key"))
                    & (F.col("_k") <= F.col("max_key")))
            .groupBy("file_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits")))
    return (file_stats.join(hits, "file_id", "left")
            .select("file_id", "min_key", "max_key", "bytes",
                    F.coalesce("n_hits", F.lit(0)).cast("bigint")
                    .alias("n_hits"))
            .withColumn("rewrite", F.col("n_hits") > 0))


def merge_on_read(data: DataFrame, pos_deletes: DataFrame,
                  eq_deletes: DataFrame | None = None,
                  eq_cols: Sequence[str] | None = None,
                  file_col: str = "file_path", pos_col: str = "pos",
                  seq_col: str = "data_seq",
                  delete_seq_col: str = "delete_seq") -> DataFrame:
    """Merge-on-read scan: apply positional AND equality delete files to
    a data relation at read time — the Iceberg v2 / Delta
    deletion-vector read path (the write side never rewrites data
    files; deletes land as small delete files and the READER subtracts
    them).  This is the MoR complement to ``merge_plan`` (copy-on-write)
    and completes the lakehouse maintenance set
    (clustering/compaction/vacuum/COW-merge/MoR-read).

    Sequence-number semantics follow the Iceberg v2 spec exactly:

    * a POSITIONAL delete (file_path, pos, delete_seq) removes the row
      at that position when ``delete_seq >= data_seq`` (a position
      delete committed in the same snapshot as the data applies);
    * an EQUALITY delete (eq_cols..., delete_seq) removes every row
      whose eq_cols match when ``delete_seq > data_seq`` STRICTLY (an
      equality delete never applies to data of its own commit — that is
      how upsert MERGE writes a delete+insert of the same key in one
      snapshot without killing its own insert).

    Both subtractions are LEFT ANTI joins with the sequence predicate
    folded into the join condition.  Delete files are small relative to
    data by construction (that is the point of MoR), so both anti joins
    broadcast the delete relation — the scan stays shuffle-free and the
    plan composes with partition pruning on the data side.  Output =
    surviving data rows, schema unchanged.
    """
    from pyspark.sql.functions import broadcast

    pd_ = pos_deletes.select(
        F.col(file_col).alias("_df"), F.col(pos_col).alias("_dp"),
        F.col(delete_seq_col).alias("_ds"))
    out = data.join(
        broadcast(pd_),
        (F.col(file_col) == F.col("_df")) & (F.col(pos_col) == F.col("_dp"))
        & (F.col("_ds") >= F.col(seq_col)),
        "left_anti")
    if eq_deletes is not None:
        if not eq_cols:
            raise ValueError("eq_deletes given but eq_cols is empty")
        ed = eq_deletes.select(
            *[F.col(c).alias(f"_e_{c}") for c in eq_cols],
            F.col(delete_seq_col).alias("_es"))
        cond = F.col("_es") > F.col(seq_col)
        for c in eq_cols:
            cond = cond & (F.col(c) == F.col(f"_e_{c}"))
        out = out.join(broadcast(ed), cond, "left_anti")
    return out


def table_stats(df, cols):
    """ANALYZE-style column statistics in ONE pass: per column the row
    count, non-null count, exact NDV, and min/max (as strings, so the
    stats relation has one schema for every column type) — the catalog
    numbers a cost-based optimizer, a compaction planner
    (``compaction_plan``), and a MERGE range pruner (``merge_plan``)
    all read. Iceberg/Delta keep these per file; this is the
    table-level rollup (ANALYZE TABLE ... COMPUTE STATISTICS FOR
    COLUMNS).

    Shape: one global aggregate (Spark plans the multiple exact
    COUNT(DISTINCT)s via a single Expand — still one scan of the
    fact), then a map-side explode of the 1-row result into the long
    stats relation. For approximate NDV at extreme cardinalities, feed
    ``cardinality.hll_registers`` instead; this is the exact path the
    gate verifies.

    Output: (column, n_rows, n_nonnull, ndv, vmin, vmax).
    """
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"__nn_{c}"),
            F.countDistinct(F.col(c)).alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__mx_{c}"),
        ]
    row = df.agg(*aggs)
    cells = F.array(*[
        F.struct(F.lit(c).alias("column"),
                 F.col("__n").cast("bigint").alias("n_rows"),
                 F.col(f"__nn_{c}").cast("bigint").alias("n_nonnull"),
                 F.col(f"__nd_{c}").cast("bigint").alias("ndv"),
                 F.col(f"__mn_{c}").alias("vmin"),
                 F.col(f"__mx_{c}").alias("vmax"))
        for c in cols])
    return row.select(F.explode(cells).alias("s")).select("s.*")


def json_key_stats(df, json_col: str = "props"):
    """Schema inference over a JSON-string column: per (key, inferred
    value type) the occurrence count and per-key presence share — the
    profiling pass that turns a semi-structured crawl sidecar column
    into a typed schema proposal (and flags drift: a key that is 99%
    int and 1% string is a producer bug). Flat-object contract (nested
    values profile as 'string'); malformed rows parse to NULL and drop.

    Shape: one from_json into map<string,string> + one explode + one
    partial-agg count per (key, vtype); the total-row scalar joins back
    via a 1-row broadcast (no second fact scan, no driver action).
    Type inference is a shared regex ladder (int / float / bool / null
    / string) so the DuckDB oracle — which walks keys with its OWN
    json_keys()/json_extract_string() machinery — agrees exactly.

    Output: (key, vtype, n, share_ppm) — share_ppm is the KEY's
    presence over all rows (1e6 * rows-with-key div total rows).
    """
    from pyspark.sql import functions as F

    kv = df.select(F.explode(F.from_json(
        F.col(json_col), "map<string,string>")).alias("key", "val"))
    vtype = (F.when(F.col("val").isNull(), "null")
             .when(F.col("val").rlike(r"^-?[0-9]+$"), "int")
             .when(F.col("val").rlike(r"^-?[0-9]+\.[0-9]+$"), "float")
             .when(F.col("val").isin("true", "false"), "bool")
             .otherwise("string"))
    cells = (kv.withColumn("vtype", vtype)
             .groupBy("key", "vtype")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    tot = df.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    from pyspark.sql import Window

    wk = Window.partitionBy("key")
    return (cells.withColumn("key_n", F.sum("n").over(wk))
            .crossJoin(F.broadcast(tot))
            .select("key", "vtype", "n",
                    F.expr("1000000 * key_n div n_rows").cast("bigint")
                    .alias("share_ppm")))


def inclusion_coefficients(tagged):
    """Inclusion-dependency (foreign-key candidate) discovery: given a
    tagged (set_name, v) relation of column values, the pairwise
    containment |distinct(A) ∩ distinct(B)| / |distinct(A)| for every
    ordered pair sharing at least one value — containment 1e6 ppm
    means every A value exists in B: A is an FK candidate into B. The
    schema-profiling pass (Bell/De Marchi) a lakehouse catalog runs to
    propose join keys, here over the distinct-value relations (one
    distinct partial agg + one self equi-join on the value, never a
    row-level cross).

    Output: (set_a, set_b, n_a, n_common, containment_ppm).
    """
    from pyspark.sql import functions as F

    d = (tagged.where(F.col("v").isNotNull())
         .select(F.col("set_name").alias("s"), F.col("v"))
         .distinct())
    sizes = d.groupBy("s").agg(F.count(F.lit(1)).cast("bigint")
                               .alias("n"))
    a, b = d.alias("a"), d.alias("b")
    common = (a.join(b, (F.col("a.v") == F.col("b.v"))
                     & (F.col("a.s") != F.col("b.s")))
              .groupBy(F.col("a.s").alias("set_a"),
                       F.col("b.s").alias("set_b"))
              .agg(F.count(F.lit(1)).cast("bigint").alias("n_common")))
    return (common.join(sizes.withColumnRenamed("s", "set_a"), "set_a")
            .select("set_a", "set_b", F.col("n").alias("n_a"),
                    "n_common",
                    F.expr("1000000 * n_common div n").cast("bigint")
                    .alias("containment_ppm")))


def uuid3_ids(df, name_col: str, namespace: str = "spark-graft",
              out_col: str = "uid"):
    """Deterministic UUIDv3-FORMAT record ids: md5 of
    ``namespace || ':' || name`` laid out per RFC 4122 (version nibble
    3, variant bits 10) — the stable cross-system record identity a
    lakehouse assigns once and every downstream join keys on. NOTE:
    the namespace is a STRING convention, not the RFC's 16-byte UUID
    namespace (DuckDB's md5 cannot digest raw blobs, so byte-exact
    uuid.uuid3 parity is unreachable cross-engine; the format and
    determinism guarantees are identical and documented).

    Pure map-side string ops (md5 + substr + translate); the variant
    hex digit maps through translate('0123456789abcdef' ->
    '89ab89ab89ab89ab') — exactly (digit & 3) | 8.
    """
    from pyspark.sql import functions as F

    h = F.md5(F.concat(F.lit(namespace + ":"),
                       F.col(name_col).cast("string")))
    variant = F.translate(F.substring(h, 17, 1),
                          "0123456789abcdef", "89ab89ab89ab89ab")
    uid = F.concat(
        F.substring(h, 1, 8), F.lit("-"),
        F.substring(h, 9, 4), F.lit("-3"),
        F.substring(h, 14, 3), F.lit("-"),
        variant, F.substring(h, 18, 3), F.lit("-"),
        F.substring(h, 21, 12))
    return df.withColumn(out_col, uid)
