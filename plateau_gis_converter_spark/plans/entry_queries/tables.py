"""Table-layout gates (``sources/``, ``operators/delta.py``): WARC
round trips, change capture, SCD2 history and dirty tiles, compaction,
vacuum, merge and merge-on-read plans, table, JSON-key and vocabulary
statistics, foreign-key candidates and stable UUIDs."""

from __future__ import annotations

from pyspark.sql import functions as F

from ...functions import geo
from ...sources import fixtures as fx
from ...sources.local import local_relation
from ._common import _cents, _cents_sql, _t, _tile_xy_sql, gate


SQL_WARC_ROUNDTRIP = """
SELECT doc_id,
       CAST(1577836800000000 + doc_id * 1000000 AS BIGINT) AS ts_us,
       CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
       md5(text) AS payload_md5
FROM documents
"""


@gate(SQL_WARC_ROUNDTRIP)
def q_warc_roundtrip(spark, sf_dir):
    """WARC ingestion round-trip (sources/warc.py): documents are packed
    into concatenated WARC/1.0 response records per archive file (pure
    Catalyst binary fold), then split back by the real Content-Length-
    driven mapInPandas parser. The oracle re-derives every parsed field
    (url->doc_id, WARC-Date->epoch micros, Content-Length, payload md5)
    directly from the documents table — so the gate proves the binary
    framing + header parse are exact, the same extraction-parity pattern
    as ``extract_text``."""
    from ...sources import warc as wc

    docs = _t(spark, sf_dir, "documents")
    files = wc.synth_warc_files(docs, docs_per_file=100)
    parsed = wc.parse_warc_records(files)
    return parsed.select(
        F.regexp_extract("url", r"doc/(\d+)$", 1).cast("bigint")
        .alias("doc_id"),
        "ts_us", "content_length",
        F.md5("payload").alias("payload_md5"))


SQL_CRAWL_DELTA = """
WITH old AS (
  SELECT 'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS url,
         md5(text) AS fp
  FROM documents),
new AS (
  SELECT 'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS url,
         md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END)
             AS fp
  FROM documents WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT 'https://example.org/doc/' || CAST(doc_id AS VARCHAR) || '/new',
         md5(text)
  FROM documents WHERE doc_id % 19 = 0)
SELECT coalesce(old.url, new.url) AS key,
  CASE WHEN old.url IS NULL THEN 'added'
       WHEN new.url IS NULL THEN 'removed'
       WHEN old.fp = new.fp THEN 'unchanged'
       ELSE 'changed' END AS status,
  coalesce(old.fp, '-') AS old_fp,
  coalesce(new.fp, '-') AS new_fp
FROM old FULL OUTER JOIN new ON old.url = new.url
"""


@gate(SQL_CRAWL_DELTA)
def q_crawl_delta(spark, sf_dir):
    """Crawl snapshot delta (operators/delta.py): two synthetic crawl
    snapshots derived from documents — doc_id % 17 == 0 removed,
    % 13 == 0 (and not removed) content-changed, % 19 == 0 re-added
    under a new url — classified added/removed/changed/unchanged by ONE
    full-outer join on url with md5 content fingerprints.  Oracle: the
    same snapshot derivation + DuckDB's FULL OUTER JOIN."""
    from ...operators import delta as dl

    docs = _t(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://example.org/doc/"),
                   F.col("doc_id").cast("string"))
    old = docs.select(url.alias("url"), F.md5("text").alias("fingerprint"))
    kept = (docs.where(F.col("doc_id") % 17 != 0)
            .select(url.alias("url"),
                    F.md5(F.when(F.col("doc_id") % 13 == 0,
                                 F.concat(F.col("text"), F.lit(" v2")))
                          .otherwise(F.col("text"))).alias("fingerprint")))
    added = (docs.where(F.col("doc_id") % 19 == 0)
             .select(F.concat(url, F.lit("/new")).alias("url"),
                     F.md5("text").alias("fingerprint")))
    new = kept.unionAll(added)
    return dl.crawl_delta(old, new).select(
        "key", "status",
        F.coalesce("old_fp", F.lit("-")).alias("old_fp"),
        F.coalesce("new_fp", F.lit("-")).alias("new_fp"))


SQL_SCD2_HISTORY = """
WITH hist_open AS (
  SELECT 'https://' || source || '/doc/' || CAST(doc_id AS VARCHAR) AS url,
         md5(text) AS fp, CAST(doc_id % 50 AS BIGINT) AS valid_from
  FROM documents WHERE doc_id % 19 <> 0),
hist_closed AS (
  SELECT 'https://' || source || '/doc/' || CAST(doc_id AS VARCHAR) AS url,
         md5(text || ' v0') AS fp, CAST(0 AS BIGINT) AS valid_from,
         CAST(doc_id % 50 AS BIGINT) AS valid_to
  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 19 <> 0),
snap AS (
  SELECT 'https://' || source || '/doc/' || CAST(doc_id AS VARCHAR) AS url,
         md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS fp
  FROM documents WHERE doc_id % 13 <> 0),
j AS (
  SELECT coalesce(o.url, s.url) AS url, o.fp, o.valid_from, s.fp AS snap_fp,
         o.url IS NOT NULL AS h, s.url IS NOT NULL AS sp
  FROM hist_open o FULL OUTER JOIN snap s ON o.url = s.url)
SELECT url, fp AS fingerprint, valid_from, valid_to FROM hist_closed
UNION ALL
SELECT url, fp, valid_from, CAST(-1 AS BIGINT)
FROM j WHERE h AND sp AND fp = snap_fp
UNION ALL
SELECT url, fp, valid_from, CAST(200 AS BIGINT)
FROM j WHERE h AND NOT (sp AND fp = snap_fp)
UNION ALL
SELECT url, snap_fp, CAST(200 AS BIGINT), CAST(-1 AS BIGINT)
FROM j WHERE sp AND NOT (h AND fp = snap_fp)
"""


@gate(SQL_SCD2_HISTORY)
def q_scd2_history(spark, sf_dir):
    """SCD-type-2 history merge (operators/delta.py): a prior history
    (open rows for doc_id % 19 != 0, plus closed v0 rows for % 7 == 0)
    folds in a snapshot at ts=200 where % 13 == 0 vanished and % 5 == 0
    changed content.  Exercises all five routes — carried closed rows,
    kept-open unchanged, close-on-change, close-on-remove, open-new —
    through one full-outer join + single-pass row explode.  Open rows
    surface as valid_to = -1 (the gate compare needs non-null bigints);
    oracle is an independent four-branch UNION ALL."""
    from ...operators import delta as dl

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(F.lit("https://"), F.col("source"),
                   F.lit("/doc/"), did.cast("string"))
    open_rows = (docs.where(did % 19 != 0)
                 .select(url.alias("url"), F.md5("text").alias("fingerprint"),
                         (did % 50).cast("bigint").alias("valid_from"),
                         F.lit(None).cast("bigint").alias("valid_to")))
    closed_rows = (docs.where((did % 7 == 0) & (did % 19 != 0))
                   .select(url.alias("url"),
                           F.md5(F.concat(F.col("text"), F.lit(" v0")))
                           .alias("fingerprint"),
                           F.lit(0).cast("bigint").alias("valid_from"),
                           (did % 50).cast("bigint").alias("valid_to")))
    history = open_rows.unionByName(closed_rows)
    snapshot = (docs.where(did % 13 != 0)
                .select(url.alias("url"),
                        F.md5(F.when(did % 5 == 0,
                                     F.concat(F.col("text"), F.lit(" v2")))
                              .otherwise(F.col("text"))).alias("fingerprint")))
    out = dl.scd2_history_merge(history, snapshot, ts=200)
    return out.select(
        "url", "fingerprint", "valid_from",
        F.coalesce("valid_to", F.lit(-1)).cast("bigint").alias("valid_to"))


SQL_COMPACTION_PLAN = """
WITH f AS (
  SELECT printf('part-%05d.parquet', doc_id) AS path,
         CAST(n_chars AS BIGINT) AS bytes
  FROM documents),
c AS (
  SELECT path, bytes,
         CAST(coalesce(sum(bytes) OVER (ORDER BY path
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              // 65536 AS BIGINT) AS task_id
  FROM f)
SELECT path, bytes, task_id,
       CAST(row_number() OVER (PARTITION BY task_id ORDER BY path) - 1
            AS BIGINT) AS task_seq
FROM c
"""


@gate(SQL_COMPACTION_PLAN)
def q_compaction_plan(spark, sf_dir):
    """Small-file compaction planning (sources/layout.compaction_plan):
    synthetic file listing (one 'file' per doc, bytes = n_chars),
    path-order cumulative packing at target 64 KiB — Spark's own
    FilePartition / OPTIMIZE bin rule; oracle re-derives the prefix-sum
    bucketing with window SQL."""
    from ...sources import layout as ly

    docs = _t(spark, sf_dir, "documents")
    files = docs.select(
        F.format_string("part-%05d.parquet", F.col("doc_id")).alias("path"),
        F.col("n_chars").alias("bytes"))
    return ly.compaction_plan(files, target_bytes=65536)


SQL_VACUUM_PLAN = """
WITH m AS (
  SELECT printf('data/part-%05d.parquet', doc_id) AS path,
         CAST(u.s AS BIGINT) AS snapshot_id
  FROM documents,
       UNNEST(range(doc_id % 8,
                    least(7, doc_id % 8 + doc_id % 3) + 1)) AS u(s))
SELECT path,
       CAST(min(snapshot_id) AS BIGINT) AS first_snapshot,
       CAST(max(snapshot_id) AS BIGINT) AS last_snapshot,
       CAST(count(*) AS BIGINT) AS n_refs,
       max(snapshot_id) < 5 AS deletable
FROM m GROUP BY 1
"""


@gate(SQL_VACUUM_PLAN)
def q_vacuum_plan(spark, sf_dir):
    """Snapshot-retention vacuum planning (sources/layout.vacuum_plan):
    synthetic snapshot log (8 snapshots) + manifest (each doc is a file
    referenced by a consecutive snapshot range [doc_id % 8,
    min(7, doc_id % 8 + doc_id % 3)]); retain the newest 3 snapshots and
    mark files unreachable from all of them deletable. The oracle
    re-derives the reference ranges with generate_series and the
    retained set with a scalar rank."""
    from ...sources import layout as ly

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    lo = (did % 8).alias("lo")
    hi = F.least(F.lit(7), did % 8 + did % 3).alias("hi")
    manifests = (docs.select(
        F.format_string("data/part-%05d.parquet", did).alias("path"),
        F.explode(F.sequence(lo, hi)).alias("snapshot_id")))
    snapshots = spark.range(0, 8).select(
        F.col("id").alias("snapshot_id"),
        F.expr("timestamp'2024-03-01 00:00:00' "
               "+ make_interval(0, 0, 0, 0, id)").alias("ts"))
    return ly.vacuum_plan(manifests, snapshots, retain_last=3)


def _dirty_tiles_sql() -> str:
    lng_o, lat_o = fx.point_udeg_sql("doc_id")
    lng_a, lat_a = fx.point_udeg_sql("(doc_id + 1000000)")
    tx, ty = _tile_xy_sql("z")
    return f"""
WITH old AS (
  SELECT 'doc/' || CAST(doc_id AS VARCHAR) AS key, md5(text) AS fp,
         {lng_o} AS lng, {lat_o} AS lat
  FROM documents),
new AS (
  SELECT 'doc/' || CAST(doc_id AS VARCHAR) AS key,
         md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END)
             AS fp,
         CASE WHEN doc_id % 13 = 0 THEN {lng_o} + 25000 ELSE {lng_o} END
             AS lng,
         {lat_o} AS lat
  FROM documents WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT 'doc/' || CAST(doc_id + 1000000 AS VARCHAR), md5(text),
         {lng_a}, {lat_a}
  FROM documents WHERE doc_id % 19 = 0),
j AS (
  SELECT old.fp AS ofp, new.fp AS nfp, old.lng AS olng, old.lat AS olat,
         new.lng AS nlng, new.lat AS nlat
  FROM old FULL OUTER JOIN new ON old.key = new.key),
dirty AS (
  SELECT * FROM j
  WHERE NOT (ofp IS NOT NULL AND nfp IS NOT NULL AND ofp = nfp
             AND olng = nlng AND olat = nlat)),
pts AS (
  SELECT DISTINCT lng_udeg, lat_udeg FROM (
    SELECT olng AS lng_udeg, olat AS lat_udeg FROM dirty
    UNION ALL
    SELECT nlng, nlat FROM dirty)
  WHERE lng_udeg IS NOT NULL AND lat_udeg IS NOT NULL),
zs AS (SELECT CAST(u.z AS INT) AS z FROM UNNEST(range(12, 15)) AS u(z))
SELECT DISTINCT z, {tx} AS x, {ty} AS y FROM pts, zs
"""


SQL_DIRTY_TILES = _dirty_tiles_sql()


@gate(SQL_DIRTY_TILES)
def q_dirty_tiles(spark, sf_dir):
    """Incremental re-render set (delta.dirty_tiles): the crawl delta
    routed into the tile pyramid — z12..14 tiles containing the NEW
    location of added/changed pages or the OLD location of
    removed/moved pages.  Changed docs both edit content (fp differs)
    AND move +25000 µdeg east, so both old and new tiles go dirty;
    oracle re-derives the full-outer delta + tile math in SQL."""
    from ...operators import delta as dl

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    lng, lat = geo.point_udeg_cols(did)
    url = F.concat(F.lit("doc/"), did.cast("string"))
    old = docs.select(url.alias("url"), F.md5("text").alias("fingerprint"),
                      lng, lat)
    lng_a, lat_a = geo.point_udeg_cols(did + 1000000)
    kept = (docs.where(did % 17 != 0)
            .select(url.alias("url"),
                    F.md5(F.when(did % 13 == 0,
                                 F.concat(F.col("text"), F.lit(" v2")))
                          .otherwise(F.col("text"))).alias("fingerprint"),
                    F.when(did % 13 == 0, lng + 25000).otherwise(lng)
                    .alias("lng_udeg"), lat))
    added = (docs.where(did % 19 == 0)
             .select(F.concat(F.lit("doc/"), (did + 1000000).cast("string"))
                     .alias("url"),
                     F.md5("text").alias("fingerprint"), lng_a, lat_a))
    new = kept.unionAll(added)
    return dl.dirty_tiles(old, new, 12, 14)


SQL_MERGE_PLAN = """
WITH files AS (
  SELECT CAST(i AS BIGINT) AS file_id,
         CAST(i * 1000 AS BIGINT) AS min_key,
         CAST(i * 1000 + 999 AS BIGINT) AS max_key,
         CAST(4096 + i AS BIGINT) AS bytes
  FROM UNNEST(range(0, 64)) AS u(i)
),
ks AS (SELECT DISTINCT (doc_id * 37) % 64000 AS k FROM documents),
hits AS (
  SELECT f.file_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM files f JOIN ks ON ks.k BETWEEN f.min_key AND f.max_key
  GROUP BY 1
)
SELECT files.file_id, files.min_key, files.max_key, files.bytes,
       coalesce(hits.n_hits, 0) AS n_hits,
       CAST(coalesce(hits.n_hits, 0) > 0 AS BIGINT) AS rewrite
FROM files LEFT JOIN hits ON files.file_id = hits.file_id
"""


@gate(SQL_MERGE_PLAN)
def q_merge_plan(spark, sf_dir):
    """Copy-on-write MERGE planning (sources/layout.merge_plan): 64
    synthetic data files covering contiguous key ranges; the update
    keyset ((doc_id * 37) % 64000) marks which files a MERGE INTO must
    rewrite (distinct in-range keys per file) and which carry over.
    Broadcast metadata range probe + one partial agg; oracle is an
    independent BETWEEN join."""
    from ...sources import layout as ly

    docs = _t(spark, sf_dir, "documents")
    files = spark.range(64).select(
        F.col("id").cast("bigint").alias("file_id"),
        (F.col("id") * 1000).cast("bigint").alias("min_key"),
        (F.col("id") * 1000 + 999).cast("bigint").alias("max_key"),
        (F.lit(1) * 4096 + F.col("id")).cast("bigint").alias("bytes"))
    updates = docs.select(((F.col("doc_id") * 37) % 64000).alias("key"))
    out = ly.merge_plan(files, updates)
    return out.select("file_id", "min_key", "max_key", "bytes", "n_hits",
                      F.col("rewrite").cast("int").cast("bigint")
                      .alias("rewrite"))


SQL_MOR_READ = """
WITH data AS (
  SELECT doc_id, lang,
         printf('data/f-%03d.parquet', doc_id // 50) AS file_path,
         CAST(doc_id % 50 AS BIGINT) AS pos,
         CAST(doc_id % 4 AS BIGINT) AS data_seq
  FROM documents),
pdel AS (
  SELECT printf('data/f-%03d.parquet', doc_id // 50) AS file_path,
         CAST(doc_id % 50 AS BIGINT) AS pos,
         CAST(doc_id % 5 AS BIGINT) AS delete_seq
  FROM documents WHERE doc_id % 7 = 0),
edel AS (SELECT * FROM (VALUES ('de', 2), ('fr', 5)) AS t(lang, delete_seq))
SELECT d.doc_id, d.lang, d.file_path, d.pos, d.data_seq
FROM data d
WHERE NOT EXISTS (SELECT 1 FROM pdel p
                  WHERE p.file_path = d.file_path AND p.pos = d.pos
                    AND p.delete_seq >= d.data_seq)
  AND NOT EXISTS (SELECT 1 FROM edel e
                  WHERE e.lang = d.lang AND e.delete_seq > d.data_seq)
"""


@gate(SQL_MOR_READ)
def q_mor_read(spark, sf_dir):
    """Merge-on-read scan (sources/layout.merge_on_read): Iceberg-v2
    positional + equality delete files applied at read time via two
    broadcast anti joins with the spec's sequence-number rules
    (positional: delete_seq >= data_seq; equality: strictly >). Fixture:
    each doc is row pos=doc_id%50 of file doc_id//50 committed at
    data_seq=doc_id%4; every 7th doc has a positional delete at
    delete_seq=doc_id%5 (so some deletes are OLDER than the data and
    must NOT apply); equality deletes kill lang='de' rows before seq 2
    and lang='fr' rows before seq 5. Oracle = double NOT EXISTS."""
    from ...sources import layout as ly

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    fp = F.format_string("data/f-%03d.parquet", (did / 50).cast("bigint"))
    data = docs.select(
        "doc_id", "lang", fp.alias("file_path"),
        (did % 50).cast("bigint").alias("pos"),
        (did % 4).cast("bigint").alias("data_seq"))
    pos_del = (docs.where(did % 7 == 0)
               .select(fp.alias("file_path"),
                       (did % 50).cast("bigint").alias("pos"),
                       (did % 5).cast("bigint").alias("delete_seq")))
    eq_del = local_relation(
        spark, [("de", 2), ("fr", 5)], "lang string, delete_seq bigint")
    return ly.merge_on_read(data, pos_del, eq_del, eq_cols=["lang"])


def _table_stats_sql() -> str:
    parts = []
    for c in ["event_id", "user_id", "event_type", "v_cents"]:
        parts.append(f"""
SELECT '{c}' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count({c}) AS BIGINT) AS n_nonnull,
       CAST(count(DISTINCT {c}) AS BIGINT) AS ndv,
       CAST(min({c}) AS VARCHAR) AS vmin,
       CAST(max({c}) AS VARCHAR) AS vmax
FROM ev""")
    return (f"WITH ev AS (SELECT event_id, user_id, event_type, "
            f"{_cents_sql('value')} AS v_cents FROM events)"
            + " UNION ALL ".join(parts))


SQL_TABLE_STATS = _table_stats_sql()


@gate(SQL_TABLE_STATS)
def q_table_stats(spark, sf_dir):
    """Catalog column statistics (sources/layout.table_stats): one-pass
    ANALYZE over four event columns — exact NDV via Spark's Expand,
    min/max stringified into the uniform stats schema. Oracle is the
    per-column UNION ALL restatement."""
    from ...sources import layout as ly

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        _cents("value").alias("v_cents"))
    return ly.table_stats(ev, ["event_id", "user_id", "event_type",
                               "v_cents"])


SQL_JSON_KEY_STATS = """
WITH j AS (
  SELECT '{"id": ' || CAST(doc_id AS VARCHAR)
         || ', "name": "w' || CAST(doc_id % 17 AS VARCHAR) || '"'
         || CASE WHEN doc_id % 3 = 0
                 THEN ', "score": ' || CAST(doc_id % 7 AS VARCHAR)
                      || '.5' ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ', "flag": ' || CASE WHEN doc_id % 2 = 0
                                           THEN 'true' ELSE 'false' END
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN ', "note": null' ELSE '' END
         || '}' AS js
  FROM documents),
k AS (SELECT js, unnest(json_keys(js)) AS key FROM j),
v AS (SELECT key, json_extract_string(js, '$.' || key) AS val FROM k),
t AS (SELECT key,
             CASE WHEN val IS NULL THEN 'null'
                  WHEN regexp_matches(val, '^-?[0-9]+$') THEN 'int'
                  WHEN regexp_matches(val, '^-?[0-9]+\\.[0-9]+$')
                      THEN 'float'
                  WHEN val IN ('true', 'false') THEN 'bool'
                  ELSE 'string' END AS vtype
      FROM v),
c AS (SELECT key, vtype, CAST(count(*) AS BIGINT) AS n
      FROM t GROUP BY 1, 2),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM j)
SELECT key, vtype, n,
       CAST(1000000 * sum(n) OVER (PARTITION BY key) // nn.n_rows
            AS BIGINT) AS share_ppm
FROM c, nn
"""


@gate(SQL_JSON_KEY_STATS)
def q_json_key_stats(spark, sf_dir):
    """JSON schema inference (sources/layout.json_key_stats): per-doc
    synthetic JSON sidecars with mixed types (int id, string name,
    float score on 1/3 of docs, bool flag on 1/5, explicit null on
    1/11) profiled into (key, vtype, n, share_ppm). Spark walks a
    from_json map; the oracle walks json_keys()/json_extract_string()
    — independent JSON machinery, shared anchored type-regex ladder."""
    from ...sources import layout as ly

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    js = F.concat(
        F.lit('{"id": '), did.cast("string"),
        F.lit(', "name": "w'), (did % 17).cast("string"), F.lit('"'),
        F.when(did % 3 == 0,
               F.concat(F.lit(', "score": '), (did % 7).cast("string"),
                        F.lit(".5"))).otherwise(F.lit("")),
        F.when(did % 5 == 0,
               F.concat(F.lit(', "flag": '),
                        F.when(did % 2 == 0, F.lit("true"))
                        .otherwise(F.lit("false")))).otherwise(F.lit("")),
        F.when(did % 11 == 0, F.lit(', "note": null'))
        .otherwise(F.lit("")),
        F.lit("}"))
    return ly.json_key_stats(docs.select(js.alias("props")),
                             json_col="props")


SQL_FK_CANDIDATES = """
WITH d AS (
  SELECT DISTINCT 'user' AS s, user_id AS v FROM events
  WHERE user_id IS NOT NULL
  UNION
  SELECT DISTINCT 'cust', c_custkey FROM customer
  WHERE c_custkey IS NOT NULL
  UNION
  SELECT DISTINCT 'ocust', o_custkey FROM orders
  WHERE o_custkey IS NOT NULL),
sizes AS (SELECT s, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
common AS (SELECT a.s AS set_a, b.s AS set_b,
                  CAST(count(*) AS BIGINT) AS n_common
           FROM d a JOIN d b ON a.v = b.v AND a.s <> b.s
           GROUP BY 1, 2)
SELECT set_a, set_b, sizes.n AS n_a, n_common,
       CAST(1000000 * n_common // sizes.n AS BIGINT)
           AS containment_ppm
FROM common JOIN sizes ON sizes.s = set_a
"""


@gate(SQL_FK_CANDIDATES)
def q_fk_candidates(spark, sf_dir):
    """Inclusion-dependency discovery (sources/layout.
    inclusion_coefficients): pairwise distinct-value containment
    between events.user_id, customer.c_custkey and orders.o_custkey —
    the FK-proposal profiling pass (o_custkey and user_id both fully
    contained in c_custkey). Oracle re-derives with its own distinct
    sets + joins."""
    from ...sources import layout as ly

    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    tagged = (ev.select(F.lit("user").alias("set_name"),
                        F.col("user_id").alias("v"))
              .unionAll(cust.select(F.lit("cust").alias("set_name"),
                                    F.col("c_custkey").alias("v")))
              .unionAll(orders.select(F.lit("ocust").alias("set_name"),
                                      F.col("o_custkey").alias("v"))))
    return ly.inclusion_coefficients(tagged)


SQL_STABLE_UUIDS = """
WITH named AS (
  SELECT doc_id,
         'https://' || source || '/doc/' || CAST(doc_id AS VARCHAR)
             AS url
  FROM documents),
h AS (SELECT doc_id, md5('spark-graft:' || url) AS x FROM named)
SELECT doc_id,
       substr(x, 1, 8) || '-' || substr(x, 9, 4) || '-3'
       || substr(x, 14, 3) || '-'
       || translate(substr(x, 17, 1), '0123456789abcdef',
                    '89ab89ab89ab89ab')
       || substr(x, 18, 3) || '-' || substr(x, 21, 12) AS uid
FROM h
"""


@gate(SQL_STABLE_UUIDS)
def q_stable_uuids(spark, sf_dir):
    """Deterministic record ids (sources/layout.uuid3_ids): UUIDv3-
    format ids from namespaced document urls — version nibble 3,
    variant via the translate('0..f' -> '89ab…') trick. Map-side
    only; oracle mirrors the layout."""
    from ...sources import layout as ly

    docs = _t(spark, sf_dir, "documents")
    named = docs.select(
        "doc_id",
        F.concat(F.lit("https://"), F.col("source"), F.lit("/doc/"),
                 F.col("doc_id").cast("string")).alias("url"))
    return ly.uuid3_ids(named, "url").select("doc_id", "uid")


SQL_VOCAB_OVERLAP = """
WITH d AS (
  SELECT DISTINCT lang AS s, u.tok AS v
  FROM (SELECT lang,
               list_filter(regexp_split_to_array(lower(trim(text)),
                                                 '[^a-z0-9_]+'),
                           x -> x <> '') AS t
        FROM documents WHERE lang IS NOT NULL) q,
       UNNEST(t) AS u(tok)),
sizes AS (SELECT s, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
common AS (SELECT a.s AS set_a, b.s AS set_b,
                  CAST(count(*) AS BIGINT) AS n_common
           FROM d a JOIN d b ON a.v = b.v AND a.s <> b.s
           GROUP BY 1, 2)
SELECT set_a, set_b, sizes.n AS n_a, n_common,
       CAST(1000000 * n_common // sizes.n AS BIGINT)
           AS containment_ppm
FROM common JOIN sizes ON sizes.s = set_a
"""


@gate(SQL_VOCAB_OVERLAP)
def q_vocab_overlap(spark, sf_dir):
    """Cross-language vocabulary containment (sources/layout.
    inclusion_coefficients REUSED over (lang, token) — operator
    generality: the FK-discovery machinery answering a corpus-
    linguistics question). Oracle re-derives distinct vocabularies and
    the directional containments."""
    from ...sources import layout as ly

    docs = (_t(spark, sf_dir, "documents")
            .where(F.col("lang").isNotNull()))
    toks = docs.select(
        F.col("lang").alias("set_name"),
        F.explode(F.filter(
            F.split(F.lower(F.trim(F.col("text"))), "[^a-z0-9_]+"),
            lambda t: t != "")).alias("v"))
    return ly.inclusion_coefficients(toks)
