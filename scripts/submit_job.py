"""spark-submit driver for the engine (north rule: "ships as spark-submit
--py-files modules").

Run:
    python scripts/package_pyfiles.py
    spark-submit --master local[8] \\
        --py-files dist/plateau_gis_converter_spark.zip \\
        scripts/submit_job.py --sf-dir /root/testdata/sf0.001 \\
        --job spatial_join --out /tmp/out

The script itself imports ONLY the zipped package (plus pyspark) — it is
the thin entrypoint a cluster deploy would ship next to the archive. On a
real cluster the same invocation runs with ``--master yarn``/``k8s`` and
the executors import the package from the distributed zip.

Jobs:
    spatial_join  geocode the derived pages → broadcast-PIP join against
                  the ward tessellation → per-ward page counts
    tile_assign   z7..15 square-tile explode + PMTiles Hilbert ids,
                  per-zoom tile counts

Each job writes its result as parquet under --out and prints one JSON
summary line (rows, output path) — the same contract bench.py uses.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession, functions as F


def _spark(app: str, shuffle_partitions: int) -> SparkSession:
    # mirrors plateau_gis_converter_spark.session.get_spark, but master &
    # resources come from spark-submit (cluster manager), not code
    builder = (SparkSession.builder.appName(app)
               .config("spark.sql.shuffle.partitions",
                       str(shuffle_partitions))
               .config("spark.sql.adaptive.enabled", "true")
               .config("spark.sql.adaptive.skewJoin.enabled", "true")
               .config("spark.sql.execution.arrow.pyspark.enabled", "true")
               .config("spark.sql.session.timeZone", "UTC"))
    return builder.getOrCreate()


def _pages(spark: SparkSession, sf_dir: str):
    """documents parquet → the derived Common-Crawl-style pages layer
    (url + text embedding deterministic geo coordinates), same derivation
    as plans/entry_queries/spatial.q_geocode."""
    from plateau_gis_converter_spark.functions import geo

    docs = spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet")
    lng, lat = geo.point_udeg_cols(F.col("doc_id"))
    return docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit("/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.format_string("地点 lat_udeg=%d lng_udeg=%d 東京", lat, lng)
        .alias("text"))


def job_spatial_join(spark: SparkSession, sf_dir: str):
    from plateau_gis_converter_spark.operators import geocode as gc
    from plateau_gis_converter_spark.operators import spatial_join as sj
    from plateau_gis_converter_spark.sources import fixtures as fx

    pts = gc.geocode_expr(_pages(spark, sf_dir))
    joined = sj.spatial_join_points(spark, pts, fx.tessellation_records())
    return (joined.groupBy("ward_code")
            .agg(F.count(F.lit(1)).alias("n_pages"))
            .orderBy("ward_code"))


def job_tile_assign(spark: SparkSession, sf_dir: str):
    from plateau_gis_converter_spark.operators import geocode as gc
    from plateau_gis_converter_spark.operators import tile_assign as ta

    pts = gc.geocode_expr(_pages(spark, sf_dir))
    tiles = ta.assign_point_tiles(pts, 7, 15, with_tile_id=True)
    return (tiles.groupBy("z")
            .agg(F.count(F.lit(1)).alias("n_tiles"),
                 F.min("tile_id").alias("min_tile_id"),
                 F.max("tile_id").alias("max_tile_id"))
            .orderBy("z"))


JOBS = {"spatial_join": job_spatial_join, "tile_assign": job_tile_assign}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--job", choices=sorted(JOBS), default="spatial_join")
    ap.add_argument("--out", required=True)
    ap.add_argument("--shuffle-partitions", type=int, default=32)
    args = ap.parse_args(argv)

    # plan-time validation BEFORE a SparkSession exists (reference
    # parameters/mod.rs parity): all violations reported at once
    from plateau_gis_converter_spark.parameters import SUBMIT_JOB

    SUBMIT_JOB.resolve({"sf_dir": args.sf_dir, "job": args.job,
                        "out": args.out,
                        "shuffle_partitions": args.shuffle_partitions})

    spark = _spark(f"plateau-gis-{args.job}", args.shuffle_partitions)
    try:
        result = JOBS[args.job](spark, args.sf_dir)
        out_path = f"{args.out.rstrip('/')}/{args.job}.parquet"
        result.write.mode("overwrite").parquet(out_path)
        n = spark.read.parquet(out_path).count()
        print(json.dumps({"job": args.job, "rows": n, "out": out_path}))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
