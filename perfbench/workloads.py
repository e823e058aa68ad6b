"""The benchmark's workloads. Each calls only the package's public functions
and gets only the seeded inputs of ``inputs``.

A workload provides ``stage`` (build or load its inputs in a session),
``rep`` (one timed repetition, returning its raw result), ``observe`` (turn a
raw result into what the checks compare), ``reference`` (computed once per
seed, outside the measured reps), ``check``/``corrupt`` (see ``checks``),
``rep_layers`` (per-rep layer figures from the rep results) and ``probes``
(layer calls timed alone, traced run only; they return metrics, extra checks
and the spans whose Spark job count is a metric).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time

import numpy as np

from . import checks, inputs

GEO_PAGES = 150_000          # pages per geo_tiles rep
WEB_PAGES = 50_000           # pages per web_pipeline probe run
CUR_DOCS = 5_000             # documents per curation rep: all of sf0.1
CUR_RATES = {"en": 800_000, "zh": 600_000, "es": 1_000_000,
             "fr": 250_000, "de": 500_000}
CUR_BUDGET = 512
KERNEL_N = 1_000_000


class GeoTiles:
    """Pages -> geocode -> broadcast spatial join with a per-ward count, and
    the same points -> z7..15 tiles with Hilbert ids, aggregated. Compute
    only: no sink, no lineage."""

    name = "geo_tiles"
    item = "pages"
    warmup_reps = 2
    reference_in_setup = False

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.items = GEO_PAGES

    def stage(self, spark) -> None:
        from plateau_gis_converter_spark.sources import fixtures as fx

        self.wards = fx.tessellation_records()
        self.pages = inputs.pages(spark, self.seed, self.items)

    def rep(self, spark, tr) -> dict:
        from pyspark.sql import functions as F

        from plateau_gis_converter_spark.operators import geocode as gc
        from plateau_gis_converter_spark.operators import spatial_join as sj
        from plateau_gis_converter_spark.operators import tile_assign as ta

        # geocode_expr only builds columns: page generation and geocode run
        # inside the join's and the tiles' collects, so both spans include
        # them (their cost alone is the operators.geocode.s probe)
        pts = gc.geocode_expr(self.pages)
        with tr.span("operators.spatial_join"):
            joined = sj.spatial_join_points(spark, pts, self.wards)
            rows = joined.groupBy("ward_code").count().collect()
        with tr.span("operators.tile_assign"):
            tiles = ta.assign_point_tiles(pts, *checks.TILE_ZOOMS,
                                          with_tile_id=True)
            agg = tiles.agg(F.count(F.lit(1)), F.sum("tile_id"),
                            F.sum("x"), F.sum("y")).collect()[0]
        return {"ward_counts": {r[0]: int(r[1]) for r in rows},
                "tiles": tuple(int(v) for v in agg)}

    def observe(self, result: dict) -> dict:
        return result

    def reference(self, spark, tr) -> dict:
        return checks.geo_reference(
            inputs.page_ids(self.seed, self.items), self.wards)

    check = staticmethod(checks.geo_checks)
    corrupt = staticmethod(checks.corrupt_geo)

    def rep_layers(self, observed: list[dict]) -> dict:
        return {}

    def probes(self, spark, tr, ref: dict) -> tuple[dict, list, dict]:
        """Layers timed alone: geocode, tiles without the Hilbert id, the
        join's candidate count, and a fresh + resumed web pipeline."""
        from pyspark.sql import functions as F

        from plateau_gis_converter_spark.functions import geo
        from plateau_gis_converter_spark.operators import geocode as gc
        from plateau_gis_converter_spark.operators import spatial_join as sj
        from plateau_gis_converter_spark.operators import tile_assign as ta

        m = {}
        with tr.span("operators.geocode", rep="probe"):
            pts = gc.geocode_expr(self.pages)
            pts.agg(F.sum("lng_udeg"), F.sum("lat_udeg")).collect()
        m["operators.geocode.s"] = tr.spans[-1]["dur"]
        with tr.span("operators.tile_assign.no_id", rep="probe"):
            ta.assign_point_tiles(pts, *checks.TILE_ZOOMS,
                                  with_tile_id=False).agg(
                F.count(F.lit(1)), F.sum("x"), F.sum("y")).collect()
        m["operators.tile_assign.no_id_s"] = tr.spans[-1]["dur"]

        with tr.span("operators.spatial_join.candidates", rep="probe"):
            idx = sj.boundary_cell_index(self.wards)
            cells = spark.createDataFrame(
                [(r["cell_x"], r["cell_y"], r["ward_code"]) for r in idx],
                "cell_x long, cell_y long, ward_code string").dropDuplicates()
            z = F.lit(sj.INDEX_ZOOM)
            pc = pts.select(
                geo.tile_x(z, geo.mercator_mx(
                    geo.udeg_to_deg(F.col("lng_udeg")))).alias("cell_x"),
                geo.tile_y(z, geo.mercator_my(
                    geo.udeg_to_deg(F.col("lat_udeg")))).alias("cell_y"))
            cand = pc.join(F.broadcast(cells), ["cell_x", "cell_y"]).count()
        m["operators.spatial_join.candidates_per_point"] = cand / self.items
        m["operators.spatial_join.match_ratio"] = (
            sum(ref["ward_counts"].values()) / cand)

        web_m, web_checks, resume_sid = self._web_pipeline(spark, tr)
        m.update(web_m)
        return m, web_checks, {"plans.web_pipeline.resume_jobs": resume_sid}

    def _web_pipeline(self, spark, tr) -> tuple[dict, list, int]:
        """plans.web_pipeline into an empty root, then a resume with the same
        run id, checked against the kernel reference."""
        from plateau_gis_converter_spark.plans import web_pipeline as wp

        out = os.path.join(self.work, "web")
        pages = inputs.pages(spark, self.seed, WEB_PAGES)
        run_id = f"web-{self.seed}"
        with tr.span("plans.web_pipeline.fresh", rep="probe"):
            fresh = wp.run_web_pipeline(spark, pages, out, run_id=run_id)
        fresh_s = tr.spans[-1]["dur"]
        files = glob.glob(os.path.join(out, "*", "*.parquet"))
        mtimes = {f: os.stat(f).st_mtime_ns for f in files}
        with tr.span("plans.web_pipeline.resume", rep="probe"):
            resumed = wp.run_web_pipeline(spark, pages, out, run_id=run_id)
        resume_sid = tr.spans[-1]["id"]
        ref = checks.geo_reference(inputs.page_ids(self.seed, WEB_PAGES),
                                   self.wards)["ward_counts"]
        rows = lineage_rows(out)
        total = sum(ref.values())
        ok = [
            ("web_ward_keys", fresh["ward_rows"] == len(ref)),
            ("web_row_totals",
             sum(r["rows_out"] for r in rows if r["stage"] == "ward_rows")
             == total == sum(r["rows_out"] for r in rows
                             if r["stage"] == "tile_rows")),
            ("web_resume_commits_nothing",
             resumed == {"ward_rows": 0, "tile_rows": 0}
             and {f: os.stat(f).st_mtime_ns for f in glob.glob(
                 os.path.join(out, "*", "*.parquet"))} == mtimes),
        ]
        return ({"plans.web_pipeline.fresh_s": fresh_s,
                 "plans.web_pipeline.resume_s": tr.spans[resume_sid]["dur"]},
                ok, resume_sid)


class Curation:
    """plans.curation_pipeline (MinHash-LSH keep-list -> stratified sample ->
    packing, per-key parquet sinks and lineage) into an empty root per rep.
    Bound by per-job overhead, not per-row work."""

    name = "curation"
    item = "docs"
    # one pipeline rep, then the direct operator path that the checks use as
    # reference; it runs the same operators, so it warms them as a rep would
    warmup_reps = 1
    reference_in_setup = True

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.items = CUR_DOCS
        self.run_id = f"cur-{seed}"
        self._reps = 0

    def stage(self, spark) -> None:
        self.docs = inputs.documents(spark, self.seed)

    def rep(self, spark, tr) -> dict:
        from plateau_gis_converter_spark.plans import curation_pipeline as cp

        self._reps += 1
        out = os.path.join(self.work, "cur", f"rep{self._reps}")
        with tr.span("plans.curation_pipeline"):
            committed = cp.run_curation_pipeline(
                spark, self.docs, out, run_id=self.run_id,
                rates_ppm=CUR_RATES, budget=CUR_BUDGET)
        return {"out": out, "committed": committed}

    def observe(self, result: dict) -> dict:
        obs = checks.curation_observe(result["out"], result["committed"])
        obs["lineage"] = lineage_rows(result["out"])
        shutil.rmtree(result["out"])
        return obs

    def reference(self, spark, tr) -> dict:
        """The direct operator path on pinned inputs (as the pipeline's own
        test computes it); in the traced run each call is a span."""
        from pyspark.sql import functions as F

        from plateau_gis_converter_spark.operators import dedup as dd
        from plateau_gis_converter_spark.operators import graph as gr
        from plateau_gis_converter_spark.operators import packing as pk
        from plateau_gis_converter_spark.operators import sampling as sp
        from plateau_gis_converter_spark.plans import curation_pipeline as cp

        docs = self.docs.persist()
        doc_ids = [r[0] for r in docs.select("doc_id").collect()]
        pinned = [docs]
        with tr.span("operators.dedup.minhash", rep="probe"):
            pairs = dd.minhash_dedup_pairs(docs, threshold=0.5).select(
                "doc_a", "doc_b").persist()
            self.n_pairs = pairs.count()
        with tr.span("operators.graph.cc", rep="probe"):
            comp = gr.connected_components(pairs).persist()
            comp.count()
        with tr.span("operators.dedup.keep_list", rep="probe"):
            keep = dd.dedup_keep_list(docs, comp).persist()
            kept = {r[0] for r in keep.where(F.col("kept"))
                    .select("doc_id").collect()}
        pinned += [pairs, comp, keep]
        kept_docs = docs.join(keep.where(F.col("kept")).select("doc_id"),
                              "doc_id").persist()
        kept_docs.count()
        with tr.span("operators.sampling", rep="probe"):
            sampled = (sp.stratified_sample(
                kept_docs, CUR_RATES, stratum_col="lang", key_col="doc_id",
                salt=self.run_id)
                .where(F.col("lang").isin(*CUR_RATES))
                .select("doc_id", "lang", "text").persist())
            sampled_pdf = sampled.toPandas()
        with tr.span("operators.packing", rep="probe"):
            packed_pdf = pk.pack_concat_chunks(
                sampled, budget=CUR_BUDGET).toPandas()
        pinned += [kept_docs, sampled]
        for df in pinned:
            df.unpersist()
        return checks.curation_reference(doc_ids, kept, sampled_pdf,
                                         packed_pdf, cp.N_SHARDS)

    check = staticmethod(checks.curation_checks)
    corrupt = staticmethod(checks.corrupt_curation)

    def rep_layers(self, observed: list[dict]) -> dict:
        """Sink figures from the lineage log each measured rep wrote."""
        per_rep = []
        for obs in observed:
            rows = obs["lineage"]
            per_rep.append((
                sum(r["wall_ms"] for r in rows) / 1e3, len(rows),
                sum(r["bytes_out"] for r in rows)
                / max(1, sum(r["rows_out"] for r in rows))))
        return {
            "plans.lineage.sink_s": statistics.median(p[0] for p in per_rep),
            "plans.lineage.keys": statistics.median(p[1] for p in per_rep),
            "plans.lineage.bytes_out_per_row":
                statistics.median(p[2] for p in per_rep),
        }

    def probes(self, spark, tr, ref: dict) -> tuple[dict, list, dict]:
        """The operators as ``reference`` ran them alone; the pipeline's
        overhead ratio is its median rep over their sum."""
        alone = {name: tr.by_name(name)[-1] for name in (
            "operators.dedup.minhash", "operators.graph.cc",
            "operators.dedup.keep_list", "operators.sampling",
            "operators.packing")}
        dur = {name: s["dur"] for name, s in alone.items()}
        rep_wall = statistics.median(
            s["dur"] for s in tr.by_name("rep", rep_only=True))
        return ({"operators.dedup.minhash_s": dur["operators.dedup.minhash"],
                 "operators.dedup.keep_list_s":
                     dur["operators.dedup.keep_list"],
                 "operators.dedup.pairs": self.n_pairs,
                 "operators.graph.cc_s": dur["operators.graph.cc"],
                 "operators.sampling.s": dur["operators.sampling"],
                 "operators.packing.s": dur["operators.packing"],
                 "plans.curation_pipeline.overhead_ratio":
                     rep_wall / sum(dur.values())},
                [], {"operators.graph.cc_jobs":
                     alone["operators.graph.cc"]["id"]})


WORKLOADS = {w.name: w for w in (GeoTiles, Curation)}


def lineage_rows(out_root: str) -> list[dict]:
    rows = []
    for path in sorted(glob.glob(os.path.join(out_root, "_lineage",
                                              "*.jsonl"))):
        with open(path) as fh:
            rows += [json.loads(line) for line in fh]
    return rows


def kernel_rates(seed: int) -> dict:
    """The NumPy kernels timed alone on seeded inputs (median of three)."""
    from plateau_gis_converter_spark.kernels import hilbert, pip
    from plateau_gis_converter_spark.sources import fixtures as fx

    rng = np.random.default_rng(seed % (1 << 63))
    x = rng.integers(0, 1 << 15, KERNEL_N)
    y = rng.integers(0, 1 << 15, KERNEL_N)
    lng, lat = fx.point_udeg_np(inputs.page_ids(seed, KERNEL_N))
    ring = np.asarray(fx.tessellation_records()[0]["rings_udeg"][0],
                      dtype=np.int64)

    def median_wall(fn):
        walls = []
        for _ in range(3):
            t = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t)
        return statistics.median(walls)

    return {
        "kernels.hilbert.ids_per_s":
            KERNEL_N / median_wall(lambda: hilbert.zxy_to_id(15, x, y)),
        "kernels.pip.points_per_s": KERNEL_N / median_wall(
            lambda: pip.points_in_convex_polygon_int(lng, lat, ring)),
    }
