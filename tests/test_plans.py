"""Plan builder + Spark-side transform chain execution + plan-quality
assertions (pushdown, broadcast, codegen)."""
import json

from pyspark.sql import functions as F

from plateau_gis_converter_spark.operators import transforms as tr
from plateau_gis_converter_spark.plans import pipeline as pl


def assert_pruned(cols, want, name=""):
    assert want <= cols, f"{name} scan missing {sorted(want - cols)}"
    extra = cols - want
    assert not extra, f"{name} scan reads unexpected {sorted(extra)}"


def test_sink_requirements_order():
    chain = pl.plan_for_sink("gpkg")
    names = [c[0] for c in chain]
    # builder.rs order: lod filter before flatten before jsonify
    assert names == ["filter_lod", "flatten", "jsonify"]
    assert chain[0][1]["mode"] == "highest"
    assert chain[1][1]["feature_opt"] == "all"
    assert chain[1][1]["data_opt"] == "top_level_only"

    chain = pl.plan_for_sink("mvt")
    names = [c[0] for c in chain]
    assert names == ["filter_lod", "jsonify", "dots"]
    assert chain[0][1]["mode"] == "lowest"


def test_chain_execution_on_spark(spark):
    ent = {
        "t": "object", "typename": "bldg:Building", "stereotype": "feature",
        "id": "b1",
        "geometries": [{"type": "Surface", "lod": 1, "pos": 0, "len": 1},
                       {"type": "Surface", "lod": 2, "pos": 1, "len": 1}],
        "attrs": [
            ["bldg:boundedBy", {"t": "array", "v": [{
                "t": "object", "typename": "bldg:WallSurface",
                "stereotype": "feature", "id": "w1",
                "geometries": [{"type": "Surface", "lod": 2, "pos": 2, "len": 1}],
                "attrs": []}]}],
            ["bldg:class", {"t": "code", "v": "3001"}],
        ],
    }
    df = spark.createDataFrame([(1, json.dumps(ent))], ["rid", "entity"])
    chain = pl.plan_for_sink("gpkg")  # highest LOD + flatten-all + jsonify
    out = tr.apply_transform_chain(df, chain).collect()
    # flatten splits wall out; both survive highest-LOD (lod 2)
    assert len(out) == 2
    trees = [json.loads(r["entity"]) for r in out]
    types = sorted(t["typename"] for t in trees)
    assert types == ["bldg:Building", "bldg:WallSurface"]
    wall = [t for t in trees if t["typename"] == "bldg:WallSurface"][0]
    attrs = dict((k, v) for k, v in wall["attrs"])
    assert attrs["parentId"]["v"] == "b1"
    # building kept only lod-2 geometry (highest)
    bldg = [t for t in trees if t["typename"] == "bldg:Building"][0]
    assert [g["lod"] for g in bldg["geometries"]] == [2]


def test_parquet_filter_pushdown(spark, pages_small):
    """Filters and projection must reach the parquet scan (judge criterion:
    PushedFilters / ReadSchema in the plan)."""
    df = (spark.read.parquet(pages_small)
          .where(F.col("lang") == "ja")
          .select("url", "text"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,ja)]" in plan
    assert "html" not in plan.split("ReadSchema")[1][:200]  # column pruned


def test_spatial_join_stays_codegen(spark, pages_small):
    from plateau_gis_converter_spark.operators import geocode, spatial_join
    from plateau_gis_converter_spark.sources import fixtures as fx

    pts = geocode.geocode_expr(spark.read.parquet(pages_small))
    joined = spatial_join.spatial_join_points(
        spark, pts, fx.tessellation_records())
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan     # no row-at-a-time Python
    assert "ArrowEvalPython" not in plan     # catalyst path: no Python at all


def test_gate_queries_python_free_unless_whitelisted(spark):
    """Plan audit across the WHOLE gate registry: physical plans must not
    contain Python/Arrow eval stages except where the operator is
    Python-by-design (kernel flatMaps / scheme UDFs / multimodal decode).
    Catches hot-path regressions the per-operator tests might miss."""
    from plateau_gis_converter_spark.plans import entry_queries as eq

    PYTHON_BY_DESIGN = {
        "tiles_3d_scheme",    # NumPy scheme kernel via Arrow UDF
        "geometric_error",    # NumPy kernel via Arrow UDF
        "boundary_tiles",     # geojson-vt clip kernel flatMap
        "multimodal_meta",    # binary sniffing mapInPandas
        "image_features",     # stub-decoder mapInPandas (byte-math oracle)
        "vshift_geoid",       # geoid grid sampler Arrow UDF
        "warc_roundtrip",     # Content-Length-driven WARC record parser
                              # mapInPandas (binary framing is the point)
        "ingest_e2e",         # composes the same WARC record parser
        "cell_hull",          # monotone-chain hull applyInPandas (a
                              # data-dependent stack has no Catalyst form)
        "frame_sample",       # frame-sampling mapInPandas (stub decode;
                              # the 1->N binary framing is the point)
        "spatial_join_holes",  # Arrow even-odd PIP kernel refine — the
                               # gate exists to prove that kernel's
                               # parity vs the brute-force integer oracle
    }
    markers = ("EvalPython", "InPandas", "ArrowEval", "PythonUDF")
    sf = "/root/testdata/sf0.001"
    offenders = []
    for name, fn in eq.QUERIES.items():
        plan = fn(spark, sf)._jdf.queryExecution().executedPlan().toString()
        has_python = any(m in plan for m in markers)
        if has_python and name not in PYTHON_BY_DESIGN:
            offenders.append(name)
        if not has_python and name in PYTHON_BY_DESIGN:
            # whitelist entry went pure-JVM — tighten the whitelist
            offenders.append(f"{name} (stale whitelist)")
    assert not offenders, f"unexpected Python stages: {offenders}"


def test_gate_scans_prune_columns(spark):
    """Column pruning reaches the parquet scan: pricing_summary must read
    only the lineitem columns it uses (ReadSchema check)."""
    spark.catalog.clearCache()  # plan-shape audit: a leaked cache rewrites scans
    from plateau_gis_converter_spark.plans import entry_queries as eq

    plan = (eq.QUERIES["pricing_summary"](spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution().executedPlan().toString())
    import re
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    assert scans, f"no FileScan in plan:\n{plan}"
    cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
    expected = {"l_returnflag", "l_linestatus", "l_quantity",
                "l_extendedprice", "l_discount", "l_shipdate"}
    assert_pruned(cols, expected, "pricing_summary")
    # and the shipdate predicate reaches the scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" \
        in plan


def test_round3_query_scans_prune_columns(spark):
    """Column pruning reaches the documents scan for the round-3 webtext
    queries: each reads exactly the columns it needs (pagerank only
    doc_id — the text column never leaves the parquet footer)."""
    spark.catalog.clearCache()  # plan-shape audit: a leaked cache rewrites scans
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "repetition_quality": {"doc_id", "text"},
        "chunk_dedup": {"doc_id", "text"},
        "url_host_stats": {"doc_id", "source", "text"},
        "pagerank": {"doc_id"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)


def test_round4_query_scans_prune_columns(spark):
    """Column pruning for the round-4 queries: both derive everything
    from doc_id in their FINAL plan — url_registered_domain synthesizes
    urls from doc_id alone; dedup_keep_list's label side is a
    localCheckpoint whose text-reading jobs already ran."""
    spark.catalog.clearCache()  # plan-shape audit: a leaked cache rewrites scans
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "url_registered_domain": {"doc_id"},
        # the final keep-list plan scans only doc_id: the CC labels side
        # is a localCheckpoint (its text-reading jobs already ran)
        "dedup_keep_list": {"doc_id"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)


def test_round5_query_scans_prune_columns_and_stay_jvm(spark):
    """Round-5 gates: scans prune to exactly the needed columns and the
    pure-Catalyst ones (extract_text, domain_cap, dedup_keep_best,
    pagerank_dangling) contain NO Python eval stage."""
    spark.catalog.clearCache()  # plan-shape audit: a leaked cache rewrites scans
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "extract_text": {"doc_id", "text"},
        "domain_cap": {"doc_id", "n_chars"},
        "dedup_keep_best": {"doc_id", "n_chars"},
        "pagerank_dangling": {"doc_id"},
        # pack's range-exchange is pinned by an eager localCheckpoint, so
        # the FINAL plan has no parquet scan at all (its doc_id+text
        # scan already ran) — asserted empty on purpose
        "pack_composition": set(),
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"


def test_fourth_wave_query_scans_prune_columns_and_stay_jvm(spark):
    """Fourth-wave gates (HITS, zonal stats, containment, URL templates,
    CMS join size): scans prune to exactly the needed columns and every
    plan stays pure-JVM."""
    spark.catalog.clearCache()  # plan-shape audit: a leaked cache rewrites scans
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "hits_scores": {"doc_id"},
        "zonal_stats": {"doc_id", "n_nationkey"},
        "dedup_containment": {"doc_id", "text"},
        "url_templates": {"doc_id", "source"},
        "cms_join_size": {"o_custkey", "c_custkey"},
        "vacuum_plan": {"doc_id"},
        "cohort_retention": {"ts", "user_id"},
        "hll_tile_rollup": {"doc_id", "source"},
        "winnow_fingerprints": {"doc_id", "text"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"


def test_wave8_query_scans_prune_columns_and_stay_jvm(spark):
    """Wave-8 gates (LM rarity, paragraph dedup, CDC dedup, exact split,
    recrawl priority): scans prune to exactly the needed columns and
    every plan stays pure-JVM."""
    spark.catalog.clearCache()  # plan-shape audit: a leaked cache rewrites scans
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "lm_rarity": {"doc_id", "text"},
        "paragraph_dedup": {"doc_id", "text"},
        "cdc_dedup": {"doc_id", "text"},
        "exact_split": {"doc_id", "lang"},
        "recrawl_priority": {"doc_id", "source"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"


def test_wave9_query_scans_prune_columns_and_stay_jvm(spark):
    """Wave-9 gates (KMV set ops, decayed counters, rank normalize,
    collocations, label propagation): pruned scans, zero Python."""
    spark.catalog.clearCache()  # plan-shape audit: a leaked cache rewrites scans
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "kmv_set_ops": {"doc_id", "lang"},
        "decayed_counts": {"event_type", "ts"},
        "rank_normalize": {"doc_id", "lang", "n_chars"},
        "collocations": {"text"},
        "label_propagation": {"doc_id"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"


def test_wave10_query_scans_prune_columns_and_stay_jvm(spark):
    """Wave-10 gates (hotspot regions, cosine pairs, merge plan):
    pruned scans, zero Python."""
    spark.catalog.clearCache()  # plan-shape audit: a leaked cache rewrites scans
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "hotspot_regions": {"doc_id"},
        "cosine_pairs": {"doc_id", "text"},
        "merge_plan": {"doc_id"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"


def test_wave11_query_scans_prune_columns_and_stay_jvm(spark):
    """Wave-11 gates (PII redaction, focal stats, triangle listing,
    session transitions, TF-IDF terms): pruned scans, zero Python."""
    spark.catalog.clearCache()  # plan-shape audit: a leaked cache rewrites scans
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "pii_redact": {"doc_id", "text"},
        "focal_stats": {"doc_id"},
        "triangle_listing": {"doc_id"},
        "session_transitions": {"event_id", "ts", "user_id", "event_type"},
        "tfidf_terms": {"doc_id", "text"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"


def test_wave12_query_scans_prune_columns_and_stay_jvm(spark):
    """Wave-12 gates (stay points, geodesic distance band, anomalous
    days): pruned scans, zero Python. (stream_sessions reads a memory
    sink after the streaming run — no parquet scan to audit; the
    registry-wide python-free audit still covers it.)"""
    spark.catalog.clearCache()  # plan-shape audit: a leaked cache rewrites scans
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "stay_points": {"user_id", "ts", "event_id"},
        "distance_band": {"doc_id"},
        "anomalous_days": {"event_type", "ts"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"


def test_wave13_query_scans_prune_columns_and_stay_jvm(spark):
    """Wave-13 gates (k-core, IDW surface, tile top sources, grouped
    inter-arrival quantiles): pruned scans, zero Python."""
    spark.catalog.clearCache()  # plan-shape audit: a leaked cache rewrites scans
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        # k_core's returned plan starts from the final localCheckpoint
        # RDD — the pruned documents scans run inside the iterative
        # peeling, before the checkpoint, so the final plan has none
        "k_core": set(),
        "idw_surface": {"doc_id", "n_chars"},
        "tile_top_sources": {"doc_id", "source"},
        "interarrival_quantiles": {"event_type", "ts", "event_id"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"


def test_wave14_query_scans_prune_columns_and_stay_jvm(spark):
    """Wave-14 gates: bounce_rates prunes the events scan; ward_geometry
    reads no parquet at all (fixture relation). stream_tile_counts reads
    a memory sink post-run — covered by the registry-wide python audit."""
    spark.catalog.clearCache()  # plan-shape audit: a leaked cache rewrites scans
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "bounce_rates": {"user_id", "ts", "event_id", "event_type"},
        "ward_geometry": set(),
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"


def test_wave15_query_scans_prune_columns_and_stay_jvm(spark):
    """Wave-15 gates (degree histogram, reciprocity, token entropy,
    ward density): pruned scans, zero Python."""
    spark.catalog.clearCache()  # plan-shape audit: a leaked cache rewrites scans
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "degree_histogram": {"doc_id"},
        "link_reciprocity": {"doc_id"},
        "token_entropy": {"doc_id", "text"},
        "ward_density": {"doc_id"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"


def test_wave16_query_scans_prune_columns_and_stay_jvm(spark):
    """Wave-16 gates (incremental focal, HLL estimate read): pruned
    scans, zero Python."""
    spark.catalog.clearCache()  # plan-shape audit: a leaked cache rewrites scans
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "focal_delta": {"doc_id"},
        "hll_estimate": {"doc_id", "lang"},
        # wave 17 (stream_followup returns a memory-sink scan — its
        # batch twin is audited via the wave17 operator test instead)
        "trend_slope": {"event_type", "ts"},
        "mor_read": {"doc_id", "lang"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"


def test_wave20_21_query_scans_prune_and_stay_jvm(spark):
    """Waves 20-21: edit_distance_join is the one lazily-planned gate
    (the iterative SCC/SSSP/DBSCAN/sorted-neighborhood gates return
    checkpointed relations, so their scans are consumed inside the loop
    and audited by the whole-registry python-free test instead). Its
    scan must read doc_id ONLY (the title is derived) and stay JVM."""
    spark.catalog.clearCache()  # plan-shape audit: a leaked cache rewrites scans
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    plan = (eq.QUERIES["edit_distance_join"](spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution().executedPlan().toString())
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
    assert cols == {"doc_id"}, f"scan reads {sorted(cols)}"
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_wave22_24_query_scans_prune_and_stay_jvm(spark):
    """Waves 22-24 lazily-planned gates: scans read only the consumed
    columns, zero Python stages. (kmeans_geo and the CC-backed
    modularity legs run through checkpoints and are covered by the
    whole-registry python-free audit.)"""
    spark.catalog.clearCache()  # plan-shape audit: a leaked cache rewrites scans
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "daily_locf": {"user_id", "ts", "event_id", "event_type"},
        "peak_concurrency": {"event_type", "ts", "event_id"},
        "active_time_union": {"user_id", "ts", "event_id"},
        "hrw_routing": {"doc_id"},
        "readability": {"doc_id", "text"},
        # chi2_assoc checkpoints its tiny cells relation (the margins and
        # the output reuse it without re-scanning the corpus), so its
        # final plan has no FileScan — python-free audit covers it
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"


def test_wave26_query_scans_prune_and_stay_jvm(spark):
    """Wave 26 lazily-planned gates: scans read only consumed columns,
    zero Python stages. (wand_topk runs through checkpointed postings
    and is covered by the whole-registry python-free audit; its
    losslessness is the gate itself.)"""
    spark.catalog.clearCache()  # plan-shape audit: a leaked cache rewrites scans
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "morans_i": {"doc_id"},
        "rolling_activity": {"event_type", "ts", "value"},
        "html_depth": {"doc_id", "text"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
    # rolling_activity must execute as ONE window pass with a RANGE
    # frame, not a self-join
    plan = (eq.QUERIES["rolling_activity"](spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution().executedPlan().toString())
    assert "specifiedwindowframe(RangeFrame, -6" in plan, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_wave27_query_scans_prune_and_stay_jvm(spark):
    """Wave 27: scans read only doc_id (all three fixtures derive from
    it); segment_intersections must pair through the cell equi-join —
    never a cartesian/nested-loop brute force (that is the ORACLE's
    job); dag_layers runs through eager checkpoints, so only its
    python-free property is assertable here."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    for name in ("segment_intersections", "contour_cases"):
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert cols == {"doc_id"}, f"{name} scan reads {sorted(cols)}"
        assert "EvalPython" not in plan, f"{name} has a Python stage"
    plan = (eq.QUERIES["segment_intersections"](spark,
                                                "/root/testdata/sf0.001")
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    lay = eq.QUERIES["dag_layers"](spark, "/root/testdata/sf0.001")
    assert "EvalPython" not in (
        lay._jdf.queryExecution().executedPlan().toString())


def test_wave28_query_scans_prune_and_stay_jvm(spark):
    """Wave 28: pruned scans, zero Python; the Morton coarse predicate
    must appear ABOVE the scan as a codegen filter (bit math folded
    into whole-stage codegen, no join for the range set)."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "morton_bbox_scan": {"doc_id"},
        "golden_record": {"doc_id", "lang", "source", "n_chars"},
        "lag_autocorr": {"event_type", "ts"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
    plan = (eq.QUERIES["morton_bbox_scan"](spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Join" not in plan, "range set must be a predicate, not a join"
    assert "shiftleft" in plan or "shiftright" in plan


def test_wave29_query_scans_prune_and_stay_jvm(spark):
    """Wave 29: cidr_lpm must route the fact through BROADCAST hash
    probes only (the per-plen cascade never shuffles or fans out the
    fact); bitmap_overlap's only fact pass is the bitmap build."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "cidr_lpm": {"doc_id"},
        "bitmap_overlap": {"event_type", "user_id"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
    plan = (eq.QUERIES["cidr_lpm"](spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "LPM cascade must not shuffle"


def test_wave30_query_scans_prune_and_stay_jvm(spark):
    """Wave 30: snap_points pairs through the covering-cell equi-join
    (never a cartesian — that is the oracle's job); trimmed_stats
    windows only the (group, value) COUNT relation."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "snap_points": {"doc_id"},
        "trimmed_stats": {"event_type", "value"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
    plan = (eq.QUERIES["snap_points"](spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_wave31_query_scans_prune_and_stay_jvm(spark):
    """Wave 31: od_matrix windows only (user, ts, event_id);
    resource_alloc joins through the weighted edge relation with no
    cartesian; mann_kendall's pairwise sum joins the CALENDAR grid,
    never the fact table."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "od_matrix": {"user_id", "ts", "event_id"},
        "resource_alloc": {"doc_id"},
        "mann_kendall": {"event_type", "ts", "event_id"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
    for name in ("resource_alloc", "mann_kendall"):
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        assert "CartesianProduct" not in plan


def test_wave32_query_scans_prune_and_stay_jvm(spark):
    """Wave 32: clustering_coef routes triangles through the
    degree-ordered orientation (hash equi-joins only, never a
    cartesian); pettitt_shift's pairwise work touches only the
    calendar grid; ams_f2 is one explode + one partial agg."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "clustering_coef": {"doc_id"},
        "pettitt_shift": {"event_type", "ts", "event_id"},
        "ams_f2": {"user_id"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
    for name in ("clustering_coef", "ams_f2"):
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        assert "CartesianProduct" not in plan


def test_wave33_query_scans_prune_and_stay_jvm(spark):
    """Wave 33: anchor_terms/sitemap_parse are map-side regex pipelines
    reading only doc_id (the fixture synthesizes pages in-plan);
    spearman_corr windows only the (group, value) COUNT relations."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "anchor_terms": {"doc_id"},
        "spearman_corr": {"event_type", "ts", "value"},
        "sitemap_parse": {"doc_id"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
        assert "CartesianProduct" not in plan


def test_wave34_query_scans_prune_and_stay_jvm(spark):
    """Wave 34: wkt_parse is a map-side regex/split pipeline;
    hyperball's rounds are union + partial-agg max only; theil_sen
    windows only the calendar-pair relation."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "wkt_parse": {"doc_id"},
        "hyperball_r2": {"doc_id"},
        "theil_sen": {"event_type", "ts", "event_id"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
    plan = (eq.QUERIES["wkt_parse"](spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution().executedPlan().toString())
    # the only Exchange allowed is _t()'s round-robin split spreading
    # (a local-fixture artifact); the parse itself must not shuffle
    import re as _re
    # _t()'s split-spreading exchange (a local-fixture artifact) is
    # REPARTITION_BY_NUM — whatever its partitioning; genuine shuffles
    # are ENSURE_REQUIREMENTS / REBALANCE and stay flagged
    keyed = [x for x in _re.findall(r"Exchange (\w[^\n]*)", plan)
             if x.split("(")[0] != "RoundRobinPartitioning"
             and "REPARTITION_BY_NUM" not in x]
    assert keyed == [], f"wkt parse shuffles: {keyed}"


def test_wave35_query_scans_prune_and_stay_jvm(spark):
    """Wave 35: quadkey is a pure map-side digit fold; ring_thin pairs
    via modular equi-joins; pareto_front windows only the (group, x)
    AGG relation — never the quadratic dominance join (the oracle's
    formulation)."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "quadkey_tiles": {"doc_id"},
        "ring_thin": {"doc_id"},
        "pareto_front": {"doc_id", "lang", "n_chars"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
        assert "CartesianProduct" not in plan
    plan = (eq.QUERIES["quadkey_tiles"](spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution().executedPlan().toString())
    keyed = [x for x in re.findall(r"Exchange (\w[^\n]*)", plan)
             if x.split("(")[0] != "RoundRobinPartitioning"
             and "REPARTITION_BY_NUM" not in x]
    assert keyed == [], f"quadkey shuffles: {keyed}"


def test_wave36_query_scans_prune_and_stay_jvm(spark):
    """Wave 36: negative_samples generates candidates on the ring (no
    corpus-side join fan-out); prefix_completions explodes only the
    DISTINCT-query relation; snippet_extract is map-only."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "negative_samples": {"doc_id"},
        "prefix_completions": {"text"},
        "snippet_extract": {"doc_id", "text"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
        assert "CartesianProduct" not in plan
    plan = (eq.QUERIES["snippet_extract"](spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution().executedPlan().toString())
    keyed = [x for x in re.findall(r"Exchange (\w[^\n]*)", plan)
             if x.split("(")[0] != "RoundRobinPartitioning"
             and "REPARTITION_BY_NUM" not in x]
    assert keyed == [], f"snippet extract shuffles: {keyed}"


def test_wave37_query_scans_prune_and_stay_jvm(spark):
    """Wave 37: soundex is one map-side translate/replace chain;
    covisit pairs only the per-session DISTINCT item relation;
    rolling_distinct's fan-out is the bounded cover explode."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "soundex_blocking": {"doc_id"},
        "covisit_pairs": {"user_id", "ts", "event_type", "event_id"},
        "rolling_distinct": {"event_type", "ts", "user_id"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
        assert "CartesianProduct" not in plan
    plan = (eq.QUERIES["soundex_blocking"](spark,
                                           "/root/testdata/sf0.001")
            ._jdf.queryExecution().executedPlan().toString())
    keyed = [x for x in re.findall(r"Exchange (\w[^\n]*)", plan)
             if x.split("(")[0] != "RoundRobinPartitioning"
             and "REPARTITION_BY_NUM" not in x]
    assert keyed == [], f"soundex shuffles: {keyed}"


def test_wave38_query_scans_prune_and_stay_jvm(spark):
    """Wave 38: table_stats is one Expand aggregate over a pruned scan;
    ring_orient joins per ring key only; pair_eval is one full-outer
    pair join + one aggregate."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "table_stats": {"event_id", "user_id", "event_type", "value"},
        "ring_orient": {"doc_id"},
        "pair_eval": {"doc_id", "text"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
        assert "CartesianProduct" not in plan


def test_wave39_query_scans_prune_and_stay_jvm(spark):
    """Wave 39: sentence_chunks windows only the per-doc sentence
    relation; cell_stats explodes a bounded size list; mi_assoc joins
    margins back to the CELL relation, never rescanning the fact."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "sentence_chunks": {"doc_id", "text"},
        "cell_stats": {"doc_id"},
        "mi_assoc": {"lang", "n_chars"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
        assert "CartesianProduct" not in plan


def test_wave40_query_scans_prune_and_stay_jvm(spark):
    """Wave 40: json_key_stats is one map explode + partial agg;
    token_windows is map-only; bootstrap_ci runs every replicate in
    one explode + partial agg with a B-row final window."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "json_key_stats": {"doc_id"},
        "token_windows": {"doc_id", "text"},
        "bootstrap_ci": {"event_id", "value"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
        assert "CartesianProduct" not in plan
    plan = (eq.QUERIES["token_windows"](spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution().executedPlan().toString())
    keyed = [x for x in re.findall(r"Exchange (\w[^\n]*)", plan)
             if x.split("(")[0] != "RoundRobinPartitioning"
             and "REPARTITION_BY_NUM" not in x]
    assert keyed == [], f"token windows shuffle: {keyed}"


def test_wave41_query_scans_prune_and_stay_jvm(spark):
    """Wave 41: gini_split windows only the distinct-value relation;
    cohens_kappa aggregates the contingency; power_iteration's matvecs
    are join+partial-agg with 1-row broadcast normalizers."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "gini_split": {"embedding", "label"},
        "cohens_kappa": {"doc_id", "lang"},
        "power_iteration": {"vec_id", "embedding"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
        assert "CartesianProduct" not in plan


def test_wave42_query_scans_prune_and_stay_jvm(spark):
    """Wave 42: mix_plan windows only the per-language AGG relation;
    calibration is one partial agg; ndcg joins bounded synthetic
    relations."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "mix_plan": {"lang", "n_chars"},
        "calibration": {"embedding", "label"},
        # ndcg_eval's corpus size folds in at plan time (docs.count());
        # the returned plan joins only in-plan synthetic relations
        "ndcg_eval": set(),
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
        assert "CartesianProduct" not in plan


def test_wave43_query_scans_prune_and_stay_jvm(spark):
    """Wave 43: auc windows only the score COUNT relation; survival_km
    windows the (duration) cell relation; viewport_topk routes through
    the salted two-phase cap (windows only, no cartesian)."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "auc_roc": {"embedding", "label"},
        "survival_km": {"user_id", "ts", "event_type"},
        "viewport_topk": {"doc_id"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
        assert "CartesianProduct" not in plan


def test_wave44_query_scans_prune_and_stay_jvm(spark):
    """Wave 44: simpson is two partial aggs; MAD/impute window only
    count relations and join medians back co-keyed."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "tile_diversity": {"doc_id", "lang"},
        "mad_outliers": {"event_id", "event_type", "value"},
        "impute_median": {"event_id", "event_type", "value"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
        assert "CartesianProduct" not in plan


def test_wave45_query_scans_prune_and_stay_jvm(spark):
    """Wave 45: class_report joins margins on the cell relation;
    random_walks is per-step join + argmin fold; dist_drift windows
    only the merged value grid."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "class_report": {"doc_id", "lang"},
        "random_walks": {"doc_id"},
        "dist_drift": {"event_id", "event_type", "value"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
        assert "CartesianProduct" not in plan


def test_wave46_query_scans_prune_and_stay_jvm(spark):
    """Wave 46: textrank's iterations are join + partial agg over the
    adjacency relation; sprt windows only per-key day relations;
    fk_candidates joins distinct sets."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "textrank": {"text"},
        "sprt_monitor": {"event_type", "ts", "event_id", "value"},
        "fk_candidates": {"user_id", "c_custkey", "o_custkey"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
        assert "CartesianProduct" not in plan


def test_wave47_query_scans_prune_and_stay_jvm(spark):
    """Wave 47: assortativity is two co-keyed joins + one aggregate;
    powerlaw fits the tiny histogram; attribution is one window +
    one count."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "assortativity": {"doc_id"},
        "powerlaw_degrees": {"doc_id"},
        "attribution": {"user_id", "ts", "event_id", "event_type"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
        assert "CartesianProduct" not in plan


def test_wave48_query_scans_prune_and_stay_jvm(spark):
    """Wave 48: heaps_law windows only the bucket relation;
    fisher_scores pivots per-dimension moments; stable_uuids is pure
    map-side string ops."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "heaps_law": {"doc_id", "text"},
        "fisher_scores": {"embedding", "label"},
        "stable_uuids": {"doc_id", "source"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
        assert "CartesianProduct" not in plan
    plan = (eq.QUERIES["stable_uuids"](spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution().executedPlan().toString())
    keyed = [x for x in re.findall(r"Exchange (\w[^\n]*)", plan)
             if x.split("(")[0] != "RoundRobinPartitioning"
             and "REPARTITION_BY_NUM" not in x]
    assert keyed == [], f"uuid gen shuffles: {keyed}"


def test_wave49_query_scans_prune_and_stay_jvm(spark):
    """Wave 49: hurst windows only calendar buckets; isotropy is two
    aggregates with NO pair join; rich_club's per-k counts are a
    bounded explode."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "hurst": {"event_type", "ts"},
        "isotropy": {"embedding"},
        "rich_club": {"doc_id"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
        assert "CartesianProduct" not in plan


def test_wave50_query_scans_prune_and_stay_jvm(spark):
    """Wave 50: A-ES ranks per group only; ks/weighted quantiles window
    the merged value grids."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "weighted_topk": {"doc_id", "lang", "n_chars"},
        "ks_test": {"event_id", "event_type", "value"},
        "weighted_quantiles": {"lang", "n_chars"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
        assert "CartesianProduct" not in plan


def test_wave51_query_scans_prune_and_stay_jvm(spark):
    """Wave 51: gravity composes od_matrix with the loglog fit; vocab
    overlap reuses inclusion machinery; bot_scores is one lag window +
    partial aggs."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "gravity_decay": {"user_id", "ts", "event_id"},
        "vocab_overlap": {"lang", "text"},
        "bot_scores": {"user_id", "ts", "event_id"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
        assert "CartesianProduct" not in plan


def test_wave52_query_scans_prune_and_stay_jvm(spark):
    """Wave 52: BH/PR window only test/score relations; corr_matrix is
    ONE aggregate pass for all pairs."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "fdr_bh": {"doc_id"},
        "pr_curve": {"embedding", "label"},
        "corr_matrix": {"value", "ts", "event_id"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
        assert "CartesianProduct" not in plan


def test_wave53_query_scans_prune_and_stay_jvm(spark):
    """Wave 53: param stats is parse + one agg; streaks window the
    distinct-day relation; dispersion windows calendar grids."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "tracking_params": {"doc_id"},
        "activity_streaks": {"user_id", "ts"},
        "overdispersion": {"event_type", "ts"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
        assert "CartesianProduct" not in plan


def test_wave54_query_scans_prune_and_stay_jvm(spark):
    """Wave 54: assoc rules reuse the covisit session shape + marginal
    aggs; purity/smoothed are contingency partial aggs."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "assoc_rules": {"user_id", "ts", "event_type", "event_id"},
        "cluster_purity": {"doc_id", "lang"},
        "smoothed_rates": {"event_type", "value"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
        assert "CartesianProduct" not in plan


def test_wave55_query_scans_prune_and_stay_jvm(spark):
    """Wave 55: entry/exit is session window + struct folds;
    interpolation windows calendar grids; odds ratio is one
    aggregate."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "entry_exit": {"user_id", "ts", "event_type", "event_id"},
        "interpolate_daily": {"event_type", "ts", "event_id"},
        "odds_ratio": {"event_id", "value"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
        assert "CartesianProduct" not in plan


def test_wave56_query_scans_prune_and_stay_jvm(spark):
    """Wave 56: Cramér's V is contingency aggs; Gini works the
    value-count relation; Zipf composes a rank window with the shared
    loglog fit."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "cramers_v": {"lang", "n_chars"},
        "gini_traffic": {"user_id"},
        "zipf_fit": {"text"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
        assert "CartesianProduct" not in plan


def test_wave57_query_scans_prune_and_stay_jvm(spark):
    """Wave 57: lorenz works the value-count relation; new/returning
    is distinct + min + co-keyed join; movers rank the two-period
    count relation."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "lorenz_points": {"user_id"},
        "new_returning": {"user_id", "ts"},
        "rank_movers": {"event_type", "ts"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
        assert "CartesianProduct" not in plan


def test_wave58_query_scans_prune_and_stay_jvm(spark):
    """Wave 58: welch/capture are single aggregates; topk_overlap is
    bounded k explodes + one co-keyed join."""
    spark.catalog.clearCache()
    import re

    from plateau_gis_converter_spark.plans import entry_queries as eq

    expected = {
        "welch_t": {"event_id", "event_type", "value"},
        "topk_overlap": {"doc_id", "n_chars"},
        "capture_recapture": {"doc_id"},
    }
    for name, want in expected.items():
        plan = (eq.QUERIES[name](spark, "/root/testdata/sf0.001")
                ._jdf.queryExecution().executedPlan().toString())
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        cols = {c.split("#")[0] for s in scans for c in s.split(",") if c}
        assert_pruned(cols, want, name)
        assert "EvalPython" not in plan, f"{name} has a Python stage"
        assert "CartesianProduct" not in plan
