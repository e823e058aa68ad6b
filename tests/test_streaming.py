"""Structured Streaming variants: file-source micro-batch over the fixture
pages; windowed tile counts and session windows with watermarks."""
import os

import pytest
from pyspark.sql import functions as F

from plateau_gis_converter_spark.sources import fixtures as fx
from plateau_gis_converter_spark.streaming import pipeline as sp


@pytest.fixture(scope="module")
def pages_stream_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_pages")
    fx.write_pages_parquet(str(d / "part-0.parquet"), 500)
    return str(d)


def test_streaming_tile_counts(spark, pages_stream_dir, tmp_path):
    static = spark.read.parquet(pages_stream_dir)
    stream = (spark.readStream.schema(static.schema)
              .parquet(pages_stream_dir))
    agg = sp.streaming_tile_counts(stream, zoom=12, window="10 minutes",
                                   watermark="20 minutes")
    q = (agg.writeStream.format("memory").queryName("tile_counts")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    # no optimized-plan Filter re-runs the geocode (a pushed null filter
    # would inline its regex once per filter term)
    plan = (q._jsq.streamingQuery().lastExecution().optimizedPlan()
            .toString())
    filters = [ln for ln in plan.splitlines()
               if ln.lstrip(" :+-~").startswith("Filter")]
    assert not [f for f in filters if "regexp_extract" in f], filters
    out = spark.sql("SELECT * FROM tile_counts").toPandas()
    assert len(out) > 0
    assert out["n_pages"].sum() == 500  # every page in exactly one z12 tile
    # streaming result == batch result per tile
    from plateau_gis_converter_spark.functions import geo
    from plateau_gis_converter_spark.operators.geocode import geocode_expr
    z = F.lit(12)
    g = geocode_expr(static)
    mx = geo.mercator_mx(geo.udeg_to_deg(F.col("lng_udeg")))
    my = geo.mercator_my(geo.udeg_to_deg(F.col("lat_udeg")))
    batch = (g.withColumn("x", geo.tile_x(z, mx))
             .withColumn("y", geo.tile_y(z, my))
             .groupBy("x", "y").agg(F.count(F.lit(1)).alias("n_pages"))
             .toPandas())
    a = out.groupby(["x", "y"])["n_pages"].sum().to_dict()
    b = {(r.x, r.y): r.n_pages for r in batch.itertuples(index=False)}
    assert a == b


def test_streaming_sessionize(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    import numpy as np

    d = tmp_path / "events"
    d.mkdir()
    base = np.datetime64("2024-01-01T00:00:00", "us")
    rows = {
        "ts": [base + np.timedelta64(m, "m") for m in
               [0, 5, 10, 120, 125, 0, 200]],
        "user_id": [1, 1, 1, 1, 1, 2, 2],
        "value": [1.0] * 7,
    }
    pq.write_table(pa.table(rows), str(d / "p.parquet"))
    static = spark.read.parquet(str(d))
    stream = spark.readStream.schema(static.schema).parquet(str(d))
    agg = sp.streaming_sessionize(stream, gap="30 minutes")
    q = (agg.writeStream.format("memory").queryName("sessions")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = spark.sql("SELECT user_id, n_events FROM sessions").toPandas()
    by_user = out.groupby("user_id").size().to_dict()
    assert by_user == {1: 2, 2: 2}  # user1: 2 sessions, user2: 2 sessions


def test_streaming_dedup_first_seen_across_batches(spark, tmp_path):
    """applyInPandasWithState keyed state survives micro-batches: a
    fingerprint seen in batch 1 is suppressed when it reappears in batch 2."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "pages"
    d.mkdir()

    def write_batch(name, rows):
        pq.write_table(pa.table({
            "url": pa.array([r[0] for r in rows]),
            "text": pa.array([r[1] for r in rows]),
        }), str(d / name))

    write_batch("b0.parquet", [("u1", "alpha"), ("u2", "beta"),
                               ("u3", "alpha")])
    schema = "url string, text string"
    stream = spark.readStream.schema(schema).parquet(str(d))
    out = sp.streaming_dedup_first_seen(stream)
    q = (out.writeStream.format("memory").queryName("first_seen")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        q.processAllAvailable()
        got1 = spark.sql("SELECT * FROM first_seen").toPandas()
        # batch 1: alpha (first u1, dup u3 counted) + beta
        assert len(got1) == 2
        alpha = got1[got1.url == "u1"]
        assert len(alpha) == 1 and int(alpha["n_dups_so_far"].iloc[0]) == 2
        # batch 2: alpha AGAIN (must be suppressed) + gamma (new)
        write_batch("b1.parquet", [("u4", "alpha"), ("u5", "gamma")])
        q.processAllAvailable()
        got2 = spark.sql("SELECT * FROM first_seen").toPandas()
        assert len(got2) == 3
        assert set(got2["url"]) == {"u1", "u2", "u5"}
    finally:
        q.stop()


def test_streaming_dedup_ttl_evicts_and_reemits(spark, tmp_path):
    """VERDICT r4 #4: with ttl_ms, a fingerprint idle past the TTL is
    evicted by its ProcessingTimeTimeout callback (fired by a later
    batch that carries no data for the key), and a subsequent duplicate
    re-emits as a fresh first-seen — bounded state, documented recall
    trade. Without ttl the same sequence stays suppressed (exact mode,
    covered by the test above)."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "pages"
    d.mkdir()

    def write_batch(name, rows):
        pq.write_table(pa.table({
            "url": pa.array([r[0] for r in rows]),
            "text": pa.array([r[1] for r in rows]),
        }), str(d / name))

    write_batch("b0.parquet", [("u1", "alpha")])
    schema = "url string, text string"
    stream = spark.readStream.schema(schema).parquet(str(d))
    out = sp.streaming_dedup_first_seen(stream, ttl_ms=1000)
    q = (out.writeStream.format("memory").queryName("first_seen_ttl")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())

    # NOTE: with ProcessingTimeTimeout the engine intentionally never
    # quiesces (FlatMapGroupsWithStateExec.shouldRunAnotherBatch is
    # always true so processing-time timers can fire on empty batches),
    # so processAllAvailable() NEVER RETURNS — poll the sink instead.
    def wait_rows(n, timeout=120):
        t0 = time.time()
        got = None
        while time.time() - t0 < timeout:
            got = spark.sql("SELECT * FROM first_seen_ttl").toPandas()
            if len(got) >= n:
                return got
            time.sleep(0.5)
        raise AssertionError(f"waiting for {n} rows, have: {got}")

    try:
        got = wait_rows(1)
        assert set(got["url"]) == {"u1"}
        # let alpha's TTL lapse: its timeout callback fires in one of the
        # engine's continuous empty batches and evicts the state
        time.sleep(2.5)
        write_batch("b1.parquet", [("u2", "beta")])
        got = wait_rows(2)
        assert set(got["url"]) == {"u1", "u2"}
        # alpha returns after eviction -> re-emitted as a fresh first-seen
        write_batch("b2.parquet", [("u3", "alpha")])
        got = wait_rows(3)
        assert set(got["url"]) == {"u1", "u2", "u3"}
        alpha = got[got.fingerprint == got[got.url == "u1"]
                    .fingerprint.iloc[0]]
        assert len(alpha) == 2        # alpha emitted twice across the TTL
    finally:
        q.stop()


def test_streaming_dirty_tiles_suppresses_repeat_tiles(spark, tmp_path):
    """delta.dirty_tiles's streaming form: a tile goes dirty ONCE per
    run — a second batch of updates landing in an already-dirty tile
    emits nothing, a batch reaching a fresh tile emits it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "updates"
    d.mkdir()

    # z12 tile width = 360/4096 deg ≈ 87891 µdeg: the first two points
    # share a tile, the third is ~3 tiles east, the fourth further yet
    def write_batch(name, coords):
        pq.write_table(pa.table({
            "lng_udeg": pa.array([c[0] for c in coords], pa.int64()),
            "lat_udeg": pa.array([c[1] for c in coords], pa.int64()),
        }), str(d / name))

    base = (139_700_000, 35_680_000)
    write_batch("b0.parquet", [base, (base[0] + 1000, base[1] + 1000)])
    stream = spark.readStream.schema("lng_udeg long, lat_udeg long") \
        .parquet(str(d))
    out = sp.streaming_dirty_tiles(stream, zoom=12)
    q = (out.writeStream.format("memory").queryName("dirty_tiles_t")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        q.processAllAvailable()
        got1 = spark.sql("SELECT * FROM dirty_tiles_t").toPandas()
        assert len(got1) == 1 and int(got1["n_updates"].iloc[0]) == 2
        # batch 2: same tile again (suppressed) + one new tile east
        write_batch("b1.parquet", [base, (base[0] + 300_000, base[1])])
        q.processAllAvailable()
        got2 = spark.sql("SELECT * FROM dirty_tiles_t").toPandas()
        assert len(got2) == 2
        assert got2["n_updates"].tolist().count(1) == 1
        xs = sorted(got2["x"].tolist())
        assert xs[1] > xs[0]  # the new tile is strictly east
    finally:
        q.stop()


def test_streaming_windowed_counts_emission_rule(spark, tmp_path):
    """Append-mode finalization: with max ts = 02:00 and a 1h watermark,
    the [00:00,01:00) window (end == watermark EXACTLY) emits — the
    inclusive-equality rule the gate oracle encodes — while [01:00,02:00)
    and [02:00,03:00) are withheld in state; counts and the quantized
    value sum aggregate correctly across two files (two micro-batches
    worth of input)."""
    d = tmp_path / "events"
    rows1 = [("2024-01-01 00:10:00", "a", 1.004),
             ("2024-01-01 00:40:00", "a", 2.006),
             ("2024-01-01 01:30:00", "b", 5.0)]
    rows2 = [("2024-01-01 00:20:00", "b", 0.5),   # late into hour 0
             ("2024-01-01 02:00:00", "a", 9.0)]   # advances the watermark

    def write(rows, name):
        (spark.createDataFrame(rows, "tss string, event_type string, "
                               "value double")
         .select(F.to_timestamp("tss").alias("ts"), "event_type", "value")
         .coalesce(1).write.mode("append").parquet(str(d)))

    write(rows1, "f1")
    write(rows2, "f2")

    stream = (spark.readStream
              .schema("ts timestamp, event_type string, value double")
              .parquet(str(d)))
    out = sp.streaming_windowed_counts(stream, window="1 hour",
                                       watermark="1 hour")
    q = (out.writeStream.format("memory").queryName("winc")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(str(r["window_start"]), r["event_type"]):
           (r["n"], r["sum_value_cents"])
           for r in spark.sql("SELECT * FROM winc").collect()}
    # only hour 0 finalized (end 01:00 == watermark 02:00 - 1h)
    assert got == {
        ("2024-01-01 00:00:00", "a"): (2, 301),   # floor(100.4+.5)+floor(200.6+.5)
        ("2024-01-01 00:00:00", "b"): (1, 50),
    }


def test_streaming_sessionize_append_emission_boundaries(spark, tmp_path):
    """Append-mode session emission (probed rules the gate oracle relies
    on): (a) two events exactly gap apart MERGE into one session whose
    end is last-event + gap; (b) a session whose end equals the final
    watermark (ms_floor(max ts) - delay) IS emitted (inclusive); (c) a
    session ending past the watermark stays in state (not emitted)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "events_sess"
    d.mkdir()
    base = np.datetime64("2024-01-01T00:00:00", "us")
    rows = {
        # user 1: 0 & 30 min apart exactly -> ONE session [0, 60);
        #   end 60 == wm (max 120 - 60) -> emitted (inclusive)
        # user 2: event at 90 -> session [90, 120) ends past wm -> held
        # user 3: max-ts anchor at 120 -> session [120, 150) held
        "ts": [base + np.timedelta64(m, "m") for m in [0, 30, 90, 120]],
        "user_id": [1, 1, 2, 3],
        "value": [1.5, 2.25, 1.0, 1.0],
    }
    pq.write_table(pa.table(rows), str(d / "p.parquet"))
    static = spark.read.parquet(str(d))
    stream = spark.readStream.schema(static.schema).parquet(str(d))
    agg = sp.streaming_sessionize(stream, gap="30 minutes",
                                  watermark="1 hour")
    q = (agg.writeStream.format("memory").queryName("sess_append")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM sess_append").collect()
    assert len(out) == 1
    r = out[0]
    assert r["user_id"] == 1 and r["n_events"] == 2
    assert r["sum_value_cents"] == 150 + 225
    assert (r["session_end"] - r["session_start"]).total_seconds() == 3600

