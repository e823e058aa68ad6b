"""Deterministic synthetic fixtures (FIXTURES.md): Common-Crawl-style
``pages`` and tokyo23-ku-style ``boundaries``.

Everything is **pure integer arithmetic on seeds/ids** so the same rows can be
derived bit-identically in PySpark (Catalyst expressions), in DuckDB (the
correctness oracle), in NumPy (golden generators), and across runs — the
"byte-identical text per url" invariant of BASELINE.json falls out of this.

Coordinates are integer **micro-degrees** (µdeg): exact int64 arithmetic, no
float drift between engines. The tokyo23-ku bounding box is
139.56–139.92 E × 35.52–35.82 N (FIXTURES.md §1).

The 23 ward polygons tessellate the bbox exactly: 5 latitude rows of
[5,5,5,4,4] trapezoids whose slanted shared edges are deterministically
jittered — convex quads, exact shared borders, CCW in (lng, lat) which is
front-facing (CW, negative signed shoelace) in y-down web-mercator coords (the reference's front-face convention,
nusamai/src/sink/mvt/slice.rs:54-57). Two extra overlay polygons carry holes
to exercise interior-ring slicing (they are NOT part of the join tessellation).
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# bbox and skew constants (FIXTURES.md §1)
# ---------------------------------------------------------------------------
LNG_MIN = 139_560_000  # µdeg
LNG_MAX = 139_920_000
LAT_MIN = 35_520_000
LAT_MAX = 35_820_000
LNG_SPAN = LNG_MAX - LNG_MIN  # 360,000
LAT_SPAN = LAT_MAX - LAT_MIN  # 300,000

# 3 dense hot-spot centers (Shinjuku / Shibuya / Chiyoda analogs) — 40% of
# points concentrate here to exercise skew handling (salting / AQE).
DENSE_CENTERS = [
    (139_700_000, 35_690_000),
    (139_700_000, 35_660_000),
    (139_750_000, 35_690_000),
]
DENSE_HALF = 8_000  # ±0.008° around the hot-spot center

ROW_COLS = [5, 5, 5, 4, 4]  # 23 wards
N_ROWS = len(ROW_COLS)
ROW_LAT_STEP = LAT_SPAN // N_ROWS  # 60,000
JITTER_AMP = 12_000  # ±0.012° jitter of interior column cuts


# ---------------------------------------------------------------------------
# point derivation from an integer id (shared Spark/DuckDB/NumPy formula)
# ---------------------------------------------------------------------------
# lng0 = LNG_MIN + (id*40503) % LNG_SPAN ; lat0 = LAT_MIN + (id*69069) % LAT_SPAN
# if id % 10 < 4: snap into dense cell (id % 10) % 3 with ±DENSE_HALF offsets
#   off_lng = (id*48271) % (2*DENSE_HALF+1) - DENSE_HALF
#   off_lat = (id*16807) % (2*DENSE_HALF+1) - DENSE_HALF

def point_udeg_np(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    ids = np.asarray(ids, dtype=np.int64)
    lng = LNG_MIN + (ids * 40503) % LNG_SPAN
    lat = LAT_MIN + (ids * 69069) % LAT_SPAN
    dense = (ids % 10) < 4
    ci = (ids % 10) % 3
    clng = np.array([c[0] for c in DENSE_CENTERS], dtype=np.int64)[ci]
    clat = np.array([c[1] for c in DENSE_CENTERS], dtype=np.int64)[ci]
    dlng = clng + (ids * 48271) % (2 * DENSE_HALF + 1) - DENSE_HALF
    dlat = clat + (ids * 16807) % (2 * DENSE_HALF + 1) - DENSE_HALF
    return np.where(dense, dlng, lng), np.where(dense, dlat, lat)


def point_udeg_sql(id_expr: str) -> tuple[str, str]:
    """The same derivation as ANSI SQL (valid in both Spark SQL and DuckDB)."""
    lng = f"(CAST({LNG_MIN} AS BIGINT) + ({id_expr} * 40503) % {LNG_SPAN})"
    lat = f"(CAST({LAT_MIN} AS BIGINT) + ({id_expr} * 69069) % {LAT_SPAN})"
    ci = f"(({id_expr} % 10) % 3)"
    clng = (f"(CASE {ci} WHEN 0 THEN {DENSE_CENTERS[0][0]} "
            f"WHEN 1 THEN {DENSE_CENTERS[1][0]} ELSE {DENSE_CENTERS[2][0]} END)")
    clat = (f"(CASE {ci} WHEN 0 THEN {DENSE_CENTERS[0][1]} "
            f"WHEN 1 THEN {DENSE_CENTERS[1][1]} ELSE {DENSE_CENTERS[2][1]} END)")
    m = 2 * DENSE_HALF + 1
    dlng = f"({clng} + ({id_expr} * 48271) % {m} - {DENSE_HALF})"
    dlat = f"({clat} + ({id_expr} * 16807) % {m} - {DENSE_HALF})"
    lng_out = f"(CASE WHEN ({id_expr} % 10) < 4 THEN {dlng} ELSE {lng} END)"
    lat_out = f"(CASE WHEN ({id_expr} % 10) < 4 THEN {dlat} ELSE {lat} END)"
    return lng_out, lat_out


# ---------------------------------------------------------------------------
# ward boundary tessellation
# ---------------------------------------------------------------------------

def _jitter(r: int, j: int, k: int) -> int:
    """Deterministic jitter of interior cut j (row r, k=0 top / k=1 bottom)."""
    return (r * 7919 + j * 104_729 + k * 1_299_721) % (2 * JITTER_AMP + 1) - JITTER_AMP


def _row_cuts(r: int, ncols: int, k: int) -> list[int]:
    """x cut positions (µdeg) along the row's top (k=0) / bottom (k=1) edge."""
    cuts = []
    for j in range(ncols + 1):
        base = LNG_MIN + j * LNG_SPAN // ncols
        if 0 < j < ncols:
            base += _jitter(r, j, k)
        cuts.append(base)
    return cuts


def _oriented_ring(ring: list[tuple[int, int]], ccw: bool) -> list[tuple[int, int]]:
    """Orient a ring in the (lng, lat) plane by its shoelace sign.

    Exteriors must be CCW-in-lnglat (positive shoelace): web-mercator flips
    y, so that is CW == NEGATIVE signed area in normalized mercator — the
    reference's front-facing exterior (`is_cw()` == signed_ring_area() < 0,
    linestring.rs:116-118; cull at slice.rs:54-57). Holes use the opposite
    winding (MVT interior-ring convention; after the slicer's ring reversal
    the encoder admits interiors iff is_cw, mod.rs:414)."""
    area = 0
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        area += x1 * y2 - x2 * y1
    if ccw:
        return ring if area > 0 else ring[::-1]
    return ring if area < 0 else ring[::-1]


def boundaries_records() -> list[dict]:
    """23 tessellation quads + 2 hole-bearing overlay polygons.

    Returns dicts with: ward_code, ward_name, typename, feature_id,
    rings_udeg (list of rings, each list of (lng_µdeg, lat_µdeg), exterior
    first, exterior CCW in lnglat == front-facing CW in mercator; holes
    opposite winding), attributes (dict).
    """
    recs = []
    idx = 0
    for r, ncols in enumerate(ROW_COLS):
        lat_top = LAT_MAX - r * ROW_LAT_STEP
        lat_bot = lat_top - ROW_LAT_STEP
        cuts_top = _row_cuts(r, ncols, 0)
        cuts_bot = _row_cuts(r, ncols, 1)
        for c in range(ncols):
            idx += 1
            ward_code = f"131{idx:02d}"
            ring = _oriented_ring([
                (cuts_top[c], lat_top), (cuts_top[c + 1], lat_top),
                (cuts_bot[c + 1], lat_bot), (cuts_bot[c], lat_bot),
            ], ccw=True)
            recs.append({
                "ward_code": ward_code,
                "ward_name": f"ward{idx:02d}",
                "typename": "urf:UrbanPlanningArea",
                "feature_id": f"urf_{ward_code}",
                "rings_udeg": [list(ring)],
                "attributes": {
                    "urf:function": "residential" if idx % 2 else "commercial",
                    "urf:validFrom": f"20{10 + idx % 14}-04-01",
                },
            })
    # overlay polygons with holes (slicing tests only, typename differs)
    for oi, (cx, cy) in enumerate([(139_650_000, 35_600_000),
                                   (139_820_000, 35_740_000)]):
        half, hole_half = 40_000, 12_000
        outer = _oriented_ring([
            (cx - half, cy - half), (cx + half, cy - half),
            (cx + half, cy + half), (cx - half, cy + half)], ccw=True)
        hole = _oriented_ring([
            (cx - hole_half, cy - hole_half), (cx + hole_half, cy - hole_half),
            (cx + hole_half, cy + hole_half), (cx - hole_half, cy + hole_half)],
            ccw=False)
        recs.append({
            "ward_code": f"139{oi:02d}",
            "ward_name": f"overlay{oi}",
            "typename": "urf:UrbanPlanningOverlay",
            "feature_id": f"urf_ov_{oi}",
            "rings_udeg": [list(outer), list(hole)],
            "attributes": {"urf:function": "overlay"},
        })
    return recs


def tessellation_records() -> list[dict]:
    return [r for r in boundaries_records()
            if r["typename"] == "urf:UrbanPlanningArea"]


def boundaries_sql_values() -> str:
    """The 23 tessellation quads as a SQL VALUES table
    b(ward_code, x1, y1, x2, y2, x3, y3, x4, y4) — CCW in (lng, lat) µdeg.
    Valid in both DuckDB and Spark SQL."""
    rows = []
    for rec in tessellation_records():
        ring = rec["rings_udeg"][0]
        assert len(ring) == 4
        flat = ", ".join(f"{x}, {y}" for x, y in ring)
        rows.append(f"('{rec['ward_code']}', {flat})")
    return ",\n    ".join(rows)


PIP_CONVEX_SQL = (
    # inclusive convex quad test for CCW-in-lnglat rings (interior is to the
    # LEFT of each directed edge: cross >= 0), exact int64 cross products —
    # matches kernels/pip.py points_in_convex_polygon_int
    "((b.x2-b.x1)*(p.lat_udeg-b.y1) - (b.y2-b.y1)*(p.lng_udeg-b.x1)) >= 0"
    " AND ((b.x3-b.x2)*(p.lat_udeg-b.y2) - (b.y3-b.y2)*(p.lng_udeg-b.x2)) >= 0"
    " AND ((b.x4-b.x3)*(p.lat_udeg-b.y3) - (b.y4-b.y3)*(p.lng_udeg-b.x3)) >= 0"
    " AND ((b.x1-b.x4)*(p.lat_udeg-b.y4) - (b.y1-b.y4)*(p.lng_udeg-b.x4)) >= 0"
)


# ---------------------------------------------------------------------------
# pages table (Common-Crawl-style) — parquet writer for pytest/bench
# ---------------------------------------------------------------------------

TEXT_TEMPLATE = "地点 lat_udeg=%d lng_udeg=%d 東京 tokyo23-ku page"


def pages_table(n: int):
    """Build the pages fixture as a pyarrow Table (no Spark needed)."""
    import pyarrow as pa

    ids = np.arange(n, dtype=np.int64)
    lng, lat = point_udeg_np(ids)
    slugs = ids % 97
    urls = [f"https://example{s}.jp/page/{i}" for s, i in zip(slugs, ids)]
    texts = [TEXT_TEMPLATE % (la, ln) for la, ln in zip(lat, lng)]
    htmls = [f"<html><body><p>{t}</p></body></html>".encode("utf-8")
             for t in texts]
    langs = ["ja" if i % 10 else "en" for i in ids]
    base = np.datetime64("2024-01-01T00:00:00", "us")
    ts = base + (ids * 137).astype("timedelta64[s]").astype("timedelta64[us]")
    return pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us")),
        "html": pa.array(htmls, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
    })


def write_pages_parquet(path: str, n: int) -> str:
    import pyarrow.parquet as pq
    pq.write_table(pages_table(n), path)
    return path


def boundaries_df(spark):
    """Boundaries as a (small) Spark DataFrame — the broadcast side."""
    from pyspark.sql import types as T

    from .local import local_relation

    schema = T.StructType([
        T.StructField("ward_code", T.StringType(), False),
        T.StructField("ward_name", T.StringType(), False),
        T.StructField("typename", T.StringType(), False),
        T.StructField("feature_id", T.StringType(), False),
        T.StructField("rings_udeg", T.ArrayType(
            T.ArrayType(T.ArrayType(T.LongType()))), False),
        T.StructField("attributes", T.MapType(
            T.StringType(), T.StringType()), False),
    ])
    rows = [(r["ward_code"], r["ward_name"], r["typename"], r["feature_id"],
             [[[int(x), int(y)] for x, y in ring] for ring in r["rings_udeg"]],
             r["attributes"]) for r in boundaries_records()]
    return local_relation(spark, rows, schema)


def lines_df(spark):
    """Deterministic line features (river/rail style) for the line sink
    paths: (typename, feature_id, name, paths_udeg, attributes)."""
    from pyspark.sql import types as T

    from .local import local_relation

    schema = T.StructType([
        T.StructField("typename", T.StringType(), False),
        T.StructField("feature_id", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("paths_udeg", T.ArrayType(
            T.ArrayType(T.ArrayType(T.LongType()))), False),
        T.StructField("attributes", T.MapType(
            T.StringType(), T.StringType()), False),
    ])
    rows = [
        ("tran:Railway", "rail_01", "lineA",
         [[[139_600_000, 35_600_000], [139_700_000, 35_650_000],
           [139_800_000, 35_640_000]],
          [[139_650_000, 35_700_000], [139_750_000, 35_710_000]]],
         {"tran:function": "rail"}),
        ("tran:Railway", "rail_02", "lineB",
         [[[139_620_000, 35_580_000], [139_640_000, 35_620_000]]],
         {"tran:function": "subway"}),
    ]
    return local_relation(spark, rows, schema)


def points_df(spark):
    """Deterministic point features (station style) for the point sink
    paths: (typename, feature_id, name, points_udeg, attributes)."""
    from pyspark.sql import types as T

    from .local import local_relation

    schema = T.StructType([
        T.StructField("typename", T.StringType(), False),
        T.StructField("feature_id", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("points_udeg", T.ArrayType(
            T.ArrayType(T.LongType())), False),
        T.StructField("attributes", T.MapType(
            T.StringType(), T.StringType()), False),
    ])
    rows = [
        ("frn:CityFurniture", "pt_01", "stationA",
         [[139_701_000, 35_658_000], [139_702_000, 35_659_000]],
         {"frn:class": "station"}),
        ("frn:CityFurniture", "pt_02", "stationB",
         [[139_766_000, 35_681_000]],
         {"frn:class": "kiosk"}),
    ]
    return local_relation(spark, rows, schema)


# ---------------------------------------------------------------------------
# general polygons (concave + holes) for the even-odd refine gate
# ---------------------------------------------------------------------------
# Real PLATEAU district footprints are concave and may carry interior rings
# (courtyards, enclaves); the convex-quad tessellation can't represent them.
# Three deterministic features over the point extent:
#   D-01  square donut straddling dense center #1 — its hole removes the
#         densest point mass (the hole branch must actually fire);
#   C-02  concave L — the bounding-box of the exterior contains points the
#         polygon does not (the concavity branch must actually fire);
#   T-03  triangle — odd vertex count, non-axis-aligned edges.
# Rings are UNCLOSED (wrap edge implied), winding-insensitive (even-odd).

def holed_records() -> list[dict]:
    donut_ext = [[139_660_000, 35_650_000], [139_740_000, 35_650_000],
                 [139_740_000, 35_730_000], [139_660_000, 35_730_000]]
    donut_hole = [[139_690_000, 35_680_000], [139_710_000, 35_680_000],
                  [139_710_000, 35_700_000], [139_690_000, 35_700_000]]
    ell = [[139_780_000, 35_560_000], [139_880_000, 35_560_000],
           [139_880_000, 35_610_000], [139_830_000, 35_610_000],
           [139_830_000, 35_660_000], [139_780_000, 35_660_000]]
    tri = [[139_580_000, 35_540_000], [139_660_000, 35_540_000],
           [139_620_000, 35_620_000]]
    return [
        {"ward_code": "D-01", "typename": "urf:DistrictWithCourtyard",
         "rings_udeg": [donut_ext, donut_hole]},
        {"ward_code": "C-02", "typename": "urf:ConcaveDistrict",
         "rings_udeg": [ell]},
        {"ward_code": "T-03", "typename": "urf:TriangleDistrict",
         "rings_udeg": [tri]},
    ]


def holed_edges_sql_values() -> str:
    """Every directed edge (wrap included) of every ring of holed_records()
    as SQL VALUES rows e(ward_code, x1, y1, x2, y2) — the oracle counts
    ray crossings over this relation, so holes need no special casing
    (even-odd parity is global across rings)."""
    rows = []
    for rec in holed_records():
        for ring in rec["rings_udeg"]:
            n = len(ring)
            for i in range(n):
                x1, y1 = ring[i]
                x2, y2 = ring[(i + 1) % n]
                rows.append(f"('{rec['ward_code']}', {x1}, {y1}, {x2}, {y2})")
    return ",\n    ".join(rows)
