"""Mapbox Vector Tile encoding kernels.

Semantics-parity reimplementations (Rust -> Python/NumPy), cited to the
reference:

* ``zigzag``                 — nusamai-mvt/src/geometry.rs:72-75
* ``GeometryEncoder``        — nusamai-mvt/src/geometry.rs:10-64 (MoveTo with
  count 1, LineTo with runtime count skipping zero deltas, ClosePath)
* ``TagsEncoder``            — nusamai-mvt/src/tag.rs:8-91 (insertion-ordered
  key/value interning; value identity is *typed*: Float/Double by raw bytes,
  Uint(1) != Bool(true) etc.)
* ``feature_id_hash``        — nusamai/src/sink/mvt/mod.rs:436-441 (djb2
  variant: fold(5381, a*33 ^ byte), u64 wrapping — NOT xxhash)
* ``quantize_ring``          — mod.rs:366-370 ((x*extent + 0.5) cast to i16 =
  trunc-toward-zero after adding 0.5)
* ``simplify_ring``          — mod.rs:372-398 (dup-point removal + collinear
  rejection via |cross| equality on i32 products, keeping first & last)
* ``encode_tile_features``   — mod.rs:344-478 (per-layer feature/tag
  assembly, exterior ring admitted iff signed area > 0, interiors iff CW)
* ``tile_to_pbf``            — minimal protobuf writer for the MVT 2.1 tile
  schema (vector_tile.proto is a public spec), used for the size-capped
  adaptive-detail loop (mod.rs:308-336: detail 12..9, zlib cap 500,000 B).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

__all__ = [
    "zigzag", "unzigzag", "GeometryEncoder", "TagsEncoder", "feature_id_hash",
    "quantize_ring", "simplify_ring", "signed_ring_area_i16",
    "encode_tile_features", "tile_to_pbf", "make_tile_adaptive",
]

GEOM_MOVE_TO = 1
GEOM_LINE_TO = 2
GEOM_CLOSE_PATH = 7
_MOVE_TO_C1 = (1 << 3) | GEOM_MOVE_TO
_CLOSE_PATH_C1 = (1 << 3) | GEOM_CLOSE_PATH


def zigzag(v: int) -> int:
    """i32 -> u32 zigzag (geometry.rs:72-75)."""
    v = int(v) & 0xFFFFFFFF
    v_signed = v - 0x100000000 if v >= 0x80000000 else v
    return ((v_signed << 1) ^ (v_signed >> 31)) & 0xFFFFFFFF


def unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def feature_id_hash(s: str) -> int:
    """djb2-variant u64 hash of the feature id string (mod.rs:436-441)."""
    a = 5381
    for b in s.encode("utf-8"):
        a = ((a * 33) & 0xFFFFFFFFFFFFFFFF) ^ b
    return a


class GeometryEncoder:
    """MVT geometry command encoder (geometry.rs:10-64)."""

    def __init__(self) -> None:
        self.buf: list[int] = []
        self.prev_x = 0
        self.prev_y = 0

    def add_ring(self, ring) -> None:
        it = iter(ring)
        try:
            first = next(it)
        except StopIteration:
            return
        fx, fy = int(first[0]), int(first[1])
        dx, dy = fx - self.prev_x, fy - self.prev_y
        self.prev_x, self.prev_y = fx, fy
        self.buf.extend([_MOVE_TO_C1, zigzag(dx), zigzag(dy)])
        lineto_pos = len(self.buf)
        self.buf.append(GEOM_LINE_TO)
        count = 0
        for p in it:
            x, y = int(p[0]), int(p[1])
            dx, dy = x - self.prev_x, y - self.prev_y
            self.prev_x, self.prev_y = x, y
            if dx != 0 or dy != 0:
                self.buf.extend([zigzag(dx), zigzag(dy)])
                count += 1
        self.buf[lineto_pos] = GEOM_LINE_TO | (count << 3)
        self.buf.append(_CLOSE_PATH_C1)

    def into_vec(self) -> list[int]:
        return self.buf


class TagsEncoder:
    """Insertion-ordered typed key/value interning (tag.rs:8-43).

    Values are identified by a (type_tag, canonical) pair so that e.g.
    Uint(1) and Bool(True) intern separately, and Float(10.5) and
    Double(10.5) intern separately (tag.rs:46-55 derives Eq on the enum).
    """

    def __init__(self) -> None:
        self.keys: dict[str, int] = {}
        self.values: dict[tuple, int] = {}

    def add(self, key: str, value: tuple) -> tuple[int, int]:
        ki = self.keys.setdefault(key, len(self.keys))
        vi = self.values.setdefault(value, len(self.values))
        return ki, vi

    @staticmethod
    def v_string(s: str) -> tuple:
        return ("string", s)

    @staticmethod
    def v_float(f: float) -> tuple:
        return ("float", struct.pack("<f", f))

    @staticmethod
    def v_double(d: float) -> tuple:
        return ("double", struct.pack("<d", d))

    @staticmethod
    def v_int(v: int) -> tuple:
        """From-i64 conversion: >=0 becomes Uint (tag.rs:113-121)."""
        return ("uint", v) if v >= 0 else ("sint", v)

    @staticmethod
    def v_uint(v: int) -> tuple:
        return ("uint", v)

    @staticmethod
    def v_sint(v: int) -> tuple:
        return ("sint", v)

    @staticmethod
    def v_raw_int(v: int) -> tuple:
        """Explicit Value::Int (int_value field), used rarely (tag.rs:174)."""
        return ("int", v)

    @staticmethod
    def v_bool(v: bool) -> tuple:
        return ("bool", bool(v))

    def into_keys_and_values(self) -> tuple[list[str], list[tuple]]:
        return list(self.keys.keys()), list(self.values.keys())


_INT_RE = None
_FLOAT_RE = None


def sniff_tag_value(s: str) -> tuple:
    """Typed MVT value from a stringified attribute.

    The reference's convert_properties (nusamai/src/sink/mvt/mod.rs:443-478)
    emits typed values from the typed attribute tree (String/Uint/Sint/
    Double/Bool); our staging schema stringifies attributes, so this
    restores the type for canonical JSON scalar spellings:
    'true'/'false' -> Bool, integer literal -> Uint/Sint (the reference's
    from-i64 rule, tag.rs:113-121), decimal/exponent literal -> Double,
    anything else (incl. dates like '2014-04-01') -> String.
    """
    global _INT_RE, _FLOAT_RE
    if _INT_RE is None:
        import re
        _INT_RE = re.compile(r"-?\d+\Z")
        _FLOAT_RE = re.compile(
            r"-?(\d+\.\d*|\.\d+)([eE][+-]?\d+)?\Z|-?\d+[eE][+-]?\d+\Z")
    if s == "true":
        return TagsEncoder.v_bool(True)
    if s == "false":
        return TagsEncoder.v_bool(False)
    if _INT_RE.match(s):
        v = int(s)
        # Only canonical integer spellings convert: identifier-like strings
        # with leading zeros ('013104' municipal codes) or '-0' stay String,
        # matching the reference's typed-tree behavior where such attributes
        # are String to begin with (convert_properties never sees them as
        # ints).
        if str(v) != s:
            return TagsEncoder.v_string(s)
        if -(1 << 63) <= v < (1 << 63):
            return TagsEncoder.v_int(v)
        return TagsEncoder.v_string(s)
    if _FLOAT_RE.match(s):
        # Same leading-zero rule for doubles: a zero-padded mantissa
        # ('01.5', '-007e2') is an identifier spelling, not a number.
        mant = s[1:] if s[0] == "-" else s
        if len(mant) > 1 and mant[0] == "0" and mant[1].isdigit():
            return TagsEncoder.v_string(s)
        return TagsEncoder.v_double(float(s))
    return TagsEncoder.v_string(s)


def quantize_ring(ring: np.ndarray, extent: int) -> np.ndarray:
    """Tile-local [0,1] f64 coords -> i16 grid (mod.rs:366-370).

    Rust `(x * extent + 0.5) as i16` truncates toward zero — replicated with
    np.trunc (NOT rounding).
    """
    if isinstance(ring, np.ndarray) and ring.dtype == object:
        # ragged object array from Arrow — stack point-wise
        ring = np.stack([np.asarray(p, dtype=np.float64) for p in ring])
    arr = np.asarray(ring, dtype=np.float64) * float(extent) + 0.5
    return np.trunc(arr).astype(np.int16)


def simplify_ring(ring_i16: np.ndarray) -> np.ndarray:
    """Duplicate-point + collinear-point removal (mod.rs:372-398).

    Exact replication including the reference's |cross| == |cross| comparison
    (which also removes points where the two products have equal magnitude
    but opposite signs) and unconditional keep of first and last points.
    """
    r = np.asarray(ring_i16, dtype=np.int16)
    n = len(r)
    if n == 0:
        return r
    keep = [r[0]]
    for i in range(1, n - 1):
        prev, curr, nxt = r[i - 1], r[i], r[i + 1]
        if prev[0] == curr[0] and prev[1] == curr[1]:
            continue
        c1 = (int(nxt[1]) - int(prev[1])) * (int(curr[0]) - int(prev[0]))
        c2 = (int(curr[1]) - int(prev[1])) * (int(nxt[0]) - int(prev[0]))
        if not (curr[0] == nxt[0] and curr[1] == nxt[1]) and abs(c1) == abs(c2):
            continue
        keep.append(curr)
    keep.append(r[n - 1])
    return np.array(keep, dtype=np.int16)


def signed_ring_area_i16(ring: np.ndarray) -> float:
    """Shoelace signed area on the open i16 ring (linestring.rs:116-140)."""
    r = np.asarray(ring, dtype=np.float64)
    n = len(r)
    if n < 3:
        return 0.0
    x0, y0 = r[0]
    ax = r[1:-1, 0] - x0
    ay = r[1:-1, 1] - y0
    bx = r[2:, 0] - x0
    by = r[2:, 1] - y0
    return float(np.sum(ax * by - bx * ay) / 2.0)


def encode_tile_features(features, detail: int):
    """Assemble per-layer MVT feature records for one tile (mod.rs:344-478).

    ``features`` is an iterable of dicts:
        {"layer": str, "feature_id": str|None,
         "mpoly": [[ring(tile-local [0,1] f64 Nx2), ...], ...],
         "attrs": [(key, typed_value_tuple), ...]}  # insertion order matters
    Returns {layer_name: {"features": [...], "keys": [...], "values": [...]}}
    where each feature is {"id": u64|None, "tags": [u32...],
    "geometry": [u32 commands], "type": 3}.
    """
    extent = 1 << detail
    layers: dict[str, dict] = {}
    for feat in features:
        int_mpoly = []
        for poly in feat["mpoly"]:
            int_poly = []
            for ring in poly:
                q = quantize_ring(np.asarray(ring), extent)
                s = simplify_ring(q)
                int_poly.append(s)
            if int_poly:
                int_mpoly.append(int_poly)

        enc = GeometryEncoder()
        for poly in int_mpoly:
            exterior = poly[0]
            # slicing REVERSES rings (slice.rs:260-261), so a front-facing
            # (CW, negative-area) source exterior arrives here positive;
            # mod.rs:411 admits exteriors with signed area > 0 and interiors
            # iff is_cw() — i.e. signed area < 0 (linestring.rs:116-118).
            if signed_ring_area_i16(exterior) > 0.0:
                enc.add_ring(exterior)
                for interior in poly[1:]:
                    if signed_ring_area_i16(interior) < 0.0:  # is_cw
                        enc.add_ring(interior)
        geometry = enc.into_vec()
        if not geometry:
            continue

        name = feat["layer"]
        layer = layers.setdefault(
            name, {"features": [], "_tags_enc": TagsEncoder()})
        tags: list[int] = []
        tags_enc = layer["_tags_enc"]
        for key, tv in feat.get("attrs", ()):
            ki, vi = tags_enc.add(key, tv)
            tags.extend((ki, vi))
        fid = feat.get("feature_id")
        layer["features"].append({
            "id": feature_id_hash(fid) if fid is not None else None,
            "tags": tags,
            "type": 3,
            "geometry": geometry,
        })

    out = {}
    for name, layer in layers.items():
        if not layer["features"]:
            continue
        keys, values = layer["_tags_enc"].into_keys_and_values()
        out[name] = {"features": layer["features"], "keys": keys,
                     "values": values, "extent": 1 << detail}
    return out


# ----------------------------------------------------------------------------
# Minimal protobuf writer for the public MVT 2.1 schema
# (https://github.com/mapbox/vector-tile-spec — vector_tile.proto)
# ----------------------------------------------------------------------------

def _varint(v: int) -> bytes:
    out = bytearray()
    v &= 0xFFFFFFFFFFFFFFFF
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _len_delim(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(payload)) + payload


def _packed_u32(field: int, vals) -> bytes:
    payload = b"".join(_varint(v) for v in vals)
    return _len_delim(field, payload)


def _encode_value(tv: tuple) -> bytes:
    kind, v = tv
    if kind == "string":
        return _len_delim(1, v.encode("utf-8"))
    if kind == "float":
        return _tag(2, 5) + v  # v is 4 LE bytes
    if kind == "double":
        return _tag(3, 1) + v  # v is 8 LE bytes
    if kind == "int":
        return _tag(4, 0) + _varint(v & 0xFFFFFFFFFFFFFFFF)
    if kind == "uint":
        return _tag(5, 0) + _varint(v)
    if kind == "sint":
        return _tag(6, 0) + _varint(((v << 1) ^ (v >> 63)) & 0xFFFFFFFFFFFFFFFF)
    if kind == "bool":
        return _tag(7, 0) + _varint(1 if v else 0)
    raise ValueError(f"unknown value kind {kind}")


def tile_to_pbf(layers: dict) -> bytes:
    """Serialize the decoded-tile dict from encode_tile_features to pbf."""
    out = bytearray()
    for name, layer in layers.items():
        lbuf = bytearray()
        lbuf += _tag(15, 0) + _varint(2)  # version = 2
        lbuf += _len_delim(1, name.encode("utf-8"))
        for f in layer["features"]:
            fbuf = bytearray()
            if f["id"] is not None:
                fbuf += _tag(1, 0) + _varint(f["id"])
            if f["tags"]:
                fbuf += _packed_u32(2, f["tags"])
            fbuf += _tag(3, 0) + _varint(f["type"])
            fbuf += _packed_u32(4, f["geometry"])
            lbuf += _len_delim(2, bytes(fbuf))
        for k in layer["keys"]:
            lbuf += _len_delim(3, k.encode("utf-8"))
        for tv in layer["values"]:
            lbuf += _len_delim(4, _encode_value(tv))
        lbuf += _tag(5, 0) + _varint(layer["extent"])
        out += _len_delim(3, bytes(lbuf))
    return bytes(out)


def make_tile_adaptive(features, default_detail: int = 12, min_detail: int = 9,
                       size_cap: int = 500_000) -> tuple[bytes, int]:
    """Adaptive-detail encode loop (mod.rs:279-336): encode at detail
    12..min_detail descending, accept the first whose zlib-compressed size is
    <= size_cap. Returns (pbf_bytes, detail_used)."""
    for detail in range(default_detail, min_detail - 1, -1):
        layers = encode_tile_features(features, detail)
        data = tile_to_pbf(layers)
        if detail != min_detail and len(zlib.compress(data)) > size_cap:
            continue
        return data, detail
    raise AssertionError("unreachable")
