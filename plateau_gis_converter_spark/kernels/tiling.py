"""Tiling schemes: standard WebMercator (square) tiles for MVT and the
reference's non-square 3D-Tiles scheme.

3D-Tiles scheme parity with ``nusamai/src/sink/cesiumtiles/tiling/scheme.rs``:
``x_step`` (:10-22, tiles widen near the poles), ``size_for_z`` (:24-30,
z0=1x1, z1=2x2, z>=2: 2^z x 2^(z-1)), ``zxy_from_lng_lat`` (:32-38),
``calc_parent_zxy`` (:40-47), slice ranges (:49-81), ``geometric_error``
(:83-98 with Q=525957.5361033019). Golden fixtures from ``scheme.rs:100-261``
are asserted in ``tests/test_kernels_tiling.py``.

Everything is vectorized NumPy; the engine's Catalyst variants (for the
point→tile hot path) live in ``functions/geo.py`` with identical arithmetic.
"""

from __future__ import annotations

import numpy as np

from .mercator import lnglat_to_web_mercator

Q_GEOMETRIC_ERROR = 525957.5361033019


# ----------------------------------------------------------------------------
# Standard WebMercator square scheme (MVT tiles; geojson-vt slicing grid)
# ----------------------------------------------------------------------------

def mvt_tile_at(z, lng, lat):
    """Point -> (x, y) WebMercator tile indices at zoom z.

    Matches the reference's slicing grid: a point at normalized mercator
    (mx, my) lands in tile (floor(mx * 2^z), floor(my * 2^z)) — the grid used
    by ``nusamai/src/sink/mvt/slice.rs:107-114,183``; antimeridian wrap via
    x.rem_euclid(1<<z) (slice.rs:192-195).
    """
    z = np.asarray(z)
    mx, my = lnglat_to_web_mercator(lng, lat)
    scale = np.power(2.0, z.astype(np.float64))
    x = np.floor(mx * scale).astype(np.int64)
    y = np.floor(my * scale).astype(np.int64)
    n = (np.int64(1) << z.astype(np.int64))
    x = np.mod(x, n)  # rem_euclid
    y = np.clip(y, 0, n - 1)
    return x, y


# ----------------------------------------------------------------------------
# Reference 3D-Tiles scheme (non-square, pole-widened x_step)
# ----------------------------------------------------------------------------

def _msb(d):
    """Position of most significant bit: msb(0)=0, msb(1)=1, msb(4)=3
    (scheme.rs:6-8: u32::BITS - leading_zeros)."""
    d = np.asarray(d, dtype=np.uint32)
    bl = np.zeros(d.shape, dtype=np.uint32)
    v = d.copy()
    for shift in (16, 8, 4, 2, 1):
        su = np.uint32(shift)
        m = (v >> su) > 0
        bl = np.where(m, bl + su, bl)
        v = np.where(m, v >> su, v)
    return bl + np.where(v > 0, np.uint32(1), np.uint32(0))


def x_step(z, y):
    """Tile x-stride at (z, y); widens toward poles (scheme.rs:10-22)."""
    z = np.atleast_1d(np.asarray(z, dtype=np.int64))
    y = np.atleast_1d(np.asarray(y, dtype=np.int64))
    z, y = np.broadcast_arrays(z, y)
    zz = np.int64(1) << z
    north = y < zz // 4
    d_north = _msb(np.maximum(y, 0).astype(np.uint32)).astype(np.int64)
    d_south = _msb(np.maximum(zz // 2 - y - 1, 0).astype(np.uint32)).astype(np.int64)
    d = np.where(north, d_north, d_south)
    # z in {0,1} -> 1; z>=2 -> max(1, zz / 2^msb(...)) / 4 (scheme.rs:13-21);
    # the quotient can floor to 0 at mid-latitudes, matching the reference
    # only through the outer max(1, ..) BEFORE the /4, not after — replicate:
    raw = np.maximum(np.int64(1), zz // (np.int64(1) << d)) // 4
    step = np.where(z <= 1, np.int64(1), np.maximum(raw, np.int64(1)))
    return step


def size_for_z(z):
    """Grid size (x_size, y_size) for zoom z (scheme.rs:24-30)."""
    z = np.atleast_1d(np.asarray(z, dtype=np.int64))
    x_size = np.where(z == 0, 1, np.where(z == 1, 2, np.int64(1) << z))
    y_size = np.where(z == 0, 1, np.where(z == 1, 2, np.int64(1) << np.maximum(z - 1, 0)))
    return x_size, y_size


def zxy_from_lng_lat(z, lng, lat):
    """Point -> (z, x, y) in the 3D-Tiles scheme (scheme.rs:32-38)."""
    z = np.atleast_1d(np.asarray(z, dtype=np.int64))
    lng = np.atleast_1d(np.asarray(lng, dtype=np.float64))
    lat = np.atleast_1d(np.asarray(lat, dtype=np.float64))
    z, lng, lat = np.broadcast_arrays(z, lng, lat)
    x_size, y_size = size_for_z(z)
    y = np.floor((90.0 - lat) / 180.0 * y_size.astype(np.float64)).astype(np.int64)
    xs = x_step(z, y)
    x = np.floor((180.0 + lng) / 360.0 * x_size.astype(np.float64)).astype(np.int64)
    x = x - np.mod(x, xs)  # rem_euclid for non-negative xs
    return z, x, y


def calc_parent_zxy(z, x, y):
    """Parent tile in the 3D-Tiles scheme (scheme.rs:40-47)."""
    z = np.atleast_1d(np.asarray(z, dtype=np.int64))
    x = np.atleast_1d(np.asarray(x, dtype=np.int64))
    y = np.atleast_1d(np.asarray(y, dtype=np.int64))
    if np.any(z == 0):
        raise ValueError("z=0 has no parent")
    px = np.where(z == 1, 0, x // 2)
    py = np.where(z == 1, 0, np.where(z == 2, y, y // 2))
    return z - 1, px, py


def y_slice_range(z, y):
    """(south, north) latitude bounds of tile row y (scheme.rs:49-55)."""
    _, y_size = size_for_z(z)
    yf = np.asarray(y, dtype=np.float64)
    north = 90.0 - 180.0 * yf / y_size.astype(np.float64)
    south = 90.0 - 180.0 * (yf + 1.0) / y_size.astype(np.float64)
    return south, north


def x_slice_range(z, x, xs):
    """(west, east) longitude bounds of tile column span (scheme.rs:57-62)."""
    x_size, _ = size_for_z(z)
    xf = np.asarray(x, dtype=np.float64)
    west = -180.0 + 360.0 * xf / x_size.astype(np.float64)
    east = -180.0 + 360.0 * (xf + np.asarray(xs, dtype=np.float64)) / x_size.astype(np.float64)
    return west, east


def iter_y_slice(z: int, south: float, north: float) -> range:
    """Row indices intersecting [south, north] (scheme.rs:64-71)."""
    _, y_size = size_for_z(z)
    y_size = int(y_size[0])
    north = min(max(north, -90.0), 90.0)
    south = min(max(south, -90.0), 90.0)
    y_north = int(np.floor((90.0 - north) / 180.0 * y_size))
    y_south = int(np.ceil((90.0 - south) / 180.0 * y_size))
    return range(y_north, y_south)


def iter_x_slice(z: int, y: int, west: float, east: float):
    """(x, xs) column spans intersecting [west, east] (scheme.rs:73-81)."""
    x_size, _ = size_for_z(z)
    x_size = int(x_size[0])
    x_west = int(np.floor((180.0 + west) / 360.0 * x_size))
    x_east = int(np.ceil((180.0 + east) / 360.0 * x_size))
    xs = int(x_step(z, y)[0])
    start = x_west - (x_west % xs if x_west >= 0 else ((x_west % xs) + xs) % xs)
    stop = x_east - (x_east % xs if x_east >= 0 else ((x_east % xs) + xs) % xs)
    # rem_euclid semantics for negatives:
    start = x_west - (x_west % xs + xs) % xs
    stop = x_east - (x_east % xs + xs) % xs
    for x in range(start, stop, xs):
        yield (x, xs)


def geometric_error(z, y):
    """3D-Tiles geometric error (scheme.rs:83-98)."""
    z = np.atleast_1d(np.asarray(z, dtype=np.int64))
    y = np.atleast_1d(np.asarray(y, dtype=np.int64))
    z, y = np.broadcast_arrays(z, y)
    _, y_size = size_for_z(z)
    if np.any(y >= y_size):
        raise ValueError("y out of range")
    zz = (np.int64(1) << z).astype(np.float64)
    err1 = Q_GEOMETRIC_ERROR / (np.int64(1) << np.maximum(z - 2, 0)).astype(np.float64)
    lat = (1.0 - (y.astype(np.float64) + 0.5) * 4.0 / zz) * np.pi / 2.0
    err2 = np.cos(lat) * x_step(z, y).astype(np.float64) * err1
    out = np.maximum(err1, err2)
    return np.where(z < 2, 1e100, out)
