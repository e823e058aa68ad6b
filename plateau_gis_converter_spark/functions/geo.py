"""Geospatial Catalyst expressions (pure pyspark.sql.functions — JVM-side,
whole-stage-codegen'd; zero Python in the 10^12-row hot path).

Formula parity:
* web-mercator: nusamai-mvt/src/webmercator.rs:11-16 (normalized [0,1]^2)
* square-tile grid + antimeridian wrap: nusamai/src/sink/mvt/slice.rs:107-195
* the point derivation mirrors sources/fixtures.point_udeg_np / point_udeg_sql
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

UDEG = 1_000_000.0


def udeg_to_deg(c: Column) -> Column:
    return c / F.lit(UDEG)


def mercator_mx(lng_deg: Column) -> Column:
    """Normalized web-mercator x (webmercator.rs:12)."""
    return (lng_deg + F.lit(180.0)) / F.lit(360.0)


def mercator_my(lat_deg: Column) -> Column:
    """Normalized web-mercator y (webmercator.rs:13-14)."""
    my = F.degrees(F.log(F.tan(F.radians(F.lit(90.0) + lat_deg) / F.lit(2.0))))
    return (-my + F.lit(180.0)) / F.lit(360.0)


def _two_pow(z: Column) -> Column:
    """2^z as bigint (exact for z <= 52 via double pow)."""
    return F.pow(F.lit(2.0), z.cast("double")).cast("bigint")


def tile_x(z: Column, mx: Column) -> Column:
    """floor(mx * 2^z) with rem_euclid antimeridian wrap (slice.rs:192-195)."""
    n = _two_pow(z)
    x = F.floor(mx * F.pow(F.lit(2.0), z.cast("double"))).cast("bigint")
    return ((x % n) + n) % n


def tile_y(z: Column, my: Column) -> Column:
    """floor(my * 2^z), clamped to the valid row range."""
    n = _two_pow(z)
    y = F.floor(my * F.pow(F.lit(2.0), z.cast("double"))).cast("bigint")
    return F.greatest(F.lit(0).cast("bigint"), F.least(y, n - F.lit(1)))


def with_point_tiles(df, z: Column, lng_udeg: str = "lng_udeg",
                     lat_udeg: str = "lat_udeg"):
    """Add x/y square-scheme tile columns for a zoom column ``z``."""
    mx = mercator_mx(udeg_to_deg(F.col(lng_udeg)))
    my = mercator_my(udeg_to_deg(F.col(lat_udeg)))
    return (df.withColumn("x", tile_x(z, mx))
              .withColumn("y", tile_y(z, my)))


# Hilbert automaton over _HILBERT_K-bit steps. The fold of hilbert.rs:18-39
# reads one (x, y) bit pair per level, high to low, and leaves the lower
# bits of (tx, ty) swapped and/or complemented. That pair of flags is the
# whole state: 2 bits, 4 states. _HILBERT_TABLE[state << 2k | xk << k | yk]
# replays the reference fold over k levels from that state and holds the
# k base-4 digits it emits (2k bits) above the 2-bit next state.
_HILBERT_K = 3


def _hilbert_table(k: int) -> list[int]:
    table = []
    for state in range(4):
        for xk in range(1 << k):
            for yk in range(1 << k):
                swap, comp, digits = state & 1, state >> 1, 0
                for i in range(k - 1, -1, -1):
                    bx, by = (xk >> i) & 1, (yk >> i) & 1
                    rx, ry = (by, bx) if swap else (bx, by)
                    rx, ry = rx ^ comp, ry ^ comp
                    digits = (digits << 2) | ((3 * rx) ^ ry)
                    if ry == 0:  # flip when rx == 1, then swap
                        comp ^= rx
                        swap ^= 1
                table.append((digits << 2) | (comp << 1) | swap)
    return table


_HILBERT_TABLE = np.array(_hilbert_table(_HILBERT_K), dtype=np.int64)


def hilbert_id_expr(z: int, x: Column, y: Column) -> Column:
    """PMTiles Hilbert id (nusamai-mvt/src/tileid/hilbert.rs:18-39) of
    the zoom-``z`` tile (x, y) as one Catalyst expression: acc_z plus
    ceil(z/k) ``element_at`` lookups into one literal table (above).

    The top step is padded with leading zero bits. A zero level emits
    digit 0 and toggles the swap flag, so starting with swap = padding
    mod 2 reaches the reference's initial state at level z-1. Only the
    low ``z`` bits of x and y are read, as in the reference. Ids stay
    below 2^63 for z <= 31, so bigint is exact.
    """
    if not 0 <= z <= 31:
        raise ValueError(f"Hilbert zoom must be in [0, 31], got {z}")
    k = _HILBERT_K
    steps = -(-z // k)
    table = F.lit(_HILBERT_TABLE)
    tid = F.lit(((1 << (2 * z)) - 1) // 3).cast("bigint")
    x, y = x.cast("bigint"), y.cast("bigint")
    entry = F.lit((steps * k - z) % 2).cast("bigint")
    for j in range(steps):
        shift = k * (steps - 1 - j)
        mask = (1 << (z - shift if j == 0 else k)) - 1
        xk = F.shiftright(x, shift).bitwiseAND(mask)
        yk = F.shiftright(y, shift).bitwiseAND(mask)
        idx = (F.shiftleft(entry.bitwiseAND(3), 2 * k)
               .bitwiseOR(F.shiftleft(xk, k)).bitwiseOR(yk))
        entry = F.element_at(table, (idx + 1).cast("int"))
        tid = tid + F.shiftleft(F.shiftright(entry, 2), 2 * shift)
    return tid


def point_udeg_cols(id_col: Column) -> tuple[Column, Column]:
    """Catalyst version of fixtures.point_udeg_np — derives the deterministic
    (lng_µdeg, lat_µdeg) pair from an integer id. Same integer arithmetic as
    the DuckDB oracle (fixtures.point_udeg_sql)."""
    from ..sources import fixtures as fx

    i = id_col.cast("bigint")
    lng = F.lit(fx.LNG_MIN).cast("bigint") + (i * F.lit(40503)) % F.lit(fx.LNG_SPAN)
    lat = F.lit(fx.LAT_MIN).cast("bigint") + (i * F.lit(69069)) % F.lit(fx.LAT_SPAN)
    ci = (i % F.lit(10)) % F.lit(3)
    clng = (F.when(ci == 0, fx.DENSE_CENTERS[0][0])
             .when(ci == 1, fx.DENSE_CENTERS[1][0])
             .otherwise(fx.DENSE_CENTERS[2][0])).cast("bigint")
    clat = (F.when(ci == 0, fx.DENSE_CENTERS[0][1])
             .when(ci == 1, fx.DENSE_CENTERS[1][1])
             .otherwise(fx.DENSE_CENTERS[2][1])).cast("bigint")
    m = F.lit(2 * fx.DENSE_HALF + 1)
    dlng = clng + (i * F.lit(48271)) % m - F.lit(fx.DENSE_HALF)
    dlat = clat + (i * F.lit(16807)) % m - F.lit(fx.DENSE_HALF)
    dense = (i % F.lit(10)) < 4
    return (F.when(dense, dlng).otherwise(lng).alias("lng_udeg"),
            F.when(dense, dlat).otherwise(lat).alias("lat_udeg"))


GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def _int_div(a: Column, c: int) -> Column:
    """Exact integer division on bigint columns: (a - a mod c) / c. The
    subtraction makes the dividend an exact multiple, so the double divide
    is exact (result magnitudes here stay far below 2^53) — avoids the
    floor(double-div) misround at exact-boundary inputs."""
    c = int(c)
    return ((a - F.pmod(a, F.lit(c))) / F.lit(c)).cast("bigint")


def geohash_udeg(lng_udeg: Column, lat_udeg: Column,
                 chars: int = 7) -> Column:
    """Base-32 geohash of an integer micro-degree point — the prefix-cell
    index family alongside z/x/y quadkeys and Hilbert ids: a cell at
    precision p is the length-p prefix of every finer cell inside it, so
    prefix equality IS spatial containment (prefix joins, LIKE-pruning).

    All-integer arithmetic (bit index = floor((coord + off) * 2^bits /
    span) over micro-degrees; intermediates < 2^47), so cell boundaries
    are exact and the DuckDB oracle (per-char div/mod arithmetic —
    an independent formulation of the interleave) agrees bit-for-bit.
    Pure Catalyst: shift/or fold into one 5*chars-bit key, then base-32
    chars via element_at. Even interleave bits (MSB-first) come from
    longitude, odd from latitude, per the public geohash spec.
    """
    chars = int(chars)
    if not 1 <= chars <= 12:
        raise ValueError(f"chars must be in 1..12, got {chars}")
    nbits = 5 * chars
    lng_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    lng_idx = F.least(
        _int_div((lng_udeg.cast("bigint") + F.lit(180_000_000))
                 * F.lit(1 << lng_bits), 360_000_000),
        F.lit((1 << lng_bits) - 1))
    lat_idx = F.least(
        _int_div((lat_udeg.cast("bigint") + F.lit(90_000_000))
                 * F.lit(1 << lat_bits), 180_000_000),
        F.lit((1 << lat_bits) - 1))
    combined = F.lit(0).cast("bigint")
    for j in range(nbits):
        if j % 2 == 0:
            bit = F.shiftright(lng_idx, lng_bits - 1 - j // 2)
        else:
            bit = F.shiftright(lat_idx, lat_bits - 1 - (j - 1) // 2)
        combined = combined.bitwiseOR(
            F.shiftleft(bit.bitwiseAND(F.lit(1)), nbits - 1 - j))
    alpha = F.array(*[F.lit(ch) for ch in GEOHASH_ALPHABET])
    parts = [F.element_at(
        alpha, (F.shiftright(combined, 5 * (chars - 1 - c))
                .bitwiseAND(F.lit(31)) + F.lit(1)).cast("int"))
        for c in range(chars)]
    return F.concat(*parts)


def quadkey_col(z: int, x: Column, y: Column) -> Column:
    """Bing Maps / Azure quadkey for tile (z, x, y): the base-4 string
    whose i-th character interleaves bit (z-i) of x and y — the tile
    addressing every Microsoft imagery/vector service and a number of
    tile caches key by. A parent tile's quadkey is a strict PREFIX of
    all its descendants (pytest-pinned), which is what makes quadkeys
    the natural key for prefix-range pyramid scans in a plain string
    index.

    Pure Catalyst: z fixed-length concat of shift/mask digit lookups —
    no Python, no join; the engine-shared formulation also runs
    verbatim in the DuckDB oracle.
    """
    if not 1 <= z <= 30:
        raise ValueError(f"z must be in [1, 30], got {z}")
    chars = F.array(F.lit("0"), F.lit("1"), F.lit("2"), F.lit("3"))
    digits = []
    for i in range(1, z + 1):
        d = ((F.shiftrightunsigned(x, z - i) % 2)
             + 2 * (F.shiftrightunsigned(y, z - i) % 2))
        digits.append(F.element_at(chars, (d + 1).cast("int")))
    return F.concat(*digits)
