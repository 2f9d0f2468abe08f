"""Hierarchical cell index over Web Mercator (H3-style, but a square quadtree
with Morton-coded int64 ids — implemented from scratch; the h3/s2 libraries are
unavailable and unnecessary here).

Replaces the reference's spatial indexes (GiST at optimize/016, the geohash
CLUSTER at optimize/015, and the 1-D ST_X band prefilter at
sql/geocoder/004-reverse_geocoding.sql:45-47,85-87): every spatial predicate in
the engine becomes an equi-join on cell ids + an exact residual filter.

Cell id layout (int64, always positive):
    bits 58..53 : resolution r (0..26)
    bits 52..0  : Morton interleave of (ix, iy), each r bits

At resolution r the world square [-L, L]^2 is a 2^r x 2^r grid; cell size is
2L / 2^r meters (r=15 -> ~1223 m, r=16 -> ~611 m, r=20 -> ~38 m).

All functions are NumPy-vectorized. Spark plans use their JVM column twins
(etl.grid_cols / cell_col_jvm / geohash_col_jvm); these are the reference.
"""

from __future__ import annotations

import numpy as np

from .proj import L, WORLD

MAX_RES = 26


def cell_size(res: int) -> float:
    return WORLD / float(1 << res)


def res_for_radius(radius_m: float, max_res: int = MAX_RES) -> int:
    """Coarsest-enough resolution whose cell size is >= radius (so a radius
    window around any point spans at most a 3x3 ring, usually 2x2)."""
    r = 0
    while r < max_res and cell_size(r + 1) >= radius_m:
        r += 1
    return r


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 27 bits of v so there is a zero bit between each."""
    v = v.astype(np.uint64)
    v &= np.uint64(0x7FFFFFF)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _compact1by1(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def morton(ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    return (_part1by1(ix) | (_part1by1(iy) << np.uint64(1))).astype(np.int64)


def unmorton(code: np.ndarray):
    c = code.astype(np.uint64)
    return (
        _compact1by1(c).astype(np.int64),
        _compact1by1(c >> np.uint64(1)).astype(np.int64),
    )


def xy_to_ij(x, y, res: int):
    """Grid coordinates for points; clipped to the world square."""
    n = 1 << res
    size = cell_size(res)
    ix = np.clip(np.floor((np.asarray(x, dtype=np.float64) + L) / size), 0, n - 1)
    iy = np.clip(np.floor((np.asarray(y, dtype=np.float64) + L) / size), 0, n - 1)
    return ix.astype(np.int64), iy.astype(np.int64)


def encode(x, y, res: int) -> np.ndarray:
    """Vectorized (x, y) -> cell id at resolution ``res``."""
    ix, iy = xy_to_ij(x, y, res)
    return (np.int64(res) << np.int64(53)) | morton(ix, iy)


def encode_ij(ix: np.ndarray, iy: np.ndarray, res: int) -> np.ndarray:
    return (np.int64(res) << np.int64(53)) | morton(
        np.asarray(ix, dtype=np.int64), np.asarray(iy, dtype=np.int64)
    )


def decode(cell: np.ndarray):
    """cell id -> (res array, ix, iy)."""
    cell = np.asarray(cell, dtype=np.int64)
    res = (cell >> np.int64(53)).astype(np.int64)
    ix, iy = unmorton(cell & np.int64((1 << 53) - 1))
    return res, ix, iy


def parent(cell: np.ndarray, steps: int = 1) -> np.ndarray:
    res, ix, iy = decode(cell)
    new_res = res - steps
    return ((new_res << np.int64(53)) | morton(ix >> steps, iy >> steps)).astype(np.int64)


def children(cell: int) -> np.ndarray:
    """Four direct children of a single cell id."""
    res, ix, iy = decode(np.asarray([cell]))
    r = int(res[0]) + 1
    cx, cy = int(ix[0]) << 1, int(iy[0]) << 1
    xs = np.array([cx, cx + 1, cx, cx + 1], dtype=np.int64)
    ys = np.array([cy, cy, cy + 1, cy + 1], dtype=np.int64)
    return encode_ij(xs, ys, r)


_GEOHASH32 = np.frombuffer(b"0123456789bcdefghjkmnpqrstuvwxyz", dtype=np.uint8)


def geohash_encode(lat, lon, precision: int = 12) -> np.ndarray:
    """Vectorized standard geohash (base-32, lon bit first). Replaces
    PostGIS ST_Geohash / python-geohash used for spatial clustering
    (optimize/015:6, bin/import_openaddress_data.py:503). Note the reference
    importer passes (lon, lat) into geohash.encode(lat, lon) — a documented
    argument-order bug (SURVEY.md §7.4.8); we encode correctly."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    nbits = 5 * precision
    nlon = (nbits + 1) // 2
    nlat = nbits // 2
    li = np.clip(((lon + 180.0) / 360.0) * (1 << nlon), 0, (1 << nlon) - 1).astype(np.uint64)
    la = np.clip(((lat + 90.0) / 180.0) * (1 << nlat), 0, (1 << nlat) - 1).astype(np.uint64)
    # interleave from the MSB: even bit positions (0-indexed from the top) are lon
    codes = np.zeros((len(lat), precision), dtype=np.uint8)
    bits = np.zeros(len(lat), dtype=np.uint64)
    for b in range(nbits):
        if b % 2 == 0:
            src, width = li, nlon
            idx = b // 2
        else:
            src, width = la, nlat
            idx = b // 2
        bit = (src >> np.uint64(width - 1 - idx)) & np.uint64(1)
        bits = (bits << np.uint64(1)) | bit
        if b % 5 == 4:
            codes[:, b // 5] = _GEOHASH32[bits.astype(np.int64)]
            bits = np.zeros(len(lat), dtype=np.uint64)
    return np.array([row.tobytes().decode("ascii") for row in codes])


def covering_cells_bbox(x0, y0, x1, y1, res: int):
    """Per-row list of cell ids covering [x0,x1]x[y0,y1].

    Vectorized over rows; returns a Python list of int64 arrays (ragged).
    This is the k-ring expansion used by reverse geocoding: the bbox is the
    radius window around the query point (SURVEY.md J10, P3).
    """
    ix0, iy0 = xy_to_ij(x0, y0, res)
    ix1, iy1 = xy_to_ij(x1, y1, res)
    out = []
    for a, b, c, d in zip(ix0, iy0, ix1, iy1):
        xs = np.arange(a, c + 1, dtype=np.int64)
        ys = np.arange(b, d + 1, dtype=np.int64)
        gx, gy = np.meshgrid(xs, ys)
        out.append(encode_ij(gx.ravel(), gy.ravel(), res))
    return out
