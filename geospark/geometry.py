"""Pure-NumPy planar geometry kernels (EPSG:3857 meters).

Replaces the PostGIS calls the reference makes (ST_Contains/ST_Within,
ST_Centroid, ST_Extent, ST_Distance, WKB wire format — SURVEY.md F8-F18).
Polygons are represented as a list of rings; each ring is an (m, 2) float64
array, first ring = outer shell, subsequent rings = holes (even-odd rule makes
shell/hole orientation irrelevant). The engine runs the JVM forms of the
point-in-polygon test (spatial.pip_match) and the centroid
(etl._centroid_cols); these kernels, vectorized over points, are the
reference that tests and the fixture generator use.

Boundary semantics: ``points_in_polygon`` uses the even-odd ray-casting rule
with half-open edges ([y0, y1) crossings). Points exactly on a horizontal
upper edge or right boundary test as outside — consistent with PostGIS
ST_Contains excluding the boundary (documented deviation ledger SURVEY.md
§7.4.6; fixture points avoid polygon boundaries).
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# point-in-polygon
# ---------------------------------------------------------------------------


def as_rings(value) -> list:
    """Normalize a nested rings value (Arrow object-ndarrays, lists of lists,
    Row structures) into a list of (m, 2) float64 arrays."""
    out = []
    for ring in value:
        arr = np.asarray(ring)
        if arr.dtype == object:
            arr = np.stack([np.asarray(p, dtype=np.float64) for p in ring])
        out.append(arr.astype(np.float64, copy=False))
    return out


def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd crossing test of many points against one ring. O(P*E) fully
    vectorized (E = ring edges); rings in this engine are small (admin
    polygons are simplified/tiled before reaching the kernel)."""
    x0 = ring[:-1, 0][None, :]
    y0 = ring[:-1, 1][None, :]
    x1 = ring[1:, 0][None, :]
    y1 = ring[1:, 1][None, :]
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    straddle = (y0 > py) != (y1 > py)
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        xint = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
    crossings = straddle & (px < xint)
    return (crossings.sum(axis=1) % 2).astype(bool)


def points_in_polygon(px, py, rings) -> np.ndarray:
    """Even-odd over all rings: inside shell and outside holes."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = np.zeros(len(px), dtype=bool)
    for ring in rings:
        inside ^= points_in_ring(px, py, np.asarray(ring, dtype=np.float64))
    return inside


# ---------------------------------------------------------------------------
# centroid / bbox / length helpers
# ---------------------------------------------------------------------------


def _sum_left(v) -> float:
    """Sum left to right from 0.0: the order of the JVM centroid
    (etl._centroid_cols). np.sum agrees below 8 terms and goes pairwise
    from there."""
    s = 0.0
    for t in np.asarray(v, dtype=np.float64).tolist():
        s += t
    return s


def _vertex_mean(pts: np.ndarray):
    return _sum_left(pts[:, 0]) / len(pts), _sum_left(pts[:, 1]) / len(pts)


def ring_area_centroid(ring: np.ndarray):
    """Signed shoelace area and area-weighted centroid of one ring."""
    r = np.asarray(ring, dtype=np.float64)
    x0, y0 = r[:-1, 0], r[:-1, 1]
    x1, y1 = r[1:, 0], r[1:, 1]
    cross = x0 * y1 - x1 * y0
    a = _sum_left(cross) / 2.0
    if a == 0.0:  # degenerate: fall back to vertex mean
        return (0.0, *_vertex_mean(r[:-1]))
    cx = _sum_left((x0 + x1) * cross) / (6.0 * a)
    cy = _sum_left((y0 + y1) * cross) / (6.0 * a)
    return a, cx, cy


def polygon_centroid(rings):
    """Area-weighted centroid over shell + holes (holes carry opposite sign
    when wound oppositely; with same winding even-odd still matches PostGIS
    for the disjoint-hole fixtures we use)."""
    total_a = 0.0
    sx = 0.0
    sy = 0.0
    for i, ring in enumerate(rings):
        a, cx, cy = ring_area_centroid(ring)
        if i > 0 and (a > 0) == (total_a > 0):
            a = -a  # holes subtract
        total_a += a
        sx += a * cx
        sy += a * cy
    if total_a == 0.0:
        return _vertex_mean(np.vstack([np.asarray(r, dtype=np.float64)[:-1] for r in rings]))
    return sx / total_a, sy / total_a


def rings_bbox(rings):
    pts = np.vstack([np.asarray(r, dtype=np.float64) for r in rings])
    return (
        float(pts[:, 0].min()),
        float(pts[:, 1].min()),
        float(pts[:, 0].max()),
        float(pts[:, 1].max()),
    )


# ---------------------------------------------------------------------------
# (E)WKB — wire-format parity with the reference fixture boundary
# (bin/import_openaddress_data.py:489-492 hand-writes EWKB point hex;
#  osmgeocoder/geocoder.py:66,107 decodes WKB hex via shapely)
# ---------------------------------------------------------------------------

_SRID_FLAG = 0x20000000
SRID_3857 = 3857


def ewkb_point_hex(x: float, y: float, srid: int = SRID_3857) -> str:
    """Little-endian EWKB hex for a 2-D point, identical format to the
    reference importer's hand-rolled '0101000020110F0000' + doubles."""
    return (
        struct.pack("<BI", 1, 1 | _SRID_FLAG)
        + struct.pack("<I", srid)
        + struct.pack("<dd", float(x), float(y))
    ).hex()


def parse_wkb_hex(hex_str: str):
    """Minimal WKB/EWKB parser for point / linestring / polygon /
    multipolygon. Returns (geom_type, payload) where payload is
    (x, y) | (m,2) array | list-of-rings | list-of-list-of-rings."""
    buf = bytes.fromhex(hex_str)
    geom, _ = _parse_wkb(buf, 0)
    return geom


def _parse_wkb(buf: bytes, off: int):
    little = buf[off] == 1
    endian = "<" if little else ">"
    (tcode,) = struct.unpack_from(endian + "I", buf, off + 1)
    off += 5
    if tcode & _SRID_FLAG:
        tcode &= ~_SRID_FLAG
        off += 4  # skip srid
    if tcode == 1:  # point
        x, y = struct.unpack_from(endian + "dd", buf, off)
        return ("point", (x, y)), off + 16
    if tcode == 2:  # linestring
        (n,) = struct.unpack_from(endian + "I", buf, off)
        off += 4
        pts = np.frombuffer(buf, dtype=("<f8" if little else ">f8"), count=2 * n, offset=off)
        return ("linestring", pts.reshape(n, 2).astype(np.float64)), off + 16 * n
    if tcode == 3:  # polygon
        (nr,) = struct.unpack_from(endian + "I", buf, off)
        off += 4
        rings = []
        for _ in range(nr):
            (n,) = struct.unpack_from(endian + "I", buf, off)
            off += 4
            pts = np.frombuffer(buf, dtype=("<f8" if little else ">f8"), count=2 * n, offset=off)
            rings.append(pts.reshape(n, 2).astype(np.float64))
            off += 16 * n
        return ("polygon", rings), off
    if tcode == 6:  # multipolygon
        (np_,) = struct.unpack_from(endian + "I", buf, off)
        off += 4
        polys = []
        for _ in range(np_):
            (g, off) = _parse_wkb(buf, off)
            polys.append(g[1])
        return ("multipolygon", polys), off
    raise ValueError(f"unsupported WKB geometry type {tcode}")
