"""Output checks: an order-insensitive digest of each batch, a NumPy
brute-force nearest-house check for the reverse results, and the DuckDB
oracle parity of the geocoders on the committed fixtures."""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import re

import numpy as np

PARITY_QUERIES = ("reverse_geocode", "forward_geocode", "geocode_pages")


def _canon(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, float):
        # micrometre resolution: far below any coordinate or distance the
        # engine reports, far above floating-point noise
        return f"{v:.6f}"
    return str(v)


def digest(rows, columns) -> str:
    """Digest of a multiset of rows that does not depend on row order or
    column order. ``rows`` are sequences aligned with ``columns``."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_canon(row[i]) for i in order) for row in rows)
    h = hashlib.sha256("\x1e".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest()


def df_digest(df) -> tuple[str, list]:
    """The digest of ``df`` and its collected rows."""
    rows = df.collect()
    return digest(rows, df.columns), rows


class Points:
    """Points sorted by x, for brute-force radius queries."""

    def __init__(self, xy: np.ndarray):
        self.xy = xy[np.argsort(xy[:, 0], kind="stable")]

    def within(self, qx: float, qy: float, radius: float):
        """Distances (ascending) and positions of the points within
        ``radius`` of (qx, qy), by the engine's distance formula."""
        a, b = (int(np.searchsorted(self.xy[:, 0], qx - radius, side="left")),
                int(np.searchsorted(self.xy[:, 0], qx + radius, side="right")))
        band = self.xy[a:b]
        d = np.sqrt((band[:, 0] - qx) ** 2 + (band[:, 1] - qy) ** 2)
        keep = np.flatnonzero(d <= radius)
        keep = keep[np.argsort(d[keep], kind="stable")]
        return d[keep], band[keep]


def topk_mismatches(points: Points, queries, results: dict,
                    fallback: Points | None = None, tol: float = 1e-6) -> int:
    """Brute-force top-k check. ``queries``: (key, qx, qy, radius, limit);
    ``results``: key -> [(x, y, distance)] the engine returned. The engine
    returns a house once per admin area it lies in, so positions are
    compared as a set. Expected are the nearest ``points`` within the radius
    or, when there are none, the nearest ``fallback`` points. A query
    mismatches when the engine returns more than ``limit`` rows, skips a
    nearer point, stops short of ``limit`` rows while points in radius
    remain, or names a position that is not a point in radius at the
    distance it reports."""
    bad = 0
    for key, qx, qy, radius, limit in queries:
        d, xy = points.within(qx, qy, radius)
        if not len(d) and fallback is not None:
            d, xy = fallback.within(qx, qy, radius)
        rows = results.get(key, ())
        got = sorted(set(rows), key=lambda r: r[2])
        ok = (len(rows) <= limit and len(got) <= len(d)
              and (len(rows) == limit or len(got) == len(d))
              and all(abs(dist - want) <= tol
                      and abs(math.hypot(x - qx, y - qy) - dist) <= tol
                      and np.hypot(xy[:, 0] - x, xy[:, 1] - y).min() <= tol
                      for (x, y, dist), want in zip(got, d)))
        bad += not ok
    return bad


def linked_houses(tables) -> Points:
    """The houses reverse geocoding can return: those linked to a street."""
    linked = tables.houses.join(tables.street_city.select("street_id"), "street_id", "left_semi")
    return Points(np.array([(r["x"], r["y"]) for r in linked.select("x", "y").collect()]))


def _sample(n: int, k: int, seed: int) -> np.ndarray:
    return np.random.RandomState(seed).choice(n, min(k, n), replace=False)


def pages_reverse_mismatches(tables, pages_rows, out_rows, radius: float,
                             sample: int, seed: int) -> tuple[int, int]:
    """Check a seeded sample of the coordinate pages: their ``coordinate``
    result must be the nearest street-linked house within ``radius``."""
    from geospark import mine
    from geospark.proj import lonlat_to_merc

    coord_re = re.compile(mine.COORD_RE)
    mined = []
    for p in pages_rows:
        m = coord_re.search(p["text"])
        if m:
            mined.append((p["url"], float(m.group(2)), float(m.group(1))))
    pick = _sample(len(mined), sample, seed)
    qx, qy = lonlat_to_merc([mined[i][1] for i in pick], [mined[i][2] for i in pick])
    queries = [(mined[i][0], float(x), float(y), radius, 1) for i, x, y in zip(pick, qx, qy)]
    want = {q[0]: (q[1], q[2]) for q in queries}
    results = {r["url"]: [(r["x"], r["y"], math.hypot(r["x"] - want[r["url"]][0],
                                                      r["y"] - want[r["url"]][1]))]
               for r in out_rows if r["kind"] == "coordinate" and r["url"] in want}
    return topk_mismatches(linked_houses(tables), queries, results), len(queries)


def reverse_mismatches(tables, query_rows, out_rows,
                       sample: int, seed: int) -> tuple[int, int]:
    """Check a seeded sample of the reverse queries against a brute-force
    top-k over the street-linked houses, falling back to the OA houses."""
    from geospark.proj import lonlat_to_merc

    pick = _sample(len(query_rows), sample, seed)
    rows = [query_rows[i] for i in pick]
    qx, qy = lonlat_to_merc([r["lon"] for r in rows], [r["lat"] for r in rows])
    queries = [(r["query_id"], float(x), float(y), r["radius"], r["limit"])
               for r, x, y in zip(rows, qx, qy)]
    results: dict = {}
    for r in out_rows:
        results.setdefault(r["query_id"], []).append((r["x"], r["y"], r["distance"]))
    oa = Points(np.array([(r["x"], r["y"]) for r in
                          tables.oa["oa_house"].select("x", "y").collect()]))
    return topk_mismatches(linked_houses(tables), queries, results, oa), len(queries)


def source_key(root: str) -> str:
    """Hash of the engine sources and committed fixtures."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "geospark", "*.py"))
                   + glob.glob(os.path.join(root, "fixtures", "*")))
    for path in files:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def parity(spark, root: str, work_dir: str, key: str) -> dict:
    """``geospark.parity.compare_one`` for the three geocoders. A passing
    result is stored under the source key, so a checkout runs the oracles
    once; any change to the engine or fixtures runs them again."""
    marker = os.path.join(work_dir, f"parity-{key}.json")
    if os.path.exists(marker):
        with open(marker) as fh:
            return dict(json.load(fh), cached=True)
    import duckdb

    from geospark import parity as gp

    con = duckdb.connect()
    try:
        res = {name: list(gp.compare_one(spark, con, name, os.path.join(root, "fixtures")))
               for name in PARITY_QUERIES}
    finally:
        con.close()
    if all(status == "pass" for status, _ in res.values()):
        with open(marker, "w") as fh:
            json.dump(res, fh)
    return dict(res, cached=False)


def cross_run_digest(work_dir: str, key: str, digest_value: str) -> bool:
    """True when no earlier run with the same key recorded another digest."""
    path = os.path.join(work_dir, "digests.json")
    seen = {}
    if os.path.exists(path):
        with open(path) as fh:
            seen = json.load(fh)
    ok = seen.setdefault(key, digest_value) == digest_value
    with open(path, "w") as fh:
        json.dump(seen, fh, indent=1)
    return ok
