"""Spatial join layer: point-in-polygon joins as JVM plans.

The reference's spatial joins (``LEFT JOIN osm_admin ON ST_Contains(...)`` —
SURVEY.md J3/J4/J5) are driven by GiST indexes in Postgres. Here each
polygon family (postal codes, one admin level, raster zones) becomes a
cell table, and points reach their candidates by an equi-join:

  1. ``polygon_cells`` tiles every polygon of a family into the (ix, iy)
     grid cells its bbox covers (``sequence``/``explode``, as
     ``reverse._grid_expand`` does) and groups the family into ONE row per
     cell holding its candidates sorted by osm_id. The family's resolution
     is PreparedPolygons' rule (the largest polygon spans about 4 cells per
     axis), read off one small bbox aggregate per call;
  2. ``pip_match`` LEFT-joins the points on each family's (ix, iy) — N:1,
     so no point is duplicated or lost — and keeps the candidates whose
     bbox holds the point and whose rings pass the even-odd test, an
     ``aggregate`` over edge indexes with the formula and evaluation order
     of ``geometry.points_in_ring``. The result per family is the ARRAY of
     matching attrs ordered by osm_id; ``explode`` / ``explode_outer``
     recovers inner/left join semantics INCLUDING row multiplicity for
     overlapping polygons (§7.4.7).

The join strategy is left to AQE: the cell tables are dimension-sized and
broadcast at runtime, so the point side stays a narrow map stage.

``PreparedPolygons`` / ``multi_pip_match_col`` are the independent NumPy
reference (a driver-side cell index and a broadcast Arrow kernel) that tests
and perfbench's spatial check compare the engine against.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from . import cells, geometry


class PreparedPolygons:
    """Driver-side prepared polygon set with a uniform cell grid index."""

    def __init__(self, polys: list[tuple], target_cells_per_poly: int = 16):
        """``polys``: list of (poly_id, attr, rings) where rings is a list of
        (m, 2) float arrays; attr is the value emitted on match."""
        self.ids = [p[0] for p in polys]
        self.attrs = [p[1] for p in polys]
        self.rings = [[np.asarray(r, dtype=np.float64) for r in p[2]] for p in polys]
        self.bboxes = np.array(
            [geometry.rings_bbox(r) for r in self.rings] or np.zeros((0, 4)),
            dtype=np.float64,
        ).reshape(-1, 4)
        # pick a grid resolution where the largest polygon spans about
        # sqrt(target_cells_per_poly) cells per axis
        if len(polys):
            max_dim = max(
                float(np.max(self.bboxes[:, 2] - self.bboxes[:, 0])),
                float(np.max(self.bboxes[:, 3] - self.bboxes[:, 1])),
                1.0,
            )
            res = 0
            while (
                res < cells.MAX_RES
                and cells.cell_size(res + 1) * (target_cells_per_poly ** 0.5) >= max_dim
            ):
                res += 1
        else:
            res = 0
        self.res = res
        index: dict[int, list[int]] = {}
        for i in range(len(polys)):
            x0, y0, x1, y1 = self.bboxes[i]
            for c in cells.covering_cells_bbox(
                np.array([x0]), np.array([y0]), np.array([x1]), np.array([y1]), res
            )[0]:
                index.setdefault(int(c), []).append(i)
        self.index = index

    def match(self, px: np.ndarray, py: np.ndarray) -> list[list]:
        """Per-point list of attrs of containing polygons, ordered by
        polygon id (deterministic multiplicity order)."""
        n = len(px)
        out: list[list] = [[] for _ in range(n)]
        if not self.ids or n == 0:
            return out
        cell_ids = cells.encode(px, py, self.res)
        # group points by candidate polygon, evaluate PIP vectorized per poly
        by_poly: dict[int, list[int]] = {}
        cache: dict[int, list[int]] = {}
        for row, c in enumerate(cell_ids.tolist()):
            cand = cache.get(c)
            if cand is None:
                cand = self.index.get(c, [])
                cache[c] = cand
            for pi in cand:
                by_poly.setdefault(pi, []).append(row)
        order = sorted(by_poly, key=lambda pi: self.ids[pi])
        for pi in order:
            rows = np.asarray(by_poly[pi], dtype=np.int64)
            x0, y0, x1, y1 = self.bboxes[pi]
            sel = (
                (px[rows] >= x0) & (px[rows] <= x1)
                & (py[rows] >= y0) & (py[rows] <= y1)
            )
            rows = rows[sel]
            if len(rows) == 0:
                continue
            inside = geometry.points_in_polygon(px[rows], py[rows], self.rings[pi])
            for row in rows[inside].tolist():
                out[row].append(self.attrs[pi])
        return out


def prepare_from_rows(rows, id_key="osm_id", attr_key="name", rings_key="rings"):
    """Build PreparedPolygons from collected Row/dict objects whose rings are
    list<list<[x, y]>> (the fixture/ETL storage layout)."""
    polys = []
    for r in rows:
        d = r.asDict() if hasattr(r, "asDict") else r
        polys.append((d[id_key], d[attr_key], geometry.as_rings(d[rings_key])))
    return PreparedPolygons(polys)


def multi_pip_match_col(spark, prepared_by_key: dict, x_col: str, y_col: str):
    """One Arrow pass matching the same (x, y) against SEVERAL prepared
    polygon sets: returns a struct column with one array<string> field per
    key, the shape of ``pip_match``'s columns. The NumPy reference of the
    engine's JVM join: tests and perfbench's spatial check call it, the
    engine does not."""
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    keys = list(prepared_by_key)
    bc = spark.sparkContext.broadcast(prepared_by_key)
    out_type = StructType([StructField(k, ArrayType(StringType())) for k in keys])

    @F.pandas_udf(out_type)
    def _pip(x: pd.Series, y: pd.Series) -> pd.DataFrame:
        xs = x.to_numpy(np.float64)
        ys = y.to_numpy(np.float64)
        return pd.DataFrame({k: pd.Series(bc.value[k].match(xs, ys)) for k in keys})

    return _pip(F.col(x_col), F.col(y_col))


def polygon_cells(families: dict) -> dict:
    """Tile polygon families into grid cells: ``families`` maps a key to an
    (osm_id, attr, rings) DataFrame; returns key -> (res, cells), where
    ``cells`` holds one row per covered (ix, iy) with ``cands``, the
    family's polygons whose bbox touches the cell, sorted by osm_id.

    Each family gets its own resolution, PreparedPolygons' rule: the
    largest bbox side spans about 4 cells (``res_for_radius`` of a quarter
    of it; x4 and /4 are exact). One small aggregate over every family's
    bbox sides is this function's only job. The resolution changes how
    many candidates a point tests, never the result."""
    from functools import reduce

    from .etl import grid_cols

    boxed = {k: _with_bbox(df) for k, df in families.items()}
    sides = reduce(DataFrame.unionByName, [
        b.select(F.lit(k).alias("key"),
                 F.greatest(F.col("xmax") - F.col("xmin"),
                            F.col("ymax") - F.col("ymin")).alias("side"))
        for k, b in boxed.items()])
    max_side = {r["key"]: r["side"] for r in
                sides.groupBy("key").agg(F.max("side").alias("side")).collect()}
    out = {}
    for key, b in boxed.items():
        res = cells.res_for_radius(max(max_side.get(key, 0.0), 1.0) / 4)
        x0, y0 = grid_cols(F.col("xmin"), F.col("ymin"), res)
        x1, y1 = grid_cols(F.col("xmax"), F.col("ymax"), res)
        tiled = (b.withColumn("ix", F.explode(F.sequence(x0, x1)))
                 .withColumn("iy", F.explode(F.sequence(y0, y1)))
                 .groupBy("ix", "iy")
                 .agg(F.array_sort(F.collect_list(F.struct(
                     "osm_id", "attr", "xmin", "ymin", "xmax", "ymax", "rings")))
                      .alias("cands")))
        out[key] = (res, tiled)
    return out


def _with_bbox(polys: DataFrame) -> DataFrame:
    """(osm_id, attr as string, rings) plus the bbox of the rings, as
    geometry.rings_bbox computes it."""
    pts = F.flatten("rings")
    xs = F.transform(pts, lambda p: p[0])
    ys = F.transform(pts, lambda p: p[1])
    return polys.select(
        "osm_id", F.col("attr").cast("string").alias("attr"), "rings",
        F.array_min(xs).alias("xmin"), F.array_min(ys).alias("ymin"),
        F.array_max(xs).alias("xmax"), F.array_max(ys).alias("ymax"))


def pip_match(points: DataFrame, polygon_cells_by_key: dict,
              x_col: str = "x", y_col: str = "y") -> DataFrame:
    """``points`` plus one array<string> column per key of
    ``polygon_cells_by_key`` (``polygon_cells`` output): the attrs of the
    family's polygons containing (x, y), ordered by osm_id; empty when none.

    Each family is one LEFT equi-join on the point's (ix, iy) at the
    family's resolution. A cell table holds one row per cell, so the join
    is N:1: every point survives exactly once and families chain as further
    N:1 joins. The join strategy is left to AQE, as in
    ``reverse._candidates``."""
    from .etl import grid_cols

    px, py = F.col(x_col), F.col(y_col)
    for key, (res, tiled) in polygon_cells_by_key.items():
        gx, gy = grid_cols(px, py, res)
        cand = tiled.select(F.col("ix").alias("__ix"), F.col("iy").alias("__iy"),
                            F.col("cands").alias("__cands"))
        hits = F.filter("__cands", lambda c: (
            (px >= c["xmin"]) & (px <= c["xmax"])
            & (py >= c["ymin"]) & (py <= c["ymax"])
            & _inside(c["rings"], px, py)))
        points = (points.withColumn("__ix", gx).withColumn("__iy", gy)
                  .join(cand, ["__ix", "__iy"], "left")
                  .withColumn(key, F.coalesce(F.transform(hits, lambda c: c["attr"]),
                                              F.array().cast("array<string>")))
                  .drop("__ix", "__iy", "__cands"))
    return points


def _inside(rings, px, py):
    """Even-odd rule over all rings (geometry.points_in_polygon): the
    crossings of every ring summed, odd = inside."""
    def ring_crossings(acc, ring):
        def edge(n, i):
            x0, y0 = ring[i][0], ring[i][1]
            x1, y1 = ring[i + 1][0], ring[i + 1][1]
            # the division only under the straddle test: a horizontal edge
            # would divide by zero, which ANSI mode raises
            crosses = F.when((y0 > py) != (y1 > py),
                             px < x0 + ((py - y0) * (x1 - x0)) / (y1 - y0))
            return n + F.when(crosses, 1).otherwise(0)

        return F.aggregate(F.sequence(F.lit(0), F.size(ring) - 2), acc, edge)

    return F.aggregate(rings, F.lit(0), ring_crossings) % 2 == 1
