"""Spatial join layer: broadcast prepared-polygon point-in-polygon joins.

The reference's spatial joins (``LEFT JOIN osm_admin ON ST_Contains(...)`` —
SURVEY.md J3/J4/J5) are driven by GiST indexes in Postgres. Spark-first
replacement for the dimension-sized polygon side (admin/postal polygons are
thousands of rows even planet-wide, vs 10^9..10^12 points):

  1. collect polygons to the driver ONCE, prepare NumPy ring arrays + a
     cell-grid index (cell id -> candidate polygon ids) — the "prepared
     geometry" of the north_star,
  2. broadcast the prepared payload,
  3. ONE vectorized pandas UDF (``multi_pip_match_col``) maps point batches
     to the ARRAY of matching polygon attributes per prepared set
     (deterministically ordered by osm_id),
  4. ``explode`` / ``explode_outer`` recovers inner/left join semantics
     INCLUDING row multiplicity for overlapping polygons (§7.4.7).

No shuffle at all on the point side — the whole PIP join is a narrow map
stage, which is exactly what survives a 1000-executor 100 TB scan. For
polygon sets too big to broadcast there is a shuffle-based variant in
``tiling.tiled_pip_join``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

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
    key. The ETL's 004/005 fills and the houses' a2/a4/a6 arrays probe
    identical coordinates — a single kernel cuts the Arrow
    (de)serialization of the point columns from len(keys) passes to one,
    which at 10^9 rows is the dominant PIP cost. Set-up time only (ETL,
    ``oa``, ``raster``): the geocoders run no PIP per query."""
    from pyspark.sql import functions as F
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


def pip_join(spark, points_df, polys_df, x_col="x", y_col="y",
             id_key="osm_id", attr_key="name", rings_key="rings",
             how="left", out_col="pip_attr"):
    """Generic point-in-polygon join (J3/J4/J5) emitting ``attr_key`` as a
    string column.

    ``how='left'`` keeps unmatched points with NULL attr (LEFT JOIN ... ON
    ST_Contains); ``how='inner'`` drops them. Overlapping polygons duplicate
    rows — matching the reference's join multiplicity (§7.4.7)."""
    from pyspark.sql import functions as F

    rows = polys_df.select(id_key, attr_key, rings_key).collect()
    prepared = prepare_from_rows(rows, id_key, attr_key, rings_key)
    matched = points_df.withColumn(
        "__pip", multi_pip_match_col(spark, {"m": prepared}, x_col, y_col))
    explode = F.explode_outer if how == "left" else F.explode
    return matched.withColumn(out_col, explode("__pip.m")).drop("__pip")
