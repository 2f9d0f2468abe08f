"""Raster <-> vector operators (north_rule: "H3/S2 index, point-in-polygon,
kNN, raster<->vector").

The reference has no raster story (PostGIS raster is unused there); these
are the engine-native equivalents a tiling pipeline needs, built so every
op is a plain Catalyst plan over the same Morton grid the spatial joins use:

  * ``rasterize``  — point table -> raster tile layer at resolution r:
    one groupBy on pure-JVM (ix, iy) grid keys (map-side partial agg; the
    only shuffle is the final per-cell combine). This is the 100 TB path:
    10^12 points reduce to at most 4^r cells.
  * ``pool``       — raster pyramid rollup to a coarser resolution
    (ix >> steps, iy >> steps, re-aggregate): the overview/zoom layer
    build, again a single combiner-friendly groupBy.
  * ``vectorize``  — raster -> vector: cells passing a predicate become
    polygon rings (their exact grid-cell boundary), closed-form JVM
    arithmetic from (ix, iy) — no Python, no geometry lib.
  * ``zonal_stats``— vector -> raster interrogation: per-polygon
    aggregates of the raster cells whose CENTER falls inside the polygon
    (the standard zonal-statistics contract), via the ETL's JVM
    point-in-polygon join (spatial.pip_match).

Determinism: cell ids/coords are closed-form doubles shared with the DuckDB
oracles (entry_queries: raster_density / raster_pool / raster_vectorize /
raster_zonal — including a pure-SQL Morton bit-spread recompute of the
cell id itself).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from . import cells as cell_mod
from . import spatial
from .etl import grid_cols, morton_cell_col
from .proj import L


def rasterize(points: DataFrame, res: int, x_col: str = "x", y_col: str = "y",
              value_col: str | None = None) -> DataFrame:
    """(ix, iy, cell_id, n[, value_sum]) — one row per non-empty grid cell.

    ``value_col``: optional measure; its per-cell sum is emitted alongside
    the count (density rasters use the count alone)."""
    gx, gy = grid_cols(F.col(x_col), F.col(y_col), res)
    aggs = [F.count("*").alias("n")]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias("value_sum"))
    return (points.withColumn("ix", gx).withColumn("iy", gy)
            .groupBy("ix", "iy").agg(*aggs)
            .withColumn("cell_id", morton_cell_col(F.col("ix"), F.col("iy"), res))
            .withColumn("res", F.lit(res)))


def pool(raster: DataFrame, steps: int = 1, res: int | None = None) -> DataFrame:
    """Pyramid rollup: re-aggregate a rasterize() output ``steps`` levels
    coarser (each parent sums its 4^steps children) — a plain groupBy, no
    re-scan of the points. ``res``: the input raster's resolution; when None
    it is read from the carried ``res`` column via a small distinct probe
    that FAILS on mixed-resolution input (a union of pyramid levels pooled
    with one shift would silently mis-tag every Morton id). Fine
    interactively; pass ``res`` explicitly in pipelines to avoid the extra
    job."""
    if res is None:
        rows = raster.select("res").distinct().limit(2).collect()
        if not rows:
            return raster  # empty raster: nothing to pool
        if len(rows) > 1:
            raise ValueError(
                "pool(res=None) on mixed-resolution input "
                f"(saw res {sorted(int(r[0]) for r in rows)}); filter to one "
                "level or pass res explicitly")
        res = int(rows[0][0])
    res_out = res - steps
    if res_out < 0:
        raise ValueError(f"cannot pool below resolution 0 (steps={steps})")
    aggs = [F.sum("n").alias("n")]
    if "value_sum" in raster.columns:
        aggs.append(F.sum("value_sum").alias("value_sum"))
    return (raster.groupBy(F.shiftright("ix", steps).alias("ix"),
                           F.shiftright("iy", steps).alias("iy"))
            .agg(*aggs)
            .withColumn("cell_id", morton_cell_col(F.col("ix"), F.col("iy"), res_out))
            .withColumn("res", F.lit(res_out)))


def cell_bounds_cols(res: int):
    """(xmin, ymin, xmax, ymax) Column expressions for a cell's exact grid
    boundary, from its (ix, iy) columns — closed form, shared with the
    oracle SQL (same double ops in the same order)."""
    size = cell_mod.cell_size(res)
    xmin = F.col("ix") * F.lit(size) - F.lit(L)
    ymin = F.col("iy") * F.lit(size) - F.lit(L)
    return xmin, ymin, xmin + F.lit(size), ymin + F.lit(size)


def vectorize(raster: DataFrame, res: int, predicate=None) -> DataFrame:
    """Raster -> vector: one polygon (the cell's grid boundary, a closed
    5-point ring in the engine's list-of-rings layout) per cell passing
    ``predicate`` (a Column; None keeps all cells). Output rows feed the
    same PIP/bbox machinery as any other polygon table."""
    r = raster if predicate is None else raster.filter(predicate)
    xmin, ymin, xmax, ymax = cell_bounds_cols(res)
    r = r.withColumn("xmin", xmin).withColumn("ymin", ymin) \
         .withColumn("xmax", xmax).withColumn("ymax", ymax)
    ring = F.array(
        F.array("xmin", "ymin"), F.array("xmax", "ymin"),
        F.array("xmax", "ymax"), F.array("xmin", "ymax"),
        F.array("xmin", "ymin"))
    return r.withColumn("rings", F.array(ring)) \
        .select("cell_id", "ix", "iy", "n", "xmin", "ymin", "xmax", "ymax", "rings")


def zonal_stats(raster: DataFrame, polys: DataFrame, res: int,
                id_key: str = "osm_id", rings_key: str = "rings") -> DataFrame:
    """Per-polygon aggregates of the raster cells whose CENTER lies inside
    the polygon: (zone id, n_cells, n_points). Overlapping zones each
    receive the cell, like the reference's PIP join multiplicity. The
    polygons are tiled into grid cells that the cell centers equi-join
    (spatial.pip_match); the only other shuffle is the final zone groupBy."""
    size = cell_mod.cell_size(res)
    cx = (F.col("ix") + F.lit(0.5)) * F.lit(size) - F.lit(L)
    cy = (F.col("iy") + F.lit(0.5)) * F.lit(size) - F.lit(L)
    r = raster.withColumn("__cx", cx).withColumn("__cy", cy)
    zones = spatial.polygon_cells({"zone": polys.select(
        F.col(id_key).alias("osm_id"), F.col(id_key).alias("attr"),
        F.col(rings_key).alias("rings"))})
    return (spatial.pip_match(r, zones, "__cx", "__cy")
            .withColumn("zone", F.explode("zone"))
            .groupBy("zone")
            .agg(F.count("*").alias("n_cells"), F.sum("n").alias("n_points")))
