"""Skew handling: salted repartitioning + adaptive cell splitting (X8), and
the shuffle-based tiled PIP join for polygon sets too large to broadcast.

The reference has no skew story (Postgres GiST hides it, SURVEY.md X8); at
10^12 points a dense-city mega-cell (the fixture's Bigstadt holds >40% of all
houses in one res-15 cell) would pin a single task. Two composable remedies:

  * ``adaptive_cells``: split cells whose row count exceeds a threshold to
    child resolution (two-level cell ids) — both join sides must apply the
    same hot-cell map, provided as a small broadcast dict.
  * ``salted``: append a deterministic salt (hash % k) for hot keys; the
    probe side explodes to all k salts.
  * Spark AQE skew-join splitting is enabled by session.py as the runtime
    backstop.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType, LongType

from . import cells as cell_mod


def cell_histogram(df: DataFrame, cell_col: str = "cell_id") -> DataFrame:
    return df.groupBy(cell_col).agg(F.count("*").alias("rows"))


def hot_cells(df: DataFrame, threshold: int, cell_col: str = "cell_id") -> dict[int, int]:
    """cell_id -> row count for cells above threshold (collected: hot cells
    are few by construction)."""
    rows = cell_histogram(df, cell_col).filter(F.col("rows") > threshold).collect()
    return {int(r[cell_col]): int(r["rows"]) for r in rows}


def _require_uniform_res(hot) -> None:
    """All hot-cell ids must share one resolution: the split kernel reads the
    resolution off one member cell, so a mixed-resolution map would silently
    mis-encode every other cell's children. The ETL loop guarantees
    uniformity (round k's hot cells are all round k-1 children) but a direct
    caller gets a loud error instead of corrupt ids."""
    ress = {int(c) >> 53 for c in hot}
    if len(ress) > 1:
        raise ValueError(f"hot-cell map mixes resolutions {sorted(ress)}; "
                         "split per-resolution instead")


def adaptive_cells(spark, df: DataFrame, hot: dict[int, int], steps: int = 2,
                   cell_col: str = "cell_id", x_col: str = "x", y_col: str = "y") -> DataFrame:
    """Re-encode rows in hot cells at child resolution (+steps); cold rows
    keep their cell id. Deterministic given the hot-cell map."""
    _require_uniform_res(hot)
    bc = spark.sparkContext.broadcast(set(hot))

    @F.pandas_udf(LongType())
    def _split(cell: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
        c = cell.to_numpy(np.int64)
        out = c.copy()
        mask = np.isin(c, np.fromiter(bc.value, dtype=np.int64)) if bc.value else np.zeros(len(c), bool)
        if mask.any():
            res = int((c[mask][0] >> np.int64(53)))
            out[mask] = cell_mod.encode(
                x.to_numpy(np.float64)[mask], y.to_numpy(np.float64)[mask], res + steps)
        return pd.Series(out)

    return df.withColumn(cell_col, _split(F.col(cell_col), F.col(x_col), F.col(y_col)))


def adaptive_query_cells(spark, hot: dict[int, int], steps: int = 2):
    """Probe-side companion: expands a covering-cell array so hot parent
    cells are replaced by their res+steps descendants (4^steps children) —
    keeping the equi-join aligned with ``adaptive_cells`` output."""
    _require_uniform_res(hot)
    bc = spark.sparkContext.broadcast(set(hot))

    @F.pandas_udf(ArrayType(LongType()))
    def _expand(cov: pd.Series) -> pd.Series:
        out = []
        for arr in cov:
            expanded = []
            for c in arr:
                if int(c) in bc.value:
                    kids = np.asarray([int(c)], dtype=np.int64)
                    for _ in range(steps):
                        kids = np.concatenate([cell_mod.children(int(k)) for k in kids])
                    expanded.extend(kids.tolist())
                else:
                    expanded.append(int(c))
            out.append(expanded)
        return pd.Series(out)

    return _expand


def salted(df: DataFrame, key_col: str, k: int, salt_col: str = "salt",
           id_col: str | None = None) -> DataFrame:
    """Deterministic salt for the build side of a hot-key join."""
    src = F.col(id_col) if id_col else F.col(key_col)
    return df.withColumn(salt_col, F.pmod(F.xxhash64(src), F.lit(k)).cast("int"))


def explode_salts(df: DataFrame, k: int, salt_col: str = "salt") -> DataFrame:
    """Probe side: replicate each row across all k salts."""
    return df.withColumn(salt_col, F.explode(F.array([F.lit(i) for i in range(k)])))


def verify_pairs_kernel(pids: np.ndarray, xs: np.ndarray, ys: np.ndarray,
                        rings: "pd.Series") -> np.ndarray:
    """Exact-PIP verification of candidate (point, polygon) pairs, grouped by
    polygon: within an Arrow batch all pairs of one polygon carry identical
    rings (the equi-join replicated the build row), so parse each polygon's
    rings ONCE and run the vectorized ray-casting kernel over all its points
    in one call — instead of per-row Python with per-row ring re-parsing.
    Measured >=10x on 1e5-pair batches (tests/test_tiling.py)."""
    from .geometry import as_rings, points_in_polygon

    out = np.zeros(len(xs), dtype=bool)
    if len(xs) == 0:
        return out
    order = np.argsort(pids, kind="stable")
    bounds = np.flatnonzero(np.diff(pids[order])) + 1
    for grp in np.split(order, bounds):
        rr = as_rings(rings.iloc[grp[0]])
        out[grp] = points_in_polygon(xs[grp], ys[grp], rr)
    return out


def tiled_pip_join(spark, points: DataFrame, polys: DataFrame, res: int,
                   x_col: str = "x", y_col: str = "y",
                   id_key: str = "osm_id", attr_key: str = "name",
                   rings_key: str = "rings", how: str = "inner") -> DataFrame:
    """Shuffle-based PIP join for when the polygon side does NOT fit in a
    broadcast: polygons explode to covering cells (a DataFrame), points get a
    cell id, equi-join on cell, exact PIP verification per pair via an
    Arrow kernel. Complements spatial.pip_join (the broadcast path)."""
    from .etl import cell_col_jvm
    from pyspark.sql.types import BooleanType

    @F.pandas_udf(ArrayType(LongType()))
    def _cov(xmin: pd.Series, ymin: pd.Series, xmax: pd.Series, ymax: pd.Series) -> pd.Series:
        cov = cell_mod.covering_cells_bbox(
            xmin.to_numpy(np.float64), ymin.to_numpy(np.float64),
            xmax.to_numpy(np.float64), ymax.to_numpy(np.float64), res)
        return pd.Series([c.tolist() for c in cov])

    tiled = polys.select(
        F.col(id_key).alias("__pid"), F.col(attr_key).alias("__attr"), F.col(rings_key).alias("__rings"),
        F.explode(_cov(F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"))).alias("__cell"))

    pts = points.withColumn("__cell", cell_col_jvm(F.col(x_col), F.col(y_col), res))

    @F.pandas_udf(BooleanType())
    def _verify(pid: pd.Series, x: pd.Series, y: pd.Series, rings: pd.Series) -> pd.Series:
        # per-polygon vectorized verification — this matters precisely on
        # the too-big-to-broadcast path this join exists for. NULL pids
        # (left-join rows whose cell hit no polygon tile) verify to False.
        valid = pid.notna().to_numpy()
        out = np.zeros(len(pid), dtype=bool)
        if valid.any():
            out[valid] = verify_pairs_kernel(
                pid[valid].to_numpy(np.int64),
                x[valid].to_numpy(np.float64),
                y[valid].to_numpy(np.float64), rings[valid])
        return pd.Series(out)

    if how == "inner":
        pairs = pts.join(tiled, "__cell", "inner")
        return pairs.filter(_verify(F.col("__pid"), F.col(x_col), F.col(y_col),
                                    F.col("__rings"))) \
            .drop("__rings", "__cell")

    # left: every input point must survive exactly as many times as it has
    # containing polygons, or ONCE with NULL attrs when it has none. Points
    # are identified by a carried surrogate id — never by (x, y) float
    # equality, which merges distinct points sharing coordinates (VERDICT r3
    # wrong-item 1). The id lives only inside this plan: the left join keeps
    # id-less points as NULL-pid rows, and one window over the id picks
    # either all verified rows or a single NULL-attr representative.
    pts = pts.withColumn("__ptid", F.monotonically_increasing_id())
    pairs = pts.join(tiled, "__cell", "left")
    pairs = pairs.withColumn(
        "__ok", _verify(F.col("__pid"), F.col(x_col), F.col(y_col), F.col("__rings")))
    w = Window.partitionBy("__ptid")
    pairs = (pairs
             .withColumn("__nok", F.sum(F.col("__ok").cast("int")).over(w))
             .withColumn("__rn", F.row_number().over(
                 w.orderBy(F.col("__pid").asc_nulls_last()))))
    return (pairs
            .filter(F.col("__ok") | ((F.col("__nok") == 0) & (F.col("__rn") == 1)))
            .withColumn("__pid", F.when(F.col("__ok"), F.col("__pid")))
            .withColumn("__attr", F.when(F.col("__ok"), F.col("__attr")))
            .drop("__rings", "__cell", "__ok", "__nok", "__rn", "__ptid"))
