"""Skew handling: adaptive cell splitting (X8).

The reference has no skew story (Postgres GiST hides it, SURVEY.md X8); at
10^12 points a dense-city mega-cell (the fixture's Bigstadt holds >40% of all
houses in one res-15 cell) would pin a single task. Two remedies:

  * ``adaptive_cells``: split cells whose row count exceeds a threshold to
    child resolution (two-level cell ids), re-encoded by JVM bit math from
    a small collected hot-cell map.
  * Spark AQE skew-join splitting is enabled by session.py as the runtime
    backstop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .etl import cell_col_jvm


def cell_histogram(df: DataFrame, cell_col: str = "cell_id") -> DataFrame:
    return df.groupBy(cell_col).agg(F.count("*").alias("rows"))


def hot_cells(df: DataFrame, threshold: int, cell_col: str = "cell_id") -> dict[int, int]:
    """cell_id -> row count for cells above threshold (collected: hot cells
    are few by construction)."""
    rows = cell_histogram(df, cell_col).filter(F.col("rows") > threshold).collect()
    return {int(r[cell_col]): int(r["rows"]) for r in rows}


def _require_uniform_res(hot) -> None:
    """All hot-cell ids must share one resolution: the split reads the
    resolution off one member cell, so a mixed-resolution map would silently
    mis-encode every other cell's children. The ETL loop guarantees
    uniformity (round k's hot cells are all round k-1 children) but a direct
    caller gets a loud error instead of corrupt ids."""
    ress = {int(c) >> 53 for c in hot}
    if len(ress) > 1:
        raise ValueError(f"hot-cell map mixes resolutions {sorted(ress)}; "
                         "split per-resolution instead")


def adaptive_cells(df: DataFrame, hot: dict[int, int], steps: int = 2,
                   cell_col: str = "cell_id", x_col: str = "x", y_col: str = "y") -> DataFrame:
    """Re-encode rows in hot cells at child resolution (+steps); cold rows
    keep their cell id. Deterministic given the hot-cell map."""
    _require_uniform_res(hot)
    if not hot:
        return df
    res = int(next(iter(hot))) >> 53
    return df.withColumn(cell_col, F.when(
        F.col(cell_col).isin([int(c) for c in hot]),
        cell_col_jvm(F.col(x_col), F.col(y_col), res + steps)).otherwise(F.col(cell_col)))
