"""Hot-cell skew planning: histogram → salt factor.

The reference spreads hot key ranges with round-robin/hash partition
prefixes chosen statically (RoundRobinKeyIndexStrategy.java:44-113,
HashKeyIndexStrategy.java) and sizes splits from row-range histogram
statistics (SplitsProvider.java).  Our engine plans salting from DATA: a
coarse-cell histogram (one cheap aggregate, reusable as an ingest-time
statistic) decides how many replicas the shuffle join needs so no single
cell exceeds a target rows-per-task — AQE skew-join splitting remains the
runtime safety net for what the histogram missed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import sqlcells
from ..operators.spatial_join import add_point_cols


def cell_histogram(
    points: DataFrame,
    tier: int = 6,
    top_n: int = 100,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> list[tuple[int, int]]:
    """Top-N (cell, count) at a coarse tier — the PartitionStatistics /
    RowRangeHistogramStatistics analog, computed with one aggregation."""
    pts = add_point_cols(points, lon_col, lat_col)
    rows = (
        pts.select(F.expr(f"{sqlcells.cell_at_tier_expr('`_cell31`', tier)} AS cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc())
        .limit(top_n)
        .collect()
    )
    return [(int(r["cell"]), int(r["n"])) for r in rows]


def suggest_salt(
    histogram: list[tuple[int, int]], target_rows_per_task: int = 2_000_000, max_salt: int = 64
) -> int:
    """Salt factor so the hottest cell splits into <= target-sized slices.

    Returns 1 (no salting) when the data is balanced — salting has a cost
    (replicating the build side), so it must be earned.
    """
    if not histogram:
        return 1
    hottest = histogram[0][1]
    salt = (hottest + target_rows_per_task - 1) // target_rows_per_task
    return max(1, min(int(salt), max_salt))


def plan_shuffle_join_salt(
    points: DataFrame,
    tier: int = 6,
    target_rows_per_task: int = 2_000_000,
) -> int:
    """One-stop: histogram the point side, return the salt factor to pass
    as ``tiered_spatial_join(..., broadcast_polygons=False, salt=...)``."""
    return suggest_salt(cell_histogram(points, tier), target_rows_per_task)
