"""Kernel density estimation over the tile grid — the reference's KDE
pipeline (analytics/spark/.../kde/KDERunner.java:234-316,458-549; kernel
analytics/mapreduce/.../kde/GaussianFilter.java:81-156) as one declarative
plan:

    per point: cell (x, y) on the level-ℓ grid (2^(ℓ+1) × 2^ℓ)
    explode a (2r+1)² literal offset table with gaussian weights
      (σ=1 cell, radius 3 — GaussianFilter's smear)       — JVM-only
    groupBy(cell) sum(weight)          (map-side partial agg soaks the 49×)
    normalized = weight / max() over ()                    (global max)
    percentile = percent_rank() over (order by weight)     (rank semantics
      of KDERunner.java:252-291: sortByKey desc + zipWithIndex)

Output = the reference's 3 bands (Weight, Normalized, Percentile) as columns
of a (level, x, y) row — the columnar twin of its 3-band raster tile.
Everything is built-in SQL; the oracle (DuckDB) runs the same algebra.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .spatial_join import add_point_cols

RADIUS = 3  # cells, like GaussianFilter
SIGMA = 1.0


def _smear(pts: DataFrame, level: int, lon_col: str, lat_col: str, offsets) -> DataFrame:
    """Shared kernel smear: cell on the level grid (the tile grid — one
    convention, sqlcells.tile_*_expr) → explode the offset table → wrapped
    x / clamped y.  ``offsets``: [(dx, dy, weight Column literal)]."""
    from .. import sqlcells

    nx, ny = 1 << (level + 1), 1 << level
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"), w.alias("w"))
            for dx, dy, w in offsets
        ]
    )
    return (
        pts.select(
            F.expr(f"{sqlcells.tile_x_expr(sqlcells._col_ref(lon_col), level)} AS _cx"),
            F.expr(f"{sqlcells.tile_y_expr(sqlcells._col_ref(lat_col), level)} AS _cy"),
        )
        .withColumn("_o", F.explode(offs))
        .select(
            F.pmod(F.col("_cx") + F.col("_o.dx"), F.lit(nx)).alias("x"),  # lon wraps
            (F.col("_cy") + F.col("_o.dy")).alias("y"),
            F.col("_o.w").alias("w"),
        )
        .filter((F.col("y") >= 0) & (F.col("y") < ny))  # lat clamps
    )


def gaussian_offsets(radius: int = RADIUS, sigma: float = SIGMA) -> list[tuple[int, int, float]]:
    out = []
    for dx in range(-radius, radius + 1):
        for dy in range(-radius, radius + 1):
            out.append((dx, dy, math.exp(-(dx * dx + dy * dy) / (2.0 * sigma * sigma))))
    return out


def kde(
    points: DataFrame,
    level: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
    radius: int = RADIUS,
    sigma: float = SIGMA,
) -> DataFrame:
    """(level, x, y, weight, normalized, percentile) KDE surface."""
    pts = add_point_cols(points, lon_col, lat_col)
    smeared = _smear(
        pts, level, lon_col, lat_col,
        [(dx, dy, F.lit(w)) for dx, dy, w in gaussian_offsets(radius, sigma)],
    )
    agg = smeared.groupBy("x", "y").agg(F.sum("w").alias("weight"))
    w_all = Window.partitionBy()
    w_rank = Window.partitionBy().orderBy(F.col("weight").asc())
    return (
        agg.withColumn("level", F.lit(level))
        .withColumn("normalized", F.col("weight") / F.max("weight").over(w_all))
        .withColumn("percentile", F.percent_rank().over(w_rank))
        .select("level", "x", "y", "weight", "normalized", "percentile")
    )


def add_percentile_scalable(agg: DataFrame, weight_col: str = "weight_mu") -> DataFrame:
    """Scalable global rank/percentile — no single-partition window.

    ``percent_rank() OVER (ORDER BY w)`` funnels every row through ONE
    window partition; at 100 TB that stage is the bottleneck.  The
    reference's own KDE does a distributed sort + zipWithIndex
    (RangePartitioner + sortByKey, KDERunner.java:252-259); the DataFrame
    twin:

      1. repartitionByRange(weight) + sortWithinPartitions — a distributed
         range sort;
      2. per-partition row counts (tiny collect) → cumulative offsets;
      3. global index = partition offset + local row_number (window
         PARTITIONED BY the range partition — parallel, not global);
      4. percent_rank = (index - ties_adjust) / (n - 1) with
         min-rank-per-weight tie semantics, matching percent_rank exactly
         (equality asserted in tests).

    Returns agg plus ``pct_mu`` and ``norm_mu`` (normalized uses a scalar
    max — broadcast literal, not a window).
    """
    # materialize the aggregated grid ONCE — the stats probe, the bucket
    # counts, and the final projection are three separate jobs that would
    # otherwise each recompute the full upstream smear+shuffle pipeline
    agg = agg.localCheckpoint()
    stats_row = agg.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(weight_col).alias("mx"),
    ).collect()[0]
    n, max_w = stats_row["n"], stats_row["mx"]
    if n == 0:
        return agg.withColumn("norm_mu", F.lit(0).cast("long")).withColumn(
            "pct_mu", F.lit(0).cast("long")
        )
    # Rank over the DISTINCT weights, not the rows: min-rank tie semantics
    # mean every row with the same weight gets the same index (= count of
    # strictly-smaller rows), so ties need no intra-group ordering at all.
    # Ranking the distinct-values frame and joining the index back makes
    # the window work proportional to |distinct weights|, and — crucially —
    # immune to tie skew: a 10^9-row grid where most cells share one of ~10
    # kernel-sum values (the sparse single-point-cell case) collapses to a
    # 10-row ranking frame instead of funneling 10^8-row tie groups through
    # single window tasks (round-3 seventh-batch review).
    dist = (
        agg.groupBy(weight_col).agg(F.count(F.lit(1)).alias("_cnt")).localCheckpoint()
    )
    # value bucketing over the distinct frame: bucket is a PURE FUNCTION of
    # the weight (deterministic across re-executions), and each weight
    # appears exactly once, so equi-depth edges always split the work —
    # no tie group can overflow a bucket.  Capped at 512: the per-row
    # bucket expression is an O(n_buckets) literal fold, and 512 buckets
    # bound both the expression size (codegen limits) and the collect
    # below while leaving |distinct|/512 values per window task.
    n_buckets = min(max(agg.sparkSession.sparkContext.defaultParallelism * 4, 8), 512)
    probs = [i / n_buckets for i in range(1, n_buckets)]
    edges = sorted(set(dist.stat.approxQuantile(weight_col, probs, 0.01)))
    if edges:
        earr = F.array(*[F.lit(float(e)) for e in edges])
        bucket = F.aggregate(
            earr,
            F.lit(0),
            lambda acc, e: acc + F.when(F.col(weight_col).cast("double") > e, 1).otherwise(0),
        ).cast("int")
    else:
        bucket = F.lit(0).cast("int")
    db = dist.withColumn("_bkt", bucket)
    # bucket offsets in ROW counts (tiny collect: one row per bucket)
    counts = {
        r["_bkt"]: r["rows"]
        for r in db.groupBy("_bkt").agg(F.sum("_cnt").alias("rows")).collect()
    }
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    off_map = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    # rows strictly smaller = bucket offset + running row count of the
    # smaller distinct weights within the bucket (parallel per-bucket
    # windows over the distinct frame — never a single global partition)
    w_local = (
        Window.partitionBy("_bkt")
        .orderBy(F.col(weight_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranks = db.withColumn(
        "_minidx",
        off_map[F.col("_bkt")] + F.coalesce(F.sum("_cnt").over(w_local), F.lit(0)),
    ).select(weight_col, "_minidx")
    # each agg row matches exactly one rank row; Spark broadcasts the rank
    # side when small (the tie-heavy case) and shuffle-joins otherwise
    indexed = agg.join(ranks, weight_col)
    mu = lambda c: F.floor(c * 1e6 + F.lit(0.5)).cast("long")  # noqa: E731
    denom = float(max(n - 1, 1))
    return (
        indexed.withColumn("norm_mu", mu(F.col(weight_col) / F.lit(float(max_w))))
        .withColumn("pct_mu", mu(F.col("_minidx").cast("double") / F.lit(denom)))
        .drop("_minidx")
    )


def kde_pyramid(
    points: DataFrame,
    levels: list[int],
    lon_col: str = "lon",
    lat_col: str = "lat",
    scalable_percentile: bool = True,
) -> DataFrame:
    """KDE across a pyramid of levels in one frame — the reference's KDE
    loops level ∈ [minLevel, maxLevel] emitting one raster per level
    (KDERunner.java:234-316); here the levels union into a single
    (level, x, y, weight_mu, norm_mu, pct_mu) result, normalization and
    percentile computed PER LEVEL like the reference."""
    if not levels:
        raise ValueError("kde_pyramid: levels must be non-empty")
    out = None
    for lvl in levels:
        part = kde_exact(points, lvl, lon_col, lat_col, scalable_percentile=scalable_percentile)
        out = part if out is None else out.unionByName(part)
    return out


def gaussian_offsets_mu(radius: int = RADIUS, sigma: float = SIGMA) -> list[tuple[int, int, int]]:
    """Kernel weights as exact integer micro-units — makes the per-cell sums
    order-independent bigint arithmetic, bit-identical across engines."""
    return [
        (dx, dy, int(math.floor(w * 1e6 + 0.5)))
        for dx, dy, w in gaussian_offsets(radius, sigma)
    ]


def kde_exact(
    points: DataFrame,
    level: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
    radius: int = RADIUS,
    sigma: float = SIGMA,
    scalable_percentile: bool = True,
) -> DataFrame:
    """Integer-exact KDE: (level, x, y, weight_mu, norm_mu, pct_mu).

    ``scalable_percentile=True`` (the default) computes the global
    rank/percentile via :func:`add_percentile_scalable` — a distributed
    range sort with NO single-partition window, the plan that survives
    100 TB.  ``False`` keeps the small-data shortcut
    (``percent_rank() OVER (ORDER BY w)``) whose output it is
    equality-tested against.

    Identical plan to :func:`kde`, but kernel weights are integer
    micro-units so the groupBy sum is exact bigint math, and the two
    derived bands are re-quantized — the cross-engine-reproducible flavor
    used by the correctness gate.
    """
    pts = add_point_cols(points, lon_col, lat_col)
    smeared = _smear(
        pts, level, lon_col, lat_col,
        [(dx, dy, F.lit(w).cast("long")) for dx, dy, w in gaussian_offsets_mu(radius, sigma)],
    )
    agg = smeared.groupBy("x", "y").agg(F.sum("w").alias("weight_mu"))
    if scalable_percentile:
        # identical values (tested), no single-partition window — the
        # 100 TB path
        out = add_percentile_scalable(agg)
    else:
        w_all = Window.partitionBy()
        w_rank = Window.partitionBy().orderBy(F.col("weight_mu").asc())
        mu = lambda c: F.floor(c * 1e6 + F.lit(0.5)).cast("long")  # noqa: E731
        out = agg.withColumn(
            "norm_mu", mu(F.col("weight_mu") / F.max("weight_mu").over(w_all))
        ).withColumn("pct_mu", mu(F.percent_rank().over(w_rank)))
    return out.withColumn("level", F.lit(level).cast("long")).select(
        "level", "x", "y", "weight_mu", "norm_mu", "pct_mu"
    )
