"""Spatial-temporal index + queries — the (lon, lat, time) dimension family.

The reference's spatial-temporal index is a tiered SFC over (lon, lat,
time) with a calendar-unit binning strategy (default YEAR): bin id = epoch
period, value = offset within the period
(TemporalBinningStrategy.java:36-127, SpatialTemporalOptions.java:18), and
bias-dependent bits per dimension (SpatialTemporalDimensionalityTypeProvider
.java:184-221).  Multi-bin ranges become multiple binned datasets.

The Spark-first shape: the TIME BIN is a partition-grade column (year id),
and within a bin the spatial cell machinery applies unchanged — a
spatio-temporal range query is `bin IN (bins(t0, t1)) AND cell-range AND
exact refine`, and a spatio-temporal join is the same packed-key equi-join
with the bin folded into the join key.  This preserves exactly what the
reference's time dimension buys (time-range pruning via key prefix) while
letting the columnar layout partition/sort by (bin, cell) — the analog of
its [tier | bin | sfc] key order (TieredSFCIndexStrategy.java:386-395).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .spatial_join import add_point_cols

EPOCH_NTZ = "CAST('1970-01-01 00:00:00' AS TIMESTAMP_NTZ)"


def epoch_us_expr(ts_col: str) -> Column:
    """NTZ-safe epoch micros (tz-independent; DuckDB twin: epoch_us)."""
    return F.expr(f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, {ts_col})")


BIN_UNITS = ("year", "month", "day", "hour")


def time_bin_expr(ts_col: str, unit: str = "year") -> Column:
    """Calendar bin id for any TemporalBinningStrategy periodicity
    (YEAR default, SpatialTemporalOptions.java:18; MONTH/DAY/HOUR are the
    other units the reference's binning strategy enumerates).

    Bin ids nest lexicographically: year*1 | year*100+month | ... so a
    coarser range maps to a contiguous id range at any unit.  DuckDB twin:
    same arithmetic over year()/month()/day()/hour() on the identical NTZ
    timestamp — calendar splits are engine-independent.
    """
    if unit not in BIN_UNITS:
        raise ValueError(f"unit must be one of {BIN_UNITS}")
    ts = ts_col if isinstance(ts_col, Column) else F.col(ts_col)
    y = F.year(ts).cast("long")
    if unit == "year":
        return y
    m = y * 100 + F.month(ts).cast("long")
    if unit == "month":
        return m
    d = m * 100 + F.dayofmonth(ts).cast("long")
    if unit == "day":
        return d
    return d * 100 + F.hour(ts).cast("long")


def year_bin_expr(ts_col: str) -> Column:
    """Calendar-year bin id (TemporalBinningStrategy YEAR periodicity)."""
    return time_bin_expr(ts_col, "year")


def add_st_cols(
    df: DataFrame, ts_col: str = "ts", lon_col: str = "lon", lat_col: str = "lat",
    unit: str = "year",
) -> DataFrame:
    """Add (_bin, _cell31) — the spatial-temporal key columns."""
    return add_point_cols(df, lon_col, lat_col).withColumn("_bin", time_bin_expr(ts_col, unit))


def time_binned_counts(
    points: DataFrame, unit: str, tier: int = 6, ts_col: str = "ts",
    lon_col: str = "lon", lat_col: str = "lat",
) -> DataFrame:
    """Per-(time-bin, coarse-cell) counts — the spatio-temporal rollup
    (bin + cell is exactly the reference's [bin | sfc] key prefix order)."""
    from .. import sqlcells

    df = add_st_cols(points, ts_col, lon_col, lat_col, unit)
    cell = F.expr(f"{sqlcells.cell_at_tier_expr('`_cell31`', tier)} AS cell")
    return (
        df.select(F.col("_bin").alias("bin"), cell)
        .groupBy("bin", "cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def st_range_query(
    points: DataFrame,
    bbox: tuple[float, float, float, float],
    t0_us: int,
    t1_us: int,
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
    loose: bool = False,
    unit: str = "year",
) -> DataFrame:
    """Spatio-temporal range query: time-bin prune + bbox + exact refine.

    Bin pruning mirrors the reference's per-bin range decomposition
    (BinnedNumericDataset): the filter rides the SAME ``_bin`` column
    ``add_st_cols`` adds (sargable on a (bin, cell)-sorted layout at any
    ``unit`` periodicity — bin ids nest, so the bound is one BETWEEN); the
    exact epoch-micros refine then applies the precise window inside
    surviving bins.
    """
    from .stats import range_lookup

    added = [c for c in ("_bin", "_cell31") if c not in points.columns]
    df = add_st_cols(points, ts_col, lon_col, lat_col, unit=unit)
    eus = epoch_us_expr(ts_col)
    # bin bounds: the same bin expression evaluated at the window's two
    # endpoint instants (pure literal folding — no per-row cost)
    lo_ts = f"timestampadd(MICROSECOND, {t0_us}, {EPOCH_NTZ})"
    hi_ts = f"timestampadd(MICROSECOND, {t1_us}, {EPOCH_NTZ})"
    out = df.filter(
        F.col("_bin").between(
            time_bin_expr(F.expr(lo_ts), unit), time_bin_expr(F.expr(hi_ts), unit)
        )
    )
    if not loose:
        out = out.filter((eus >= t0_us) & (eus <= t1_us))
    # return the CALLER's schema: drop the helper key columns add_st_cols
    # added
    return range_lookup(out, bbox, lon_col=lon_col, lat_col=lat_col, loose=loose).drop(*added)


def st_join(
    points: DataFrame,
    polygons_with_time: DataFrame,
    ts_col: str = "ts",
    point_id: str = "event_id",
    polygon_id: str = "polygon_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Spatio-temporal join: spatial tiered join + per-pair time-window
    refine.  The polygon side carries (t0_us, t1_us); the event time rides
    THROUGH the join as a carried point column (either join path: no
    second scan of points, no point_id shuffle) and is tested against the
    windows joined back by polygon id.

    Semantics: pairs where the point is inside the polygon AND
    t0_us <= ts < t1_us — the reference's SpatialTemporalQuery shape
    (spatial constraint × temporal constraint range).
    """
    from .spatial_join import tiered_spatial_join

    windows = polygons_with_time.select(polygon_id, "t0_us", "t1_us")
    pairs = tiered_spatial_join(
        points.withColumn("_ts_us", epoch_us_expr(ts_col)),
        polygons_with_time.select(polygon_id, "wkt"),
        point_id=point_id, polygon_id=polygon_id,
        lon_col=lon_col, lat_col=lat_col, carry_cols=("_ts_us",),
    )
    return (
        pairs.join(F.broadcast(windows), polygon_id)
        .filter((F.col("_ts_us") >= F.col("t0_us")) & (F.col("_ts_us") < F.col("t1_us")))
        .select(point_id, polygon_id)
    )
