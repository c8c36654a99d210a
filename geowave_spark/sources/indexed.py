"""Cell-indexed table layouts — the storage-side index.

The reference's core trick is that the KV row key IS the spatial index, so
range scans touch only matching tablets (SURVEY.md §1.1).  The columnar
equivalent: store the SFC key as a column, range-partition files by it and
sort rows within files (``_sorted_layout``, the one layout rule every
writer here, the maintained store and the Iceberg writer share) — then
Parquet/Iceberg min-max statistics prune row groups for any sargable key
predicate, and Catalyst shows the filter as PushedFilters at the scan.  A
bbox query is key-range scans plus one exact refine.

Layouts: Z-order ``cell`` (``write_indexed``; projected CRSs via
``write_indexed_crs``), Hilbert ``hd``, spherical ``s2``, XZ ``xz`` for
extents, the mixed point+extent ``(kind, code)`` layout, and the
spatio-temporal ``(_bin, _stkey)`` layout with sub-bin time keying.

Design choice: the stored ``cell`` is the FINEST-tier cell (31 bits/dim).
Coarser-tier lookups rewrite to range predicates on it — a tier-t cell c
covers exactly [c << 2*(31-t), (c+1) << 2*(31-t)) — so one stored column
serves every tier, exactly like the reference's common SFC prefix ordering
(TieredSFCIndexStrategy tier prefixes).  Every point-in-bbox lookup over a
stored ``cell`` goes through ``range_filter_frame``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import cells, sqlcells


def ensure_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Re-split an under-partitioned scan to the session's parallelism.

    The reference sizes input splits from row-range histogram statistics so
    every worker gets work regardless of tablet layout (SplitsProvider /
    RangeLocationPair); the columnar analog: a small parquet file arrives
    as ONE scan partition (`spark.sql.files.maxPartitionBytes` floor) and
    would serialize every downstream stage, so round-robin it out to the
    core count.  Large tables already scan with >= parallelism splits and
    pass through UNTOUCHED — no shuffle is added at real scale.
    """
    spark = df.sparkSession
    target = min_parts or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min(target, 8):
        return df.repartition(target)
    return df


def with_cell_column(
    df: DataFrame, lon_col: str = "lon", lat_col: str = "lat",
    phash_col: str | None = "phash", bounds=None,
) -> DataFrame:
    """Add the finest-tier cell column (JVM-only bit math).  ``bounds``:
    custom per-dimension frame for projected CRSs (clamped, no wrap)."""
    df = sqlcells._with_phash_coords(df, lon_col, lat_col, phash_col)
    return sqlcells.add_cell_column(df, lon_col, lat_col, cells.MAX_TIER, "cell", bounds=bounds)


def _sorted_layout(df: DataFrame, n_files: int, *keys: str) -> DataFrame:
    """The stored-layout rule every writer shares: range-partition by the
    key columns across ``n_files`` files, sort by them within each file —
    so parquet/Iceberg min-max statistics prune on any key range.  The
    caller picks the sink (parquet overwrite, append run, Iceberg table)."""
    return df.repartitionByRange(n_files, *keys).sortWithinPartitions(*keys)


def write_indexed(
    df: DataFrame,
    path: str,
    n_files: int = 32,
    lon_col: str = "lon",
    lat_col: str = "lat",
    phash_col: str | None = "phash",
    bounds=None,
) -> None:
    """Write a cell-indexed copy: range-partitioned by cell across files,
    sorted by cell within files → min-max pruning on any cell range."""
    out = with_cell_column(df, lon_col, lat_col, phash_col, bounds=bounds)
    _sorted_layout(out, n_files, "cell").write.mode("overwrite").parquet(path)


def cell_range_predicate(
    bbox: tuple[float, float, float, float], max_cells: int = 64, col: str = "cell",
    bounds=None,
):
    """bbox → sargable predicate on the stored finest-tier cell column.

    Driver-side cover at an adaptive tier, each tier-t cell expanded to its
    finest-tier range — the exact analog of the reference's
    getQueryRanges SFC range decomposition (TieredSFCIndexStrategy:109-158).
    Returns (predicate Column, n_ranges).
    """
    # closed=True: a stored point exactly on the bbox's upper edge floors
    # into the NEXT cell when that edge lies on a cell line — the open
    # (insert-rule) cover would prune it before the <=-inclusive refine
    tier = cells.tier_for_bbox(bbox, max_dup=max_cells, closed=True, bounds=bounds)
    cover = cells.cells_for_bbox_at_tier(bbox, tier, closed=True, bounds=bounds)
    shift = 2 * (cells.MAX_TIER - tier)
    # merge consecutive cells into ranges (getQueryRanges emits RANGES):
    # Z-order covers contain long runs, so this typically collapses a
    # 64-term OR into a handful of BETWEENs — smaller pushed predicate,
    # compact codegen (and n_ranges now really counts ranges)
    ranges = cells.ranges_for_cover(cover)
    pred = sqlcells.ranges_pred(
        col, [(lo_c << shift, ((hi_c + 1) << shift) - 1) for lo_c, hi_c in ranges]
    )
    return pred, len(ranges)


HILBERT_TIER = 16  # bits/dim for the stored Hilbert layout (d < 2^32)


def write_indexed_hilbert(
    df: DataFrame,
    path: str,
    n_files: int = 32,
    tier: int = HILBERT_TIER,
    lon_col: str = "lon",
    lat_col: str = "lat",
    phash_col: str | None = "phash",
) -> None:
    """Point table → Hilbert-sorted layout (the reference's DEFAULT curve):
    stored ``hd`` column, files range-partitioned + sorted by it.  Hilbert's
    tighter range locality means fewer/denser query ranges than Z-order for
    the same bbox — the classic reason GeoWave defaults to it.  The curve
    id is computed in an Arrow-batched pandas UDF (storage/ingest path —
    query-side pruning is pure predicate pushdown)."""
    from .. import hilbert

    df = sqlcells._with_phash_coords(df, lon_col, lat_col, phash_col)

    @F.pandas_udf(T.LongType())
    def _hd(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(hilbert.latlon_to_hilbert(lon.to_numpy(), lat.to_numpy(), tier))

    out = df.withColumn("hd", _hd(F.col(lon_col), F.col(lat_col)))
    _sorted_layout(out, n_files, "hd").write.mode("overwrite").parquet(path)


def hilbert_range_lookup(
    spark: SparkSession,
    path: str,
    bbox: tuple[float, float, float, float],
    tier: int = HILBERT_TIER,
    lon_col: str = "lon",
    lat_col: str = "lat",
    loose: bool = False,
) -> DataFrame:
    """Range query on the Hilbert layout: driver-side d-range decomposition
    (budgeted) pushed to the scan + exact bbox refine.

    Antimeridian-crossing bboxes (wrapped or unwrapped) are split into
    per-hemisphere sub-boxes BEFORE decomposition (LongitudeDefinition
    wrap semantics) and the refine uses the wrap-aware predicate — a
    wrapped bbox fed straight to the d-range decomposition would clamp
    away one side and silently miss rows.
    """
    from .. import hilbert

    ranges = [
        r
        for b in cells.split_bbox_query(bbox)  # incl. the +180 seam column
        for r in hilbert.hilbert_query_ranges(b, tier)
    ]
    out = spark.read.parquet(path).filter(sqlcells.ranges_pred("hd", ranges))
    if not loose:
        out = out.filter(sqlcells.bbox_refine_pred(F.col(lon_col), F.col(lat_col), bbox))
    return out


S2_LEVEL = 14  # stored spherical level (6 * 4^14 ≈ 1.6e9 cells, ~2.4 km edge)


def write_indexed_s2(
    df: DataFrame,
    path: str,
    n_files: int = 32,
    level: int = S2_LEVEL,
    lon_col: str = "lon",
    lat_col: str = "lat",
    phash_col: str | None = "phash",
) -> None:
    """Point table → spherical S2-style layout: stored ``s2`` cell column
    (cube-face Hilbert, cells_s2.py), files range-partitioned + sorted by
    it.  Unlike the equirectangular layouts, polar data spreads across the
    polar faces instead of piling into degenerate high-latitude rows, so
    near-pole scans stay balanced.  The id is pure JVM Column algebra —
    the ingest path adds no Python stage at all (vs the pandas-UDF Hilbert
    layout)."""
    from .. import cells_s2

    df = sqlcells._with_phash_coords(df, lon_col, lat_col, phash_col)
    out = cells_s2.add_s2_cell_column(df, lon_col, lat_col, level, out="s2")
    _sorted_layout(out, n_files, "s2").write.mode("overwrite").parquet(path)


def s2_range_lookup(
    spark: SparkSession,
    path: str,
    bbox: tuple[float, float, float, float],
    level: int = S2_LEVEL,
    lon_col: str = "lon",
    lat_col: str = "lat",
    loose: bool = False,
) -> DataFrame:
    """Range query on the S2 layout: per-face budgeted quadtree cell-id
    range decomposition (cells_s2.query_ranges — getQueryRanges for the
    spherical family) pushed to the scan + exact bbox refine.  Wrapped
    antimeridian boxes split inside query_ranges; the refine uses the
    wrap-aware predicate."""
    from .. import cells_s2

    ranges = cells_s2.query_ranges(bbox, level)
    out = spark.read.parquet(path).filter(sqlcells.ranges_pred("s2", ranges))
    if not loose:
        out = out.filter(sqlcells.bbox_refine_pred(F.col(lon_col), F.col(lat_col), bbox))
    return out


def xz_code_udf():
    """Arrow-batched (x0, y0, x1, y1) → XZ code UDF (extent insert path)."""
    from .. import cells_xz

    @F.pandas_udf(T.LongType())
    def _xz(ax0: pd.Series, ay0: pd.Series, ax1: pd.Series, ay1: pd.Series) -> pd.Series:
        nx0 = cells.norm_lon(ax0.to_numpy())
        nx1 = np.where(ax1.to_numpy() == 180.0, 1.0, cells.norm_lon(ax1.to_numpy()))
        ny0 = cells.norm_lat(ay0.to_numpy())
        ny1 = cells.norm_lat(ay1.to_numpy())
        return pd.Series(cells_xz.xz_id(nx0, ny0, nx1, ny1))

    return _xz


def write_indexed_extents(
    df: DataFrame,
    path: str,
    n_files: int = 32,
    x0: str = "x0",
    y0: str = "y0",
    x1: str = "x1",
    y1: str = "y1",
) -> None:
    """Extent table → XZ-indexed layout: one code per extent (no
    duplication), files range-partitioned and sorted by the code — the
    columnar twin of the reference's XZ storage index for extents
    (XZHierarchicalIndexStrategy: points on a point curve, extents on an
    XZ curve, SURVEY.md §1.2).

    The XZ code is computed in an Arrow-batched pandas UDF (the extent
    side math needs the quadtree walk; still vectorized numpy per batch).
    """
    _xz = xz_code_udf()
    out = df.withColumn("xz", _xz(F.col(x0), F.col(y0), F.col(x1), F.col(y1)))
    _sorted_layout(out, n_files, "xz").write.mode("overwrite").parquet(path)


def xz_range_lookup(
    spark: SparkSession,
    path: str,
    bbox: tuple[float, float, float, float],
    x0: str = "x0",
    y0: str = "y0",
    x1: str = "x1",
    y1: str = "y1",
    loose: bool = False,
) -> DataFrame:
    """Extent range query on the XZ layout: code-range pushdown + exact
    bbox-intersects refine (XZOrderSFC query semantics).

    Wrapped/unwrapped antimeridian bboxes split into sub-boxes before the
    code-range decomposition, and the refine ORs the per-sub-box
    intersects tests (LongitudeDefinition wrap semantics)."""
    df = spark.read.parquet(path)
    out = df.filter(_xz_ranges_pred(bbox))
    if not loose:
        out = out.filter(
            sqlcells.extent_intersects_pred(
                F.col(x0), F.col(y0), F.col(x1), F.col(y1), bbox
            )
        )
    return out


def _xz_ranges_pred(bbox: tuple[float, float, float, float], col: str = "xz"):
    """bbox → sargable XZ code-range predicate (antimeridian-aware)."""
    from .. import cells_xz

    ranges = []
    for b in cells.split_bbox_query(bbox):  # incl. the +180 seam column
        qx0 = float(cells.norm_lon(np.float64(b[0])))
        qx1 = cells.norm_lon_upper(b[2])
        qy0 = float(cells.norm_lat(np.float64(b[1])))
        qy1 = float(cells.norm_lat(np.float64(b[3])))
        ranges.extend(cells_xz.xz_query_ranges(qx0, qy0, qx1, qy1, max_ranges=64))
    return sqlcells.ranges_pred(col, ranges)


def write_indexed_hier(
    df: DataFrame,
    path: str,
    n_files: int = 32,
    x0: str = "x0",
    y0: str = "y0",
    x1: str = "x1",
    y1: str = "y1",
) -> None:
    """Composite hierarchical layout for a MIXED point+extent table — the
    columnar twin of the reference's default storage index
    (XZHierarchicalIndexStrategy.java:100-218: points on the point curve,
    extents on the XZ curve, one physical index).

    A row with zero span (x0==x1, y0==y1) is a point: kind=0, code =
    finest-tier Morton cell (pure Column math).  Extent rows: kind=1,
    code = XZ id (Arrow-batched UDF).  Files are split by kind and
    range-partitioned + sorted by code within kind, so BOTH curves get
    min-max file/row-group pruning from one table.
    """
    is_point = F.coalesce(
        (F.col(x0) == F.col(x1)) & (F.col(y0) == F.col(y1)), F.lit(False)
    )
    pt_code = F.expr(
        sqlcells.cell_expr(sqlcells._col_ref(x0), sqlcells._col_ref(y0), cells.MAX_TIER)
    )
    xz_code = xz_code_udf()(F.col(x0), F.col(y0), F.col(x1), F.col(y1))
    # split by kind instead of when(is_point, ...): pandas UDFs inside a
    # CASE branch are extracted and evaluated on EVERY row, so the old
    # form paid the Arrow round-trip + Python quadtree walk for pure
    # point rows whose result was discarded — an all-points table now
    # stays 100% JVM on the write path
    pts_part = df.filter(is_point).withColumn("kind", F.lit(0)).withColumn("code", pt_code)
    ext_part = df.filter(~is_point).withColumn("kind", F.lit(1)).withColumn("code", xz_code)
    out = pts_part.unionByName(ext_part)
    _sorted_layout(out, n_files, "kind", "code").write.mode("overwrite").parquet(path)


def hier_range_lookup(
    spark: SparkSession,
    path: str,
    bbox: tuple[float, float, float, float],
    x0: str = "x0",
    y0: str = "y0",
    x1: str = "x1",
    y1: str = "y1",
    loose: bool = False,
) -> DataFrame:
    """Range query against the composite layout with fan-out over BOTH
    curves (XZHierarchicalIndexStrategy.getQueryRanges:163-218): point
    rows via Morton cell ranges, extent rows via XZ code ranges — one scan,
    one sargable OR-of-ranges predicate per kind, wrap-aware exact refine.
    """
    cell_pred, _ = cell_range_predicate(bbox, col="code")
    xz_pred = _xz_ranges_pred(bbox, col="code")
    df = spark.read.parquet(path)
    out = df.filter(
        ((F.col("kind") == 0) & cell_pred) | ((F.col("kind") == 1) & xz_pred)
    )
    if not loose:
        out = out.filter(
            F.when(
                F.col("kind") == 0,
                sqlcells.bbox_refine_pred(F.col(x0), F.col(y0), bbox),
            ).otherwise(
                sqlcells.extent_intersects_pred(
                    F.col(x0), F.col(y0), F.col(x1), F.col(y1), bbox
                )
            )
        )
    return out


def range_lookup_indexed(
    spark: SparkSession,
    path: str,
    bbox: tuple[float, float, float, float],
    lon_col: str = "lon",
    lat_col: str = "lat",
    loose: bool = False,
    bounds=None,
) -> DataFrame:
    """Range query against an indexed table: cell ranges reach the parquet
    scan as PushedFilters (row-group pruning via min-max on the sorted cell
    column), then exact bbox refine."""
    return range_filter_frame(
        spark.read.parquet(path), bbox, lon_col, lat_col, loose, bounds=bounds
    )


def range_filter_frame(
    df: DataFrame,
    bbox: tuple[float, float, float, float],
    lon_col: str = "lon",
    lat_col: str = "lat",
    loose: bool = False,
    bounds=None,
) -> DataFrame:
    """Points in ``bbox`` from an ALREADY-LOADED frame with a stored
    ``cell`` column: the one cell-range filter + exact refine behind every
    stored point lookup (range_lookup_indexed, IndexedStore.range_lookup
    on parquet and Iceberg, maintenance.lookup_store, stats.range_lookup
    on an indexed frame), so cover and seam fixes apply to all of them.
    The world-frame refine is antimeridian-aware; with custom ``bounds``
    (projected CRS) it is a plain closed interval — no antimeridian wrap
    exists in a projected frame."""
    pred, _ = cell_range_predicate(bbox, bounds=bounds)
    out = df.filter(pred)
    if not loose:
        if bounds is not None:
            x0, y0, x1, y1 = (float(v) for v in bbox)
            out = out.filter(
                F.col(lon_col).between(x0, x1) & F.col(lat_col).between(y0, y1)
            )
        else:
            out = out.filter(
                sqlcells.bbox_refine_pred(F.col(lon_col), F.col(lat_col), bbox)
            )
    return out


def cql_query_indexed(
    spark: SparkSession,
    path: str,
    expr: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    id_col: str | None = None,
    bounds=None,
) -> DataFrame:
    """CQL query against the cell-indexed layout — the OptimalCQLQuery
    analog (core/geotime/.../cql/OptimalCQLQuery.java: extract the filter's
    geometry via ExtractGeometryFilterVisitor, plan it into index ranges,
    run the full CQL as the fine filter).

    The bbox implied by the filter (AND-intersected, OR-unioned,
    NOT/attribute predicates unconstrained) becomes sargable cell ranges →
    PushedFilters row-group pruning, exactly like range_lookup_indexed;
    the complete CQL expression then refines exactly.  A filter with no
    spatial constraint degrades gracefully to a full scan + filter, and a
    provably-empty constraint (AND of disjoint boxes) short-circuits."""
    from ..functions import cql as _cql

    df = spark.read.parquet(path)
    con = _cql.extract_constraints(
        expr, geometry=(lon_col, lat_col), schema=df.schema, id_col=id_col
    )
    refine = _cql.cql_to_column(expr, (lon_col, lat_col), df.schema, id_col)
    if con.is_empty():
        return df.filter(F.lit(False))
    if con.bbox is not None:
        pred, _ = cell_range_predicate(con.bbox, bounds=bounds)
        df = df.filter(pred)
    return df.filter(refine)


def cql_query_indexed_st(
    spark: SparkSession,
    path: str,
    expr: str,
    time_col: str,
    unit: str = "year",
    bias: str = "balanced",
    lon_col: str = "lon",
    lat_col: str = "lat",
    budget: int = 384,
) -> DataFrame:
    """CQL query against the spatio-temporal (write_indexed_st) layout:
    both the bbox AND the time window implied by the filter prune the
    (_bin, _stkey) index (sub-bin key ranges) before the exact CQL refine.
    Falls back to the spatial-only or full-scan shape when either
    constraint is absent or half-open."""
    from ..functions import cql as _cql

    df = spark.read.parquet(path)
    con = _cql.extract_constraints(
        expr, geometry=(lon_col, lat_col), schema=df.schema, time_col=time_col
    )
    refine = _cql.cql_to_column(expr, (lon_col, lat_col), df.schema)
    if con.is_empty():
        return df.filter(F.lit(False))
    inf = float("inf")
    if (
        con.bbox is not None
        and con.trange is not None
        and -inf < con.trange[0]
        and con.trange[1] < inf
    ):
        cand = st_subbin_range_lookup(
            spark, path, con.bbox, int(con.trange[0]), int(con.trange[1]),
            unit=unit, bias=bias, ts_col=time_col, lon_col=lon_col,
            lat_col=lat_col, loose=True, budget=budget,
        )
        return cand.filter(refine)
    return df.filter(refine)


def write_indexed_crs(
    df: DataFrame,
    path: str,
    code: str,
    n_files: int = 32,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> None:
    """Cell-indexed layout in a projected CRS (custom-CRS analog of
    SpatialDimensionalityTypeProvider.java:107-124): reproject lon/lat to
    the code's frame (functions/crs.py Column transforms — one codegen
    stage), store projected ``x``/``y`` alongside, and key the layout on
    cells normalized over the CRS's index bounds."""
    from ..functions import crs

    b = crs.crs_index_bounds(code)
    if b is None:
        write_indexed(df, path, n_files, lon_col, lat_col, phash_col=None)
        return
    x, y = crs.forward_cols(code, F.col(lon_col), F.col(lat_col))
    out = df.withColumn("x", x).withColumn("y", y)
    write_indexed(out, path, n_files, "x", "y", phash_col=None, bounds=b)


def range_lookup_crs(
    spark: SparkSession,
    path: str,
    bbox_projected: tuple[float, float, float, float],
    code: str,
    loose: bool = False,
) -> DataFrame:
    """Range query in the PROJECTED frame of a `write_indexed_crs` store
    (the reference queries with geometry already in the index CRS).  Cell
    ranges still reach the scan as PushedFilters; the refine is the exact
    closed projected interval."""
    from ..functions import crs

    b = crs.crs_index_bounds(code)
    if b is None:
        return range_lookup_indexed(spark, path, bbox_projected, loose=loose)
    return range_lookup_indexed(
        spark, path, bbox_projected, lon_col="x", lat_col="y", loose=loose, bounds=b
    )


# ---------------------------------------------------------------------------
# Spatio-temporal layout with sub-bin time keying (bias bits)
# ---------------------------------------------------------------------------

_TRUNC_UNIT = {"year": "YEAR", "month": "MONTH", "day": "DAY", "hour": "HOUR"}


def write_indexed_st(
    df: DataFrame,
    path: str,
    n_files: int = 32,
    unit: str = "year",
    bias: str = "balanced",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> None:
    """Write a spatio-temporal layout: rows keyed by (calendar bin,
    interleaved (x, y, t-offset) key) — the bias-bits analog of the
    reference's time-as-SFC-dimension
    (SpatialTemporalDimensionalityTypeProvider.java:184-221).  Within a
    bin, gt is the 2^bt-quantized offset of ts inside the bin's calendar
    period (TemporalBinningStrategy.java:36-127), so a sub-bin time slice
    becomes a sargable key-range predicate instead of a full-bin scan.
    All key math is JVM Column bit ops."""
    from .. import cells3
    from ..operators import spatiotemporal as st

    bits = cells3.ST_BIAS[bias]
    trunc = _TRUNC_UNIT[unit]

    def us(ts: str) -> str:
        return f"timestampdiff(MICROSECOND, {st.EPOCH_NTZ}, {ts})"

    bin0 = f"date_trunc('{trunc}', {ts_col})"
    start, nxt = us(bin0), us(f"{bin0} + INTERVAL 1 {trunc}")
    frac = f"(CAST(({us(ts_col)} - {start}) AS DOUBLE) / CAST(({nxt} - {start}) AS DOUBLE))"
    gx = sqlcells.grid_coord(sqlcells.norm_lon(sqlcells._col_ref(lon_col)), bits[0])
    gy = sqlcells.grid_coord(sqlcells.norm_lat(sqlcells._col_ref(lat_col)), bits[1])
    gt = sqlcells.grid_coord(frac, bits[2])
    out = df.withColumns({
        "_bin": st.time_bin_expr(ts_col, unit),
        "_stkey": cells3.st_key_expr(F.expr(gx), F.expr(gy), F.expr(gt), bits),
    })
    _sorted_layout(out, n_files, "_bin", "_stkey").write.mode("overwrite").parquet(path)


def _bin_starts(t0_us: int, t1_us: int, unit: str):
    """Driver-side calendar-bin enumeration over [t0_us, t1_us] — NTZ
    datetime arithmetic, integer-exact.  Yields (bin_id, start_us, next_us)."""
    import datetime

    epoch = datetime.datetime(1970, 1, 1)
    us = datetime.timedelta(microseconds=1)

    def trunc(dt):
        if unit == "year":
            return dt.replace(month=1, day=1, hour=0, minute=0, second=0, microsecond=0)
        if unit == "month":
            return dt.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
        if unit == "day":
            return dt.replace(hour=0, minute=0, second=0, microsecond=0)
        return dt.replace(minute=0, second=0, microsecond=0)

    def nxt(dt):
        if unit == "year":
            return dt.replace(year=dt.year + 1)
        if unit == "month":
            return dt.replace(year=dt.year + (dt.month == 12), month=dt.month % 12 + 1)
        if unit == "day":
            return dt + datetime.timedelta(days=1)
        return dt + datetime.timedelta(hours=1)

    def bin_id(dt):
        b = dt.year
        if unit == "year":
            return b
        b = b * 100 + dt.month
        if unit == "month":
            return b
        b = b * 100 + dt.day
        if unit == "day":
            return b
        return b * 100 + dt.hour

    cur = trunc(epoch + t0_us * us)
    end = epoch + t1_us * us
    while cur <= end:
        n = nxt(cur)
        yield bin_id(cur), (cur - epoch) // us, (n - epoch) // us
        cur = n


def st_subbin_range_lookup(
    spark: SparkSession,
    path: str,
    bbox: tuple[float, float, float, float],
    t0_us: int,
    t1_us: int,
    unit: str = "year",
    bias: str = "balanced",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
    loose: bool = False,
    budget: int = 384,
) -> DataFrame:
    """Spatio-temporal range query on the write_indexed_st layout.

    Per overlapped calendar bin, the (gx, gy, gt) query box decomposes
    into budgeted key ranges (cells3.ranges_for_box3 — the 3-D
    getQueryRanges analog); grid bounds are widened by one cell per side
    so double-rounding can never drop a boundary row (the exact refine
    restores precision).  The predicate is sargable on the (_bin,
    _stkey)-sorted layout → parquet min-max pruning below bin granularity:
    a one-week slice inside a year bin reads ~week-sized key ranges, not
    the whole bin (the round-2 gap this closes)."""
    import math

    from .. import cells3
    from ..operators import spatiotemporal as st

    bits = cells3.ST_BIAS[bias]
    rx, ry, rt = (1 << b for b in bits)

    # antimeridian-aware spatial sub-boxes (wrapped/unwrapped bboxes would
    # otherwise invert gx0 > gx1 and decompose to ZERO ranges — the same
    # split the sibling hilbert/xz lookups apply), plus the +180 seam
    # column: stored lon=180 wraps to gx 0, which the widened upper bound
    # still cannot reach
    xy_boxes = []
    for bx0, by0, bx1, by1 in cells.split_bbox_antimeridian(bbox):
        sgx0 = max(0, int(math.floor(cells.norm_lon(bx0) * rx)) - 1)
        sgx1 = min(rx - 1, int(math.floor(cells.norm_lon_upper(bx1) * rx)) + 1)
        sgy0 = max(0, int(math.floor(cells.norm_lat(by0) * ry)) - 1)
        sgy1 = min(ry - 1, int(math.floor(cells.norm_lat(by1) * ry)) + 1)
        xy_boxes.append((sgx0, sgy0, sgx1, sgy1))
        if bx1 == 180.0 and bx0 > -180.0 and sgx0 > 0:
            xy_boxes.append((0, sgy0, 0, sgy1))

    bin_preds = []
    for bid, bs, be in _bin_starts(t0_us, t1_us, unit):
        span = float(be - bs)
        gt0 = max(0, int(math.floor((max(t0_us, bs) - bs) / span * rt)) - 1)
        gt1 = min(rt - 1, int(math.floor((min(t1_us, be - 1) - bs) / span * rt)) + 1)
        ranges = [
            r
            for sgx0, sgy0, sgx1, sgy1 in xy_boxes
            for r in cells3.ranges_for_box3(
                (sgx0, sgy0, gt0), (sgx1, sgy1, gt1), bits, budget
            )
        ]
        bin_preds.append(f"(`_bin` = {int(bid)}L AND {sqlcells.ranges_sql('_stkey', ranges)})")
    # one SQL expression (balanced ORs, see sqlcells.or_sql): one call
    # into the JVM instead of several per range
    df = spark.read.parquet(path).filter(F.expr(sqlcells.or_sql(bin_preds)))
    if not loose:
        eus = st.epoch_us_expr(ts_col)
        df = df.filter((eus >= t0_us) & (eus <= t1_us)).filter(
            sqlcells.bbox_refine_pred(F.col(lon_col), F.col(lat_col), bbox)
        )
    return df
