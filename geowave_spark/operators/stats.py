"""Statistics aggregations, fixed-resolution subsampling, range lookups.

Spark twins of the reference's ingest-maintained statistics and query paths:

* ``table_stats`` — CountDataStatistics / BoundingBoxDataStatistics /
  TimeRangeDataStatistics / NumericRangeDataStatistics (SURVEY.md §1.6,
  core/geotime/.../statistics/BoundingBoxDataStatistics.java:27,107,138)
  as one partial+final aggregation (Catalyst does the merge).
* ``fixed_bin_histogram`` — FixedBinNumericStatistics as floor-bucket
  groupBy.
* ``subsample_cells`` — fixed-resolution render subsampling: keep one row
  per coarse SFC cell (NativeEntryIteratorWrapper.java:47-58,160-166) as
  ``groupBy(coarse_cell).agg(min(id))``.
* ``range_lookup`` — bbox query over any point frame; a frame with a
  stored ``cell`` column delegates to the one stored-cell lookup
  (``sources.indexed.range_filter_frame``: the DataStore.query
  range-planning path, TieredSFCIndexStrategy.getQueryRanges:109-158, as
  a Catalyst filter that reaches the Parquet/Iceberg scan), any other
  frame is an exact bbox filter.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import sqlcells
from .spatial_join import add_point_cols


def _micros(col):
    return F.floor(col * 1e6 + F.lit(0.5)).cast("long")


def table_stats(
    points: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Per-group count / numeric range / time range / bbox — the statistics
    family as one aggregation; doubles in exact micro-units."""
    pts = add_point_cols(points, lon_col, lat_col)
    return pts.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        _micros(F.min(value_col)).alias("min_value_mu"),
        _micros(F.max(value_col)).alias("max_value_mu"),
        # NTZ-safe epoch micros (tz-independent; DuckDB twin: epoch_us(ts))
        F.expr(
            f"timestampdiff(MICROSECOND, CAST('1970-01-01 00:00:00' AS TIMESTAMP_NTZ), min({ts_col}))"
        ).alias("min_ts_us"),
        F.expr(
            f"timestampdiff(MICROSECOND, CAST('1970-01-01 00:00:00' AS TIMESTAMP_NTZ), max({ts_col}))"
        ).alias("max_ts_us"),
        _micros(F.min(lon_col)).alias("min_lon_mu"),
        _micros(F.max(lon_col)).alias("max_lon_mu"),
        _micros(F.min(lat_col)).alias("min_lat_mu"),
        _micros(F.max(lat_col)).alias("max_lat_mu"),
    )


def fixed_bin_histogram(
    df: DataFrame, value_col: str = "value", bin_width: float = 5.0
) -> DataFrame:
    """FixedBinNumericStatistics: floor-bucket counts (map-side combinable)."""
    return (
        df.select(F.floor(F.col(value_col) / F.lit(bin_width)).cast("long").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def subsample_cells(
    points: DataFrame,
    tier: int,
    id_col: str = "event_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Fixed-resolution subsampling: one representative row per tier-t cell.

    (cell, keep_id, n) — `min(id)` is the deterministic representative;
    the reference keeps the first row per coarse SFC prefix, which is
    scan-order-dependent, so we pin min(id) for reproducibility.
    """
    pts = add_point_cols(points, lon_col, lat_col)
    cell = F.expr(f"{sqlcells.cell_at_tier_expr('`_cell31`', tier)} AS cell")
    return (
        pts.select(cell, F.col(id_col))
        .groupBy("cell")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n"))
    )


def range_lookup(
    points: DataFrame,
    bbox: tuple[float, float, float, float],
    lon_col: str = "lon",
    lat_col: str = "lat",
    loose: bool = False,
) -> DataFrame:
    """All point rows inside bbox (lon/lat derived from ``phash`` when
    absent).

    A frame with a STORED ``cell`` column (the indexed layout,
    sources/indexed.py) goes through the shared stored-cell lookup,
    ``indexed.range_filter_frame``: a sargable cell-range predicate that
    reaches the parquet scan, then the exact antimeridian-aware refine
    (skipped when loose=True, the IndexOnlySpatialQuery semantics).

    A frame without one gets the exact bbox refine only, loose or not:
    a freshly computed cell cannot prune the scan, and a predicate on it
    makes Catalyst re-inline the cell projection chain per reference
    (exponential optimizer blowup — observed, not hypothetical).
    """
    pts = sqlcells._with_phash_coords(points, lon_col, lat_col)
    if "cell" in pts.columns:
        from ..sources.indexed import range_filter_frame

        return range_filter_frame(pts, bbox, lon_col, lat_col, loose)
    return pts.filter(sqlcells.bbox_refine_pred(F.col(lon_col), F.col(lat_col), bbox))


def write_stats_table(
    points: DataFrame,
    path: str,
    group_col: str = "event_type",
    value_col: str = "value",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> None:
    """Persist the statistics aggregation — the ingest-maintained stats
    store (per-adapter statistics tables, SURVEY.md §1.6).  Mergeable by
    construction: re-running after an append recomputes partial+final via
    Catalyst; incremental maintenance = union of per-snapshot stats with
    the same aggregation (min/max/count all associative)."""
    table_stats(points, group_col, value_col, ts_col, lon_col, lat_col).write.mode(
        "overwrite"
    ).parquet(path)


def merge_stats(a: DataFrame, b: DataFrame, group_col: str = "event_type") -> DataFrame:
    """Merge two stats tables (Mergeable.merge semantics — associative
    min/max/sum combine, so stats maintain incrementally per ingest batch)."""
    mins = [c for c in a.columns if c.startswith("min_")]
    maxs = [c for c in a.columns if c.startswith("max_")]
    return (
        a.unionByName(b)
        .groupBy(group_col)
        .agg(
            F.sum("n").alias("n"),
            *[F.min(c).alias(c) for c in mins],
            *[F.max(c).alias(c) for c in maxs],
        )
        .select(*a.columns)
    )


def custom_bbox_agg(points: DataFrame, group_col: str = "event_type",
                    lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """The custom-UDAF extension point (Aggregation SPI analog,
    core/store/.../api/Aggregation.java: aggregate/merge contract):
    a grouped-agg pandas UDF computing the bbox area per group — Spark
    runs it partial-per-batch + merge, exactly the SPI's split.  Built-ins
    cover this particular statistic; the function exists to pin the
    extension surface (scalar pandas_udf + grouped-map applyInPandas +
    grouped-agg pandas_udf are the three custom-operator shapes)."""
    @F.pandas_udf(T.DoubleType())
    def bbox_area(lon: pd.Series, lat: pd.Series) -> float:
        return float((lon.max() - lon.min()) * (lat.max() - lat.min()))

    # group-agg pandas UDFs cannot mix with non-pandas aggregates in one
    # agg — the row count is a second pandas UDAF
    @F.pandas_udf(T.LongType())
    def row_count(lon: pd.Series) -> int:
        return int(len(lon))

    return points.groupBy(group_col).agg(
        _micros(bbox_area(F.col(lon_col), F.col(lat_col))).alias("bbox_area_mu"),
        row_count(F.col(lon_col)).alias("n"),
    )


def approx_stats(df: DataFrame, col: str) -> DataFrame:
    """Sketch statistics — HyperLogLog distinct + CountMinSketch analog
    (FeatureHyperLogLogStatistics / FeatureCountMinSketchStatistics,
    extensions/adapters/vector/.../stats/).  Approximate by design: no
    oracle entry; exercised in tests for sanity bounds."""
    return df.agg(
        F.approx_count_distinct(col).alias("approx_distinct"),
        F.count(col).alias("n"),
    )


# ---------------------------------------------------------------------------
# Deterministic sketches (oracle-expressible)
#
# The reference maintains per-adapter Count-Min and HyperLogLog statistics
# (FeatureCountMinSketchStatistics / FeatureHyperLogLogStatistics,
# extensions/adapters/vector/.../stats/ — backed by stream-lib sketches).
# Those are hash-seeded and JVM-library-specific, so a DuckDB oracle can
# never match them bit-for-bit.  These twins use the repo's shared h60
# hash (md5-derived) for BOTH the CMS row hashes and the HLL register
# split, which makes every counter, register, and rank an exact integer
# function of the input that DuckDB recomputes identically — the sketch
# STRUCTURE is oracle-checked, and the float estimate is a pure driver
# function of the integer indicator (tested against exact distinct).
# ---------------------------------------------------------------------------

CMS_W = 1024  # counters per CMS row
CMS_D = 4  # independent CMS hash rows
HLL_P = 10  # 2^10 = 1024 HLL registers
_HLL_CAP = 44  # rank cap for the integer indicator (sum fits int64)


def _value_counts(df: DataFrame, col: str) -> DataFrame:
    """(_v string, _k long, _n long) exact per-value counts — the sketch
    builders run on this (much smaller) table; counting per value first
    then summing per bucket is algebraically identical to per-row updates
    and avoids hashing every duplicate row."""
    s = F.col(col).cast("string")
    return df.groupBy(
        s.alias("_v"), F.col(col).cast("long").alias("_k")
    ).agg(F.count(F.lit(1)).cast("long").alias("_n"))


def cms_counters(byv: DataFrame, w: int = CMS_W, d: int = CMS_D) -> DataFrame:
    """Count-Min counter table (row, bucket, cnt): bucket_i(v) =
    h60('cms<i>:' || v) mod w.  One explode (d rows per DISTINCT value)
    + one groupBy — scales as O(distinct · d), not O(rows)."""
    from .dedup import h60

    rb = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("row"),
                (h60(F.concat(F.lit(f"cms{i}:"), F.col("_v"))) % w).alias("bucket"),
            )
            for i in range(d)
        ]
    )
    return (
        byv.select(F.explode(rb).alias("_rb"), "_n")
        .groupBy(F.col("_rb.row").alias("row"), F.col("_rb.bucket").alias("bucket"))
        .agg(F.sum("_n").cast("long").alias("cnt"))
    )


def cms_probe_estimates(
    df: DataFrame, col: str, probes_k: int = 20, w: int = CMS_W, d: int = CMS_D
) -> DataFrame:
    """CMS point queries for the ``probes_k`` most frequent values
    (ties broken by value): (k1=value, k2=cms_estimate, v=true_count).
    estimate = min over rows of counter[bucket_i(value)] — the classic
    one-sided CMS bound (estimate >= truth always).  The probe side is
    probes_k·d rows → broadcast; counters are w·d rows."""
    from .dedup import h60

    byv = _value_counts(df, col)
    counters = cms_counters(byv, w, d)
    probes = byv.orderBy(F.desc("_n"), F.asc("_k")).limit(probes_k)
    rb = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("row"),
                (h60(F.concat(F.lit(f"cms{i}:"), F.col("_v"))) % w).alias("bucket"),
            )
            for i in range(d)
        ]
    )
    pb = probes.select("_k", "_n", F.explode(rb).alias("_rb")).select(
        "_k", "_n", F.col("_rb.row").alias("row"), F.col("_rb.bucket").alias("bucket")
    )
    return (
        counters.join(F.broadcast(pb), ["row", "bucket"])
        .groupBy("_k")
        .agg(F.min("cnt").alias("cms_est"), F.max("_n").alias("true_n"))
        .select(F.col("_k").alias("k1"), F.col("cms_est").alias("k2"), F.col("true_n").alias("v"))
    )


def _hll_rank(rem: Column, bits: int) -> Column:
    """Position of the first 1-bit from the MSB of a ``bits``-wide value,
    i.e. (bits - bit_length(rem)) + 1; rem == 0 → bits + 1.  bit_length is
    computed via bin()-string math (no floats — log2 would round at
    boundaries); DuckDB evaluates the identical expression."""
    bl = F.length(F.regexp_replace(F.bin(rem), "^0+", ""))
    return (F.lit(bits + 1) - bl).cast("long")


def hll_registers(df: DataFrame, col: str, p: int = HLL_P) -> DataFrame:
    """HLL register table (register, max_rank, n_distinct): the top p bits
    of h60(value) pick the register, the remaining 60-p bits give the
    rank.  n_distinct (exact distinct values per register) is emitted for
    the oracle check; the estimator only needs max_rank.  One groupBy."""
    from .dedup import h60

    bits = 60 - p
    h = h60(F.col(col).cast("string"))
    return (
        df.select(
            F.shiftright(h, bits).alias("register"),
            _hll_rank(h.bitwiseAND(F.lit((1 << bits) - 1)), bits).alias("rank"),
            F.col(col).cast("string").alias("_v"),
        )
        .groupBy("register")
        .agg(
            F.max("rank").alias("max_rank"),
            F.countDistinct("_v").cast("long").alias("n_distinct"),
        )
    )


def hll_indicator(registers: DataFrame, p: int = HLL_P, cap: int = _HLL_CAP) -> DataFrame:
    """One row (occupied, indicator): indicator = sum over ALL 2^p
    registers of 2^(cap - min(rank, cap)), rank = 0 for empty registers —
    the HLL harmonic sum scaled by 2^cap so it is an exact int64 (max
    2^p · 2^cap = 2^54).  The float estimate is a driver-side function of
    this integer (``hll_estimate``)."""
    m = 1 << p
    term = F.expr(
        f"shiftleft(cast(1 as bigint), cast({cap} - least(max_rank, {cap}) as int))"
    )
    return registers.agg(
        F.count(F.lit(1)).cast("long").alias("occupied"),
        F.sum(term).cast("long").alias("_occ_ind"),
    ).select(
        "occupied",
        (
            F.col("_occ_ind")
            + (F.lit(m).cast("long") - F.col("occupied")) * F.lit(1 << cap).cast("long")
        ).alias("indicator"),
    )


def hll_estimate(indicator: int, occupied: int, p: int = HLL_P, cap: int = _HLL_CAP) -> float:
    """Standard HLL estimator from the integer indicator, with the
    linear-counting small-range correction (Flajolet et al. 2007)."""
    import math

    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    est = alpha * m * m * float(1 << cap) / float(indicator)
    zeros = m - occupied
    if est <= 2.5 * m and zeros > 0:
        return m * math.log(m / float(zeros))
    return est


def sketch_stats(df: DataFrame, col: str, probes_k: int = 20) -> DataFrame:
    """Consolidated deterministic-sketch query (tag, k1, k2, v):

    * ``cms``: (value, cms_estimate, true_count) for the top-``probes_k``
      most frequent values,
    * ``hll``: (register, max_rank, n_distinct) per occupied register,
    * ``est``: (0, indicator, occupied) — the integer HLL state.

    Every column is an exact integer function of the input (shared h60
    hash), so the whole sketch state is DuckDB-oracle-checkable."""
    cms = cms_probe_estimates(df, col, probes_k).select(
        F.lit("cms").alias("tag"), "k1", "k2", "v"
    )
    regs = hll_registers(df, col).localCheckpoint()  # feeds 2 legs, compute once
    hll = regs.select(
        F.lit("hll").alias("tag"),
        F.col("register").alias("k1"),
        F.col("max_rank").alias("k2"),
        F.col("n_distinct").alias("v"),
    )
    est = hll_indicator(regs).select(
        F.lit("est").alias("tag"),
        F.lit(0).cast("long").alias("k1"),
        F.col("indicator").alias("k2"),
        F.col("occupied").alias("v"),
    )
    return cms.unionByName(hll).unionByName(est)


def _gi_star(counts: DataFrame, targets: DataFrame) -> DataFrame:
    """The one Gi* ring statistic under both hotspot grids.

    ``counts``: (k1, k2, n) — one row per occupied cell, computed once
    (the caller's localCheckpoint); ``targets``: (k1, k2, t1, t2) — every
    cell's ring members' keys, self included, built by the caller from
    ``counts``.  Returns (k1, k2, n, ring_sum, ring_cnt, gi_mu): the ring's
    occupied members joined by key, then the Gi* z-score in integer
    micro-units, binary weights, mean/std over the OCCUPIED-cell
    population (a 1-row aggregate joined back by broadcast)."""
    k1, k2 = counts.columns[:2]
    t1, t2 = targets.columns[2:]
    stats = counts.agg(
        F.count(F.lit(1)).cast("long").alias("_nn"),
        F.sum("n").cast("long").alias("_s1"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("_s2"),
    )
    ring = (
        targets.join(
            counts.select(F.col(k1).alias(t1), F.col(k2).alias(t2), F.col("n").alias("_nb")),
            [t1, t2],
        )
        .groupBy(k1, k2)
        .agg(
            F.sum("_nb").cast("long").alias("ring_sum"),
            F.count(F.lit(1)).cast("long").alias("ring_cnt"),
        )
    )
    j = ring.join(counts, [k1, k2]).join(F.broadcast(stats))
    # identical op sequence to the SQL oracle — IEEE-exact cross-engine
    nn = F.col("_nn").cast("double")
    mean = F.col("_s1").cast("double") / nn
    var = F.col("_s2").cast("double") / nn - mean * mean
    sd = F.sqrt(var)
    w = F.col("ring_cnt").cast("double")
    denom = sd * F.sqrt((nn * w - w * w) / (nn - F.lit(1.0)))
    z = (F.col("ring_sum").cast("double") - w * mean) / denom
    gi = F.when(denom > 0.0, F.floor(z * F.lit(1e6) + F.lit(0.5)).cast("long"))
    return j.select(k1, k2, "n", "ring_sum", "ring_cnt", gi.alias("gi_mu"))


def _offsets(pairs) -> Column:
    """The ring offsets as one array of (d1, d2) structs to explode."""
    return F.array(*[F.struct(F.lit(a).alias("d1"), F.lit(b).alias("d2")) for a, b in pairs])


def hotspot_cells(
    points: DataFrame,
    tier: int = 6,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Getis-Ord Gi*-style hotspot detection over the tier-t cell grid —
    the statistical-significance twin of the KDE heat surface
    (KDERunner.java:234-316): which cells are significantly hotter than
    the occupied-cell population, not just visually dense.

    Per occupied cell: ``n`` (points), ``ring_sum``/``ring_cnt`` (3x3
    neighborhood incl. self — lon wraps across the antimeridian, lat edges
    simply have fewer occupied neighbors), and ``gi_mu`` — the Gi* z-score
    in integer micro-units, binary weights, with mean/std taken over the
    OCCUPIED-cell population (the empty-cell universe is excluded: a
    documented simplification for sparse global grids, where including
    billions of empty ocean cells would drown every statistic).

    Plan shape (all JVM): one groupBy (cell counts) -> 9-way offset
    explode of the occupied cells (this grid's part) -> the shared
    :func:`_gi_star`: self-equi-join on (gx, gy) -> groupBy, the global
    mean/std a 1-row aggregate joined back by broadcast.  No driver
    collect, no Python.
    """
    r = 1 << tier
    pts = add_point_cols(points, lon_col, lat_col)  # phash-only tables work
    g = pts.select(
        F.expr(f"{sqlcells.grid_coord(sqlcells.norm_lon(sqlcells._col_ref(lon_col)), tier)} AS gx"),
        F.expr(f"{sqlcells.grid_coord(sqlcells.norm_lat(sqlcells._col_ref(lat_col)), tier)} AS gy"),
    )
    counts = g.groupBy("gx", "gy").agg(F.count(F.lit(1)).cast("long").alias("n"))
    counts = counts.localCheckpoint()  # feeds 3 consumers, compute once
    nb = (
        counts.select("gx", "gy", F.explode(_offsets(
            (dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
        )).alias("_o"))
        .select(
            "gx",
            "gy",
            F.pmod(F.col("gx") + F.col("_o.d1"), F.lit(r)).alias("_tx"),
            (F.col("gy") + F.col("_o.d2")).alias("_ty"),  # out-of-range never joins
        )
    )
    if r <= 2:
        # degenerate grids (tier <= 1): the lon pmod wraps dx=-1 and dx=+1
        # onto the SAME neighbor column, double-counting ring members —
        # dedupe only here, so real tiers pay no extra exchange
        nb = nb.dropDuplicates(["gx", "gy", "_tx", "_ty"])
    return _gi_star(counts, nb)


def hotspot_hex(
    points: DataFrame,
    size: float | None = None,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Gi*-style hotspot detection over the H3-style hexagonal grid
    (cells_hex.py): identical statistics to :func:`hotspot_cells`, but the
    neighborhood is the hexagon's UNIFORM 6-ring instead of the square
    3x3 — every neighbor center is equidistant, so the binary-weight ring
    has no diagonal-vs-edge anisotropy (the reason H3 is the standard
    aggregation grid for movement analytics).

    Plan shape: one groupBy (hex counts) → 7-way offset explode (this
    grid's part) → the shared :func:`_gi_star`, as in hotspot_cells.  No
    lon wrap: the hex lattice is planar (documented; the |lon|→180 seam
    splits a hexagon, matching the plain equirectangular-plane semantics
    of the oracle twin).
    """
    from .. import cells_hex

    size = float(size if size is not None else cells_hex.DEFAULT_SIZE)
    pts = add_point_cols(points, lon_col, lat_col)
    g = pts.selectExpr(
        "*",
        *cells_hex.stage_exprs(lon_col, lat_col, size, out="_hc", q_out="hq", r_out="hr"),
    ).select("hq", "hr")
    counts = g.groupBy("hq", "hr").agg(F.count(F.lit(1)).cast("long").alias("n"))
    counts = counts.localCheckpoint()  # feeds 3 consumers, compute once
    nb = counts.select(
        "hq", "hr", F.explode(_offsets(((0, 0), *cells_hex.NEIGHBOR_OFFSETS))).alias("_o")
    ).select(
        "hq",
        "hr",
        (F.col("hq") + F.col("_o.d1")).alias("_tq"),
        (F.col("hr") + F.col("_o.d2")).alias("_tr"),
    )
    return _gi_star(counts, nb)


def zonal_statistics(
    points: DataFrame,
    polygons: DataFrame,
    value_col: str = "value",
    point_id: str = "event_id",
    polygon_id: str = "polygon_id",
    **join_kwargs,
) -> DataFrame:
    """Vector zonal statistics: per-zone aggregates of a point measure —
    count, sum, min, max of ``value_col`` per polygon.

    The classic raster/vector zonal-stats rollup as ONE declarative plan:
    zone assignment is the tiered point-in-polygon join (zero-shuffle
    broadcast path for small zone sets, keyed shuffle + AQE/salting for
    big ones), then Catalyst's partial/final aggregation keyed by zone id
    — the per-region twin of the reference's statistics framework
    (BoundingBoxDataStatistics/CountDataStatistics per adapter,
    core/store/.../statistics), which only aggregates per TABLE, not per
    query region.

    A point inside k overlapping zones contributes to all k; points in no
    zone are absent.  For bit-exact cross-engine sums feed an
    integer-quantized measure (floats sum order-dependently).
    """
    from .spatial_join import tiered_spatial_join

    pairs = tiered_spatial_join(
        points, polygons, point_id=point_id, polygon_id=polygon_id, **join_kwargs
    )
    j = pairs.join(points.select(point_id, value_col), point_id)
    return j.groupBy(polygon_id).agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum(value_col).alias(f"sum_{value_col}"),
        F.min(value_col).alias(f"min_{value_col}"),
        F.max(value_col).alias(f"max_{value_col}"),
    )
