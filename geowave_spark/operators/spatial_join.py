"""Tiered spatial join — the engine's flagship operator.

Spark-first re-expression of the reference's TieredSpatialJoin
(analytics/spark/.../spatial/TieredSpatialJoin.java:75-377).  The reference
runs a driver-side loop over tiers with per-tier cogroups and RDD unions;
we collapse the whole thing into ONE Catalyst plan:

    polygons --driver-side numpy cover, an Arrow-built LocalRelation
              (broadcast path) OR one Arrow bbox pass + SQL span tiering
              (shuffle path)--> packed keys
    points   --SQL bit math--> packed key per polygon tier  (JVM side)
             --explode over the tier list (typically 1-5 tiers)
    equi-join on the single long key   (broadcast if small, else forced
                                        sort-merge with AQE skew + salting)
    exact predicate refine (Arrow pandas UDF, or pure SQL for boxes)
    dropDuplicates per (point, polygon) only when a seam split can emit a
    pair twice                               (DedupeFilter semantics)

Every tiered join takes the same decisions through one helper each:
* placement — `probe_broadcastable`, inside the join unless the caller
  forces a path; callers do not probe;
* extent keying — `_extent_multitier_keys`: span-based own tier plus every
  coarser partner tier, cover re-derived per tier (SQL text);
* envelopes — `_envelopes`: envelopes crossing +180 become two in-range
  images (not under custom ``bounds``, nor for extents);
* tier discovery — `_shuffle_side`: one localCheckpoint and one aggregate
  per side for the tier set and the split flag;
* driver cover — `polygon_cover_local`: the broadcast side's cells, one
  WKT parse per geometry, trimmed and with coarser-tier truncations when
  asked — the one cover of all three broadcast builds;
* candidate filter — `_candidate_filter`: meet tier, envelope overlap,
  containment-necessary envelopes and the PBSM reference point;
* empty result — `_empty_pairs`, typed like the path's real result.
The geometry and extent joins have one body per placement,
`_geometry_join_broadcast` and `_geometry_join_shuffle` (two
`_shuffle_side`s met by `_extent_pairs`); the extent joins run them with
``refine=False``: without a refine, the envelope test is the whole
predicate.

Every derived column is ONE SQL-text expression (``F.expr``) over the
sqlcells formulas, and each run of derived columns one projection: a
Column tree costs a driver→JVM round trip per operator node, which made
plan building, not execution, the larger part of a small join.  The box
relations of the candidate filter stay Columns, built once per filter
over geo_udfs' shared interval algebra.

Semantics preserved (verified against the brute-force oracle, the same test
design as GeoWaveSparkSpatialJoinIT.java:227-254):
* match set identical to nested-loop predicate evaluation;
* `intersects` default predicate (SpatialQueryFilter), boundary inclusive;
* distance join buffers the polygon side's bbox by r before covering
  (TieredSpatialJoin.java:142-165) and refines with planar distance <= r
  (GeomWithinDistance.java:43-45);
* negative predicate → anti join (TieredSpatialJoin.java:357-363);
* output joined back to the base tables as semi/anti
  (TieredSpatialJoin.java:364-373).

Scale design (100 TB point side):
* point-side key generation is pure JVM arithmetic — whole-stage codegen,
  zero Python;
* only columns needed are read (Parquet/Iceberg column pruning: image_id +
  phash — the multi-KB `bytes` column is never scanned);
* the polygon side (cells exploded) is broadcast when under the broadcast
  threshold — no shuffle of the point side at all;
* when the polygon side is too big to broadcast, both sides shuffle on the
  packed key; AQE skew-join splits hot cells, and an optional salt factor
  replicates polygon cells to break extreme skew (world polygons);
* tier list is discovered from the polygon side only (tiny aggregate),
  mirroring the reference's tier-discovery pre-pass
  (TieredSpatialJoin.java:173-207) — the point side is never scanned for it.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import cells, geom, sqlcells
from ..functions import geo_udfs

_BOX = ("x0", "y0", "x1", "y1")
_D360 = sqlcells._dbl(360.0)
# one row per covering cell of a driver-covered geometry (see polygon_cover_local)
_CELL_SCHEMA = pa.schema([
    ("key", pa.int64()), ("id", pa.string()),
    *[(n, pa.float64()) for n in _BOX],
    ("is_box", pa.bool_()), ("tier", pa.int32()), ("row", pa.int32()),
])

# broadcast the polygon side when it has at most this many rows (each
# polygon explodes to <= 80 covering cells; 100k x ~100B cells ~ 1GB upper
# bound, comfortably under executor broadcast budgets at default configs)
BROADCAST_MAX_POLYGONS = 100_000
# ...and at most this many total WKT bytes (WKT is broadcast ONCE per
# polygon, never per covering cell, so this is the actual payload bound)
BROADCAST_MAX_WKT_BYTES = 256 << 20


def probe_broadcastable(geoms: DataFrame, wkt_col: str = "wkt") -> bool:
    """Build-side probe (JoinOptions.BuildSide analog), shared by every
    geometry join: broadcast only when the side is provably small by BOTH
    row count and total WKT bytes — probed with a limit so huge tables
    never fully count/sum here."""
    probe = (
        geoms.limit(BROADCAST_MAX_POLYGONS + 1)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length(F.col(wkt_col))).alias("b"),
        )
        .collect()[0]
    )
    return (
        probe["n"] <= BROADCAST_MAX_POLYGONS
        and (probe["b"] or 0) <= BROADCAST_MAX_WKT_BYTES
    )


def add_point_cols(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    phash_col: str | None = "phash",
    bounds=None,
) -> DataFrame:
    """Ensure lon/lat columns exist (derived from phash if absent) and add
    the finest-tier Morton cell — all JVM-side."""
    df = sqlcells._with_phash_coords(df, lon_col, lat_col, phash_col)
    return sqlcells.add_cell_column(
        df, lon_col, lat_col, cells.MAX_TIER, "_cell31", bounds=bounds
    )


def _point_keys(pts: DataFrame, tiers: list[int], *cols) -> DataFrame:
    """``cols`` plus ``key``: one row per polygon tier, keyed by the packed
    key of the point's cell (``_cell31``) at that tier; a struct-field
    name (``"p.lon"``) keeps its top-level column, which the refines read."""
    keys = ", ".join(
        f"{int(cells.TIER_OFFSETS[t])}L + {sqlcells.cell_at_tier_expr('`_cell31`', t)}"
        for t in sorted(tiers)
    )
    roots = [
        sqlcells.sql_ident(sqlcells._col_parts(c)[0]) if isinstance(c, str) else c for c in cols
    ]
    return pts.select(*roots, F.expr(f"explode(array({keys})) AS key"))


def polygon_cover_local(
    rows: list[tuple[str, str]],
    buffer: float = 0.0,
    trim: bool = True,
    bounds=None,
    coarser: bool = False,
) -> tuple[pa.Table, list[int]]:
    """Driver-side cover of a small geometry set: the one cover of every
    broadcast join.

    The reference broadcasts its index strategy and plans query ranges on
    the driver (RDDUtils.broadcastIndexStrategy:255-263;
    TieredSFCIndexStrategy.getQueryRanges) — our equivalent plans the whole
    small side locally with numpy: no Spark job, no Python workers, and the
    cover is computed exactly once.

    Each WKT is parsed once.  Its cover is the adaptive-tier cover of its
    bbox (buffered by ``buffer``), trimmed to the cells the geometry
    touches when ``trim`` and unbuffered.  ``coarser=True`` adds the cover
    truncated to every coarser tier (reprojectToTier, coarser direction;
    np.unique keeps the (id, key) rows unique), so that a partner whose
    own tier is coarser meets the geometry there.

    Covers are ALWAYS boundary-CLOSED: a point lying exactly on a polygon
    edge that coincides with a cell line floors into the NEXT cell (e.g.
    point lon=0 on a polygon with x1=0), and a dwithin partner at exactly
    distance `radius` past the buffered bbox's upper edge does the same —
    the open (exact-fit insert rule) cover would drop their candidate cell
    even though the boundary-inclusive refine accepts the pair.  Trim still
    removes cells the true geometry doesn't touch (closed cell rectangles
    keep edge contact).

    Returns (cells, tiers): cells = an Arrow table with one row per
    covering cell, columns key (int64), id (string), x0, y0, x1, y1
    (float64: the geometry's own, unbuffered bbox), is_box (bool), tier
    (int32: its own cover tier) and row (int32: its index in ``rows``) —
    ready for ``createDataFrame``, which makes it a LocalRelation; tiers =
    the sorted distinct own tiers.  A geometry with an empty cover has no
    rows.
    """
    keys, geo = [], []
    for i, (_gid, wkt) in enumerate(rows):
        g = geom.geometry_from_wkt(wkt)
        tp, cover = geo_udfs._geometry_cover(
            g, buffer=buffer, trim=trim, closed=True, bounds=bounds
        )
        if not cover.size:
            continue
        keys.append(np.concatenate([
            cells.pack_key(t, cover if t == tp else np.unique(cells.cell_at_tier(cover, tp, t)))
            for t in range(tp, -1 if coarser else tp - 1, -1)
        ]))
        geo.append((i, *(float(v) for v in g.bbox), bool(g.is_box()), tp))
    if not geo:
        return _CELL_SCHEMA.empty_table(), []
    idx, x0, y0, x1, y1, isb, tier = (np.asarray(c) for c in zip(*geo))
    take = np.repeat(np.arange(len(geo)), [k.size for k in keys])
    table = pa.table({
        "key": np.concatenate(keys),
        "id": _strings([rows[i][0] for i in idx]).take(take),
        "x0": x0[take], "y0": y0[take], "x1": x1[take], "y1": y1[take],
        "is_box": isb[take], "tier": tier[take], "row": idx[take],
    }, schema=_CELL_SCHEMA)
    return table, sorted(set(tier.tolist()))


def _box_contains_pred(lon: str, lat: str, bounds=None) -> str:
    """JVM-only boundary-inclusive point-in-box (SQL text over the box
    columns x0..y1), antimeridian-aware.

    Mirrors the oracle SQL predicate exactly: every box is retested at the
    point's lon + 360, as the Arrow refine (geo_udfs.st_contains_point)
    does.  Custom ``bounds`` (projected CRS) have no wrap — the +360
    retest is dropped (it would false-positive in metre coordinates).
    """
    def in_x(x: str) -> str:
        return f"({x} >= `x0` AND {x} <= `x1`)"

    lon_ok = in_x(lon)
    if bounds is None:
        lon_ok = f"({lon_ok} OR {in_x(f'({lon} + {_D360})')})"
    return f"({lat} >= `y0` AND {lat} <= `y1` AND {lon_ok})"


def _box_dist_expr(lon: str, lat: str, bounds=None) -> str:
    """JVM-only planar distance to a box (0 inside), SQL text over the box
    columns x0..y1; antimeridian copy via least() — same IEEE op sequence
    as the oracle's formula.  Custom ``bounds`` drop the +360 copy (no
    wrap in a projected frame)."""
    zero = sqlcells._dbl(0.0)

    def d(px: str) -> str:
        ddx = f"GREATEST(`x0` - {px}, {px} - `x1`, {zero})"
        ddy = f"GREATEST(`y0` - {lat}, {lat} - `y1`, {zero})"
        return f"SQRT({ddx} * {ddx} + {ddy} * {ddy})"

    if bounds is not None:
        return d(lon)
    return f"LEAST({d(lon)}, {d(f'({lon} + {_D360})')})"


def tiered_spatial_join(
    points: DataFrame,
    polygons: DataFrame,
    predicate: str = "intersects",
    radius: float = 0.0,
    lon_col: str = "lon",
    lat_col: str = "lat",
    point_id: str = "image_id",
    polygon_id: str = "polygon_id",
    wkt_col: str = "wkt",
    broadcast_polygons: bool | None = None,
    loose: bool = False,
    salt: int = 0,
    carry_cols: tuple[str, ...] = (),
    bounds=None,
) -> DataFrame:
    """Return matched (point_id, polygon_id) pairs (deduped).

    predicate: 'intersects' (default, like SpatialQueryFilter) or 'dwithin'
    (GeomWithinDistance with `radius`).  loose=True skips the exact refine
    (IndexOnlySpatialQuery.java:34-43 semantics).

    ``bounds``: custom per-dimension index bounds (x0, y0, x1, y1) — the
    reference's custom-CRS index math (SpatialDimensionalityTypeProvider
    .java:107-124): clamped linear normalization, no antimeridian wrap.
    Geometry predicates stay planar in the CRS's own units, matching the
    reference's JTS behavior under a projected CRS.

    ``carry_cols``: extra POINT-side columns to keep on the output rows
    (e.g. an event-time column for a downstream windowed aggregation on an
    unbounded stream, where a join-back by id would be a stream-stream
    self-join), on either path; ``broadcast_polygons`` forces a path.
    """
    if predicate not in ("intersects", "dwithin"):
        raise ValueError(f"unknown predicate {predicate!r}")
    buffer = radius if predicate == "dwithin" else 0.0
    pts = add_point_cols(points, lon_col, lat_col, bounds=bounds)
    if broadcast_polygons is None:
        # a 50k-row side of multi-MB coastline WKTs must not be collected
        # to the driver — the probe sizes on rows AND bytes
        broadcast_polygons = probe_broadcastable(polygons, wkt_col)

    if broadcast_polygons:
        return _broadcast_join(
            pts, polygons, predicate, radius, buffer, lon_col, lat_col,
            point_id, polygon_id, wkt_col, loose, carry_cols, bounds=bounds,
        )
    return _shuffle_join(
        pts, polygons, predicate, radius, buffer, lon_col, lat_col,
        point_id, polygon_id, wkt_col, loose, salt, carry_cols, bounds=bounds,
    )


def _refine_box(
    j: DataFrame, predicate: str, radius: float, lon_col: str, lat_col: str,
    bounds=None,
) -> DataFrame:
    lon, lat = sqlcells._col_ref(lon_col), sqlcells._col_ref(lat_col)
    if predicate == "intersects":
        return j.filter(F.expr(_box_contains_pred(lon, lat, bounds)))
    return j.filter(F.expr(f"{_box_dist_expr(lon, lat, bounds)} <= {sqlcells._dbl(radius)}"))


def _refine_general(
    j: DataFrame, predicate: str, radius: float, lon_col: str, lat_col: str,
    wkt_col: str, bounds=None,
) -> DataFrame:
    contains = (
        geo_udfs.st_contains_point if bounds is None else geo_udfs.st_contains_point_nowrap
    )
    dist = (
        geo_udfs.st_distance_point if bounds is None else geo_udfs.st_distance_point_nowrap
    )
    if predicate == "intersects":
        return j.filter(contains(F.col(wkt_col), F.col(lon_col), F.col(lat_col)))
    return j.filter(
        dist(F.col(wkt_col), F.col(lon_col), F.col(lat_col)) <= F.lit(float(radius))
    )


def _broadcast_join(
    pts, polygons, predicate, radius, buffer, lon_col, lat_col,
    point_id, polygon_id, wkt_col, loose, carry_cols=(), bounds=None,
) -> DataFrame:
    """Small polygon side: driver-side cover + broadcast hash join.

    Box polygons refine with pure SQL (whole-stage codegen, zero
    Python); general polygons fall back to the pandas predicate UDF.  The
    point side is scanned once per polygon class present (boxes / general)
    — one scan in the overwhelmingly common homogeneous case.
    """
    spark = pts.sparkSession
    rows = [(r[0], r[1]) for r in polygons.select(polygon_id, wkt_col).collect()]
    cover, tiers = polygon_cover_local(rows, buffer=buffer, bounds=bounds)
    if not tiers:
        return _empty_pairs(pts, point_id, polygon_id, carry=carry_cols)

    # prune to the join's working set BEFORE the explode — payload columns
    # must never be replicated |tiers|× (semi/anti join back for full rows)
    pt_keys = _point_keys(pts, tiers, point_id, lon_col, lat_col, "_cell31", *carry_cols)
    is_box = cover.column("is_box")
    boxes, general = cover.filter(is_box), cover.filter(pc.invert(is_box))
    parts = []
    if boxes.num_rows:
        # box refine needs only the bbox — no WKT in the broadcast at all
        right = _local(spark, boxes.select(["key", "id", *_BOX]), {"id": polygon_id})
        j = pt_keys.join(right, "key")
        if not loose:
            j = _refine_box(j, predicate, radius, lon_col, lat_col, bounds)
        parts.append(j.select(point_id, polygon_id, *carry_cols))
    if general.num_rows:
        # WKT is broadcast ONCE per polygon (joined by id after the cell
        # match), never duplicated into the per-cell rows — keeps the
        # broadcast payload at sum(len(wkt)), not 80x that
        cells_bc = _local(spark, general.select(["key", "id"]), {"id": polygon_id})
        wkts = sorted({rows[i] for i in general.column("row").to_pylist()})
        wkts_bc = _local(spark, _string_table(wkts, (polygon_id, wkt_col)))
        j = pt_keys.join(cells_bc, "key").join(wkts_bc, polygon_id)
        if not loose:
            j = _refine_general(j, predicate, radius, lon_col, lat_col, wkt_col, bounds)
        parts.append(j.select(point_id, polygon_id, *carry_cols))
    out = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    # DedupeFilter semantics hold BY CONSTRUCTION for point joins: a point
    # occupies exactly one cell per tier and each polygon's cover lives at
    # exactly one tier, so a (point, polygon) pair meets at most once — the
    # reference's dedupe targets duplicated EXTENT entries
    # (docs/content/devguide/040-keystructure.adoc:9), which the extent
    # join handles.  Skipping it makes point-in-polygon a ZERO-SHUFFLE
    # plan: scan → explode → broadcast hash join → filter.
    return out


def _shuffle_join(
    pts, polygons, predicate, radius, buffer, lon_col, lat_col,
    point_id, polygon_id, wkt_col, loose, salt, carry_cols=(), bounds=None,
) -> DataFrame:
    """Large polygon side: one Arrow bbox UDF + pure-SQL span-based
    tiering (<= 4 covering cells per polygon, the reference's
    estimated-count <= 2^d insert rule) + shuffle equi-join on the packed
    key, with optional polygon-replication salting on top of AQE skew-join
    splitting.

    Scale design: the ONLY Python on the polygon side is the per-row WKT →
    bbox extraction (st_bbox); the seam split, tier assignment, cell
    explosion and key packing are whole-stage-codegen SQL math, so a
    10^8-polygon side runs at scan speed.  Points sit at the finest tier,
    so a pair always meets at the polygon's tier — each polygon emits its
    own-tier cells only, and each point emits one key per DISTINCT polygon
    tier (<= 32, discovered via a tiny aggregate,
    TieredSpatialJoin.java:173-207).  Building the plan runs one
    localCheckpoint and one aggregate.
    """
    pc, tiers, any_split = _shuffle_side(
        polygons, polygon_id, "_r", wkt_col=wkt_col, pad=buffer, keep=(wkt_col,), bounds=bounds
    )
    if not tiers:
        return _empty_pairs(pts, point_id, polygon_id, pc.schema[polygon_id].dataType, carry_cols)
    poly_cells = _extent_multitier_keys(
        pc, polygon_id, "_r", [], extra_cols=(wkt_col,), bounds=bounds
    ).select(polygon_id, wkt_col, "key")

    pt_keys = _point_keys(pts, tiers, point_id, lon_col, lat_col, "_cell31", *carry_cols)
    # force a sort-merge join: BOTH sides are big by contract here (the
    # build-side probe already routed broadcastable polygon sets to
    # _broadcast_join), but Catalyst's size estimate of the un-exploded
    # point scan can look broadcastable and OOM the driver at 10^6+ rows —
    # the hint pins the spillable shuffle plan (AQE skew-split still applies)
    pt_keys = pt_keys.hint("merge")
    if salt > 1:
        # replicate polygon cells `salt` ways; point rows pick one replica —
        # breaks single-hot-cell skew beyond what AQE splitting can do
        pt_keys = pt_keys.withColumn(
            "_salt", F.expr(f"pmod(xxhash64({sqlcells._col_ref(point_id)}), {int(salt)})")
        )
        right = poly_cells.withColumn("_salt", F.expr(f"explode(sequence(0, {int(salt) - 1}))"))
        joined = pt_keys.join(right, ["key", "_salt"])
    else:
        joined = pt_keys.join(poly_cells, "key")

    if not loose:
        joined = _refine_general(joined, predicate, radius, lon_col, lat_col, wkt_col, bounds)
    out = joined.select(point_id, polygon_id, *carry_cols)
    # points meet each polygon at most once (one cell per tier) — dedupe is
    # only needed when a wrapped polygon was split into two images whose
    # covers can share a cell
    return out.dropDuplicates([point_id, polygon_id]) if any_split else out


def tiered_extent_join(
    extents: DataFrame,
    polygons: DataFrame,
    extent_id: str = "extent_id",
    polygon_id: str = "polygon_id",
    x0: str = "x0",
    y0: str = "y0",
    x1: str = "x1",
    y1: str = "y1",
    wkt_col: str = "wkt",
) -> DataFrame:
    """General tiered join: ARBITRARY extents on the big side (bbox columns)
    vs a broadcastable polygon side — the reference's full join shape
    (TieredSpatialJoin.java:75-377: both sides adaptively tiered, duplicated
    into covering cells, matched per tier with reprojectToTier, deduped).

    Tier scheme (exactly the reference's two-direction reprojection, folded
    into one equi-join):

    * each extent row gets tier te = finest tier whose cell size >= its
      normalized span (the estimated-count insert rule of
      TieredSFCIndexStrategy.getEstimatedIdCount — span-based, so the
      covering block is provably <= 2x2 = the default 2^d duplication
      budget), and explodes into those <= 4 cells — pure SQL math;
    * a pair (extent@te, polygon@tp) must meet at min(te, tp): the
      polygon's broadcast cell list carries its full bbox cover TRUNCATED
      to every tier <= tp (driver-side, tiny), covering the te <= tp
      direction; the extent additionally emits its cells at each polygon
      tier < te, covering the tp < te direction;
    * equi-join on the packed key, exact bbox-intersects test
      (boundary-inclusive, JTS-intersects semantics) and the PBSM
      reference point, which emits each pair exactly once
      (`_candidate_filter`).

    This is `geometry_join`'s exactly-once plan on either placement with
    the refine cut off: without a refine the envelope test is the whole
    predicate, so envelopes compare in plain coordinates (an unwrapped
    antimeridian polygon, x1 > 180, meets only extents that overlap it
    as written).  An oversized polygon side shuffles both sides, as in
    `tiered_extent_join_shuffle`.

    Output: (extent_id, polygon_id).  Verified against the brute-force
    bbox-intersect oracle — the same test design as the reference's
    GeoWaveSparkSpatialJoinIT brute-force comparison.
    """
    args = (extents, polygons, "intersects", 0.0, extent_id, polygon_id, None, wkt_col,
            (x0, y0, x1, y1))
    if probe_broadcastable(polygons, wkt_col):
        return _geometry_join_broadcast(*args, exactly_once=True, refine=False)
    return _geometry_join_shuffle(*args, refine=False)


def _local(spark, table: pa.Table, rename: dict[str, str] | None = None) -> DataFrame:
    """A driver-built Arrow table as a broadcast LocalRelation: its rows
    are never pickled through Python workers, as a frame over a Python
    row list's are (the broadcast still runs one JVM-side collect job)."""
    if rename:
        table = table.rename_columns([rename.get(c, c) for c in table.column_names])
    return F.broadcast(spark.createDataFrame(table))


def _strings(values) -> pa.Array:
    """Values as an Arrow string array, each as ``str`` renders it: a
    caller's id of any type reads as a string id, as it did through a
    ``string`` schema field."""
    return pa.array([None if v is None else str(v) for v in values], pa.string())


def _string_table(pairs, names: tuple[str, str]) -> pa.Table:
    """(id, wkt) pairs as a two-column Arrow table of strings."""
    cols = list(zip(*pairs)) or [(), ()]
    return pa.table([_strings(c) for c in cols], names=list(names))


def _empty_pairs(left: DataFrame, left_id: str, right_id: str, right_type="string", carry=()):
    """The empty (left_id, right_id, *carry left columns) result, typed
    like a real one: ``right_type`` is the right id's type, ``string`` on
    the broadcast paths (their ids pass through the driver's cover table).
    filter(False), not limit(0): the left side may be a STREAMING frame,
    where limit is illegal."""
    return (
        left.select(left_id, *carry).filter(F.lit(False))
        .withColumn(right_id, F.lit(None).cast(right_type))
        .select(left_id, right_id, *carry)
    )


def _envelopes(
    df: DataFrame, id_col: str, p: str, *, wkt_col: str | None = None, bbox_cols=None,
    pad: float = 0.0, bounds=None, keep=(), seam: bool = True,
) -> DataFrame:
    """(id_col, *keep, _seg, {p}x0..{p}y1): the envelopes — the caller's
    ``bbox_cols``, else one Arrow st_bbox pass over ``wkt_col`` — padded
    by ``pad``, one row per in-range image, numbered by ``_seg``.
    ``seam=False`` (extents) projects each envelope as it is, unpadded:
    one row, no ``_seg``.

    LongitudeDefinition wrap semantics: an envelope reaching +180 splits
    into [x0, 180] (_seg 0) and [-180, x1 - 360] (_seg 1), so its cover
    reaches both sides of the seam (one ending exactly at +180 keeps the
    seam column, where points at lon ±180 lie); the exact refines test
    the point's lon + 360 (the pairwise kernels the right geometry's -360
    image), so recall and exactness both hold.  An envelope crossing -180 clamps: the
    refines shift only that one way, so no pair exists across that edge
    to keep — and a world-spanning envelope (both edges) clamps to ONE
    world image.  Custom ``bounds`` (a projected frame) have no seam: one
    unclamped row each.
    """
    if bbox_cols is None:
        df = df.select(id_col, wkt_col).withColumn("_bb", geo_udfs.st_bbox(F.col(wkt_col)))
        bbox_cols = [f"_bb.{n}" for n in _BOX]
    bbox = [sqlcells._col_ref(c) for c in bbox_cols]
    keep, d = (id_col, *keep), sqlcells._dbl
    if not seam:
        return df.select(*keep, *(F.expr(f"{c} AS `{p}{n}`") for c, n in zip(bbox, _BOX)))
    x0, y0 = (f"({c} - {d(pad)})" for c in bbox[:2])
    x1, y1 = (f"({c} + {d(pad)})" for c in bbox[2:])
    if bounds is not None:
        seg, lo, hi = "0", x0, x1
    else:
        split = f"{x1} >= {d(180.0)} AND {x0} > {d(-180.0)}"
        df = df.withColumn("_seg", F.expr(f"explode(IF({split}, array(0, 1), array(0)))"))
        seg = "`_seg`"
        lo = f"IF(`_seg` = 1, {d(-180.0)}, GREATEST({x0}, {d(-180.0)}))"
        hi = f"IF(`_seg` = 1, {x1} - {_D360}, LEAST({x1}, {d(180.0)}))"
    exprs = zip((seg, lo, y0, hi, y1), ("_seg", *(f"{p}{n}" for n in _BOX)))
    return df.select(*keep, *(F.expr(f"{e} AS `{name}`") for e, name in exprs))


def _shuffle_side(
    df: DataFrame, id_col: str, p: str, *, wkt_col: str | None = None, bbox_cols=None,
    pad: float = 0.0, seam: bool = True, keep=(), bounds=None,
) -> tuple[DataFrame, list[int], bool]:
    """One side of a shuffle join: its `_envelopes`, each tagged with its
    own tier {p}te.  The side is materialized once (localCheckpoint:
    MEMORY_AND_DISK, ContextCleaner-reclaimed) so the bbox UDF runs once,
    and ONE aggregate reads back its distinct tiers (<= 32 rows after
    map-side partial aggregation) and whether any envelope was seam-split
    (``_seg`` > 0).

    Returns (materialized side, sorted tiers, any split)."""
    df = _envelopes(
        df, id_col, p, wkt_col=wkt_col, bbox_cols=bbox_cols, pad=pad, bounds=bounds,
        keep=keep, seam=seam,
    ).withColumn(f"{p}te", F.expr(_extent_tier_expr(p, bounds))).localCheckpoint()
    aggs = [f"collect_set(`{p}te`)"]
    if seam:
        aggs.append("max(`_seg`)")
    row = df.selectExpr(*aggs).first()
    return df, sorted(row[0] or []), seam and bool(row[1])


def _extent_pairs(lhs, rhs, left_id: str, right_id: str, predicate="intersects") -> DataFrame:
    """Candidate (left_id, right_id) pairs of two `_shuffle_side` results
    (prefixes _l, _r): each side keyed at its own tier plus the partner's
    coarser tiers, met on the packed key, kept by `_candidate_filter`."""
    (lc, l_tiers, _), (rc, r_tiers, _) = lhs, rhs
    if not l_tiers or not r_tiers:
        return _empty_pairs(lc, left_id, right_id, rc.schema[right_id].dataType)
    lk = _extent_multitier_keys(lc, left_id, "_l", r_tiers)
    rk = _extent_multitier_keys(rc, right_id, "_r", l_tiers).drop("_kt", "_cell")
    return _candidate_filter(lk.join(rk, "key"), predicate).select(left_id, right_id)


def _extent_tier_expr(p: str, bounds=None) -> str:
    """Span-based adaptive tier of the envelope {p}x0..{p}y1 (SQL text):
    tier t is the finest grid whose cell >= the extent's span, so the
    cover is always <= 2x2 cells (see `_extent_multitier_keys`)."""
    d = sqlcells._dbl
    wx = 360.0 if bounds is None else float(bounds[2] - bounds[0])
    wy = 180.0 if bounds is None else float(bounds[3] - bounds[1])
    sx = f"((`{p}x1` - `{p}x0`) / {d(wx)})"
    sy = f"((`{p}y1` - `{p}y0`) / {d(wy)})"
    span = f"GREATEST({sx}, {sy}, {d(0.0)})"
    t = cells.MAX_TIER
    return (
        f"CASE WHEN {span} <= {d(0.0)} THEN {t} "
        f"ELSE LEAST(GREATEST(CAST(FLOOR(-LOG2({span})) AS INT), 0), {t}) END"
    )


def _grid(norm: str, lo: str) -> str:
    """Grid coordinate of a normalized position at the emission tier _kt,
    clamped to [lo, last index]."""
    return sqlcells._grid_at(norm, "shiftleft(1L, `_kt`)", lo)


def _extent_multitier_keys(
    ex: DataFrame, id_col: str, p: str, partner_tiers: list[int],
    extra_cols: tuple[str, ...] = (),
    bounds=None,
) -> DataFrame:
    """Extent rows (envelope {p}x0..{p}y1) → one row per (extent, emission
    tier, covering cell) — the one extent keyer of every tiered join.  The
    emission tiers are the row's OWN tier {p}te (added here when absent)
    plus every strictly-coarser tier present on the partner side; an empty
    ``partner_tiers`` emits own-tier cells only.  The cover is computed
    DIRECTLY at each emission tier.

    Because the cover is re-derived per tier (not truncated from the own-
    tier cover), (id, key) rows are unique by construction — two own-tier
    cells can never collapse onto the same coarse key twice.  This is what
    makes the downstream reference-point emission exact with NO
    dropDuplicates (see `_candidate_filter`).

    Output columns: id, {p}x0..{p}y1, extras, {p}te (own tier), _kt
    (emission tier), _cell (Z-order cell at _kt), key (tier-packed long).
    """
    te = f"{p}te"
    if te not in ex.columns:
        ex = ex.withColumn(te, F.expr(_extent_tier_expr(p, bounds)))
    emit = f"array(`{te}`)"
    if partner_tiers:
        coarse = ", ".join(str(int(t)) for t in sorted(set(partner_tiers)))
        emit = f"array_append(filter(array({coarse}), t -> t < `{te}`), `{te}`)"
    ex = ex.withColumn("_kt", F.expr(f"explode({emit})"))
    x0, y0, x1, y1 = (f"`{p}{n}`" for n in _BOX)
    # norm_lon_upper on BOTH bounds: identical to norm_lon everywhere
    # except exactly +180, where the wrap would put the lower bound in
    # cell 0 while the upper clamps to r-1 — a degenerate seam box would
    # otherwise cover the whole row (2^31 cells at the point tier)
    nx, ny = sqlcells.norm_lon_upper, sqlcells.norm_lat
    ex = (
        ex.withColumns({
            "_gx0": F.expr(_grid(nx(x0, bounds), "0")),
            "_gy0": F.expr(_grid(ny(y0, bounds), "0")),
        })
        .withColumns({
            "_gx1": F.expr(_grid(nx(x1, bounds), "`_gx0`")),
            "_gy1": F.expr(_grid(ny(y1, bounds), "`_gy0`")),
        })
        .withColumn("_gx", F.expr("explode(sequence(`_gx0`, `_gx1`))"))
        .withColumn("_gy", F.expr("explode(sequence(`_gy0`, `_gy1`))"))
        .withColumn("_cell", F.expr(sqlcells.interleave("`_gx`", "`_gy`")))
    )
    return ex.select(
        id_col, *[f"{p}{n}" for n in _BOX], *extra_cols, te, "_kt", "_cell",
        F.expr(f"{sqlcells._tier_key('`_kt`', '`_cell`')} AS key"),
    )


def _ref_point_filter(j: DataFrame, px: str, py: str) -> DataFrame:
    """PBSM reference-point dedup filter (Patel & DeWitt, SIGMOD'96 §4.3):
    keep a joined row iff the cell at tier ``_kt`` containing the bbox
    intersection's lower-left corner (px, py: SQL text) is THIS join cell
    ``_cell``.  Each truly-intersecting pair passes in exactly one (tier,
    cell), so the join emits it exactly once — no pair-level
    dropDuplicates shuffle.

    Uses the SAME normalization as the cover generation (norm_lon_upper so
    px == +180 lands in the last column, matching the cover's clamp).

    Codegen-size note (r4 perf fix): the original predicate interleaved
    (gxp, gyp) and compared against ``_cell``; the inline Morton spread
    duplicates its operand subtree 32x, and with the normalization inside
    it the joined stage's generated Java exceeded the JVM's 64KB method
    limit — Spark silently ran the hottest stage of the BIG x BIG extent
    join in interpreted (non-codegen) mode.  Inverting the equality —
    ``gxp == compact_x(_cell) AND gyp == compact_y(_cell)`` — puts the
    duplication on the ``_cell`` ATTRIBUTE (tiny per copy) and references
    each large normalization expression exactly once, so the whole filter
    stays inside whole-stage codegen even when the optimizer folds it into
    the join condition."""
    gxp = _grid(sqlcells.norm_lon_upper(px), "0")
    gyp = _grid(sqlcells.norm_lat(py), "0")
    cx, cy = sqlcells.compact_x("`_cell`"), sqlcells.compact_y("`_cell`")
    return j.filter(F.expr(f"{gxp} = {cx} AND {gyp} = {cy}"))


def _candidate_filter(
    j: DataFrame, predicate: str = "intersects", seam: str | None = None,
    ref_point: bool = True,
) -> DataFrame:
    """The one candidate filter of the extent and geometry joins, over
    joined rows with envelopes _lx0.._ly1 / _rx0.._ry1, own tiers _lte /
    _rte and the join cell (_kt, _cell):

    * meet tier: a pair's single meet tier is min(own tiers) — keys at any
      common coarser tier are dropped here, keys at finer tiers never
      matched;
    * envelope overlap, plus for the containment family the stronger
      NECESSARY envelope condition (within(l,r) ⇒ bbox(l) ⊆ bbox(r),
      covers/contains ⇒ ⊇, equals ⇒ equal envelopes) — it prunes most
      candidates before the Arrow refine ever sees them;
    * ``ref_point``: the PBSM reference point keeps each candidate pair in
      exactly one (tier, cell) — no pair-level dropDuplicates.

    ``seam`` (SQL text) flags rows whose envelopes are not comparable in
    plain coordinates (an unwrapped antimeridian geometry, x1 > 180): they
    skip both envelope tests and are left to the exact refine, and a pair
    that meets only the right geometry's -360 image takes its reference
    corner against that image, so seam pairs are neither dropped nor
    duplicated.
    """
    def tested(name: str) -> Column:
        cond = _box_predicate(name)
        return cond if seam is None else cond | F.expr(seam)

    keep = F.expr("`_kt` = LEAST(`_lte`, `_rte`)") & tested("intersects")
    if predicate in ("within", "covers", "contains", "equals"):
        keep = keep & tested(predicate)
    j = j.filter(keep)
    if not ref_point:
        return j
    px = "GREATEST(`_lx0`, `_rx0`)"
    if seam is not None:
        px = (
            f"(CASE WHEN ({seam}) AND `_lx1` < `_rx0` "
            f"THEN GREATEST(`_lx0`, `_rx0` - {_D360}) ELSE {px} END)"
        )
    return _ref_point_filter(j, px, "GREATEST(`_ly0`, `_ry0`)")


def tiered_extent_join_shuffle(
    left: DataFrame,
    right: DataFrame,
    left_id: str = "left_id",
    right_id: str = "right_id",
    lcols: tuple[str, str, str, str] = ("x0", "y0", "x1", "y1"),
    rcols: tuple[str, str, str, str] = ("x0", "y0", "x1", "y1"),
) -> DataFrame:
    """BIG×BIG extent join: both sides adaptively tiered + duplicated, met
    at min(tier) via symmetric truncation, shuffle equi-join on the packed
    key — the reference's full TieredSpatialJoin shape where neither side
    broadcasts (per-tier cogroups folded into one equi-join).

    Tier discovery runs on BOTH sides (one tiny aggregate each —
    TieredSpatialJoin.java:173-207 does the same with collectAsync), then
    each side emits its bbox cover at its own tier plus at every coarser
    tier PRESENT ON THE PARTNER side (cover re-derived per tier, so
    (id, key) rows are unique).  A pair meets at exactly one tier — the
    min of the two own tiers — and within that tier the PBSM
    reference-point test keeps exactly one of its shared cells, so the
    join emits every intersecting pair EXACTLY ONCE with no pair-level
    dropDuplicates (the reference pays a DedupeFilter + distinct here;
    at 10^8+ output pairs that distinct is the dominant shuffle).
    """
    return _geometry_join_shuffle(
        left, right, "intersects", 0.0, left_id, right_id, None, None, lcols, rcols, refine=False
    )


def semi_join_matches(points: DataFrame, pairs: DataFrame, point_id: str = "image_id") -> DataFrame:
    """Matched point rows (left_semi back to base table,
    TieredSpatialJoin.java:364-372).  left_semi tolerates duplicate keys on
    the right — no pre-distinct shuffle needed."""
    return points.join(pairs.select(point_id), point_id, "left_semi")


def anti_join_matches(points: DataFrame, pairs: DataFrame, point_id: str = "image_id") -> DataFrame:
    """Negative-predicate output (subtractByKey, TieredSpatialJoin.java:357-363)."""
    return points.join(pairs.select(point_id), point_id, "left_anti")


# join-expressible pairwise predicates (all ⊆ intersects, so the cell-cover
# candidate generation is a valid superset for each; `disjoint` is the one
# registry member that is NOT a cell join — use anti_join_matches)
GEOMETRY_JOIN_PREDICATES = (
    "intersects", "dwithin", "within", "covers", "contains",
    "touches", "crosses", "overlaps", "equals",
)

def _pairwise_refine(j: DataFrame, predicate: str, radius: float) -> DataFrame:
    """Shared exact pairwise refine over (_lwkt, _rwkt) candidate columns:
    the predicate table's UDF (GeomFunctionRegistry.java:26-42), left vs
    right; dwithin is distance <= radius."""
    la, ra = F.col("_lwkt"), F.col("_rwkt")
    if predicate == "dwithin":
        return j.filter(geo_udfs.st_distance_wkt(la, ra) <= F.lit(float(radius)))
    return j.filter(geo_udfs.PREDICATES[predicate].udf(la, ra))


def _box_predicate(predicate: str) -> Column | None:
    """JVM Column twin of ``predicate`` for box × box candidate rows, left
    (_lx0.._ly1) against right (_rx0.._ry1): geo_udfs' interval algebra
    over Columns.  None when the predicate has no interval form
    (dwithin).  For any geometries the containment-family entries are
    NECESSARY envelope conditions."""
    if predicate == "crosses":
        return F.lit(False)  # area × area never crosses
    left, right = (tuple(F.col(f"{p}{n}") for n in _BOX) for p in ("_l", "_r"))
    return geo_udfs._box_relation(predicate, left, right)


def geometry_join(
    left: DataFrame,
    right: DataFrame,
    predicate: str = "intersects",
    radius: float = 0.0,
    left_id: str = "left_id",
    right_id: str = "right_id",
    left_wkt: str = "wkt",
    right_wkt: str = "wkt",
    left_bbox_cols: tuple[str, str, str, str] | None = None,
    left_is_box: bool = False,
    exactly_once: bool = False,
) -> DataFrame:
    """General geometry × geometry join — ANY supported WKT on both sides
    (LINESTRING tracks, polygons with holes, multi-geometries, points).

    ``exactly_once=True`` selects the STATELESS exactly-once plan: right
    covers are left untrimmed (full bbox covers, so the PBSM reference
    point provably lands in a shared candidate cell) and every pair-level
    ``dropDuplicates`` is replaced by the reference-point filter — the
    plan contains no stateful operator, which is what lets the SAME
    operator run unchanged on a streaming left side
    (streaming.ingest.streaming_geometry_join).  Batch callers keep the
    default (trimmed covers prune more candidates; the post-refine
    dedup runs on the small output).

    ``left_bbox_cols=(x0, y0, x1, y1)``: when the caller already has the
    left envelopes as columns, pass them to skip the WKT→bbox Arrow pass
    entirely (one fewer scan of the big side).

    ``left_is_box=True`` declares every left geometry an axis-aligned box
    equal to its envelope: candidates whose right geometry is also a box
    then refine with JVM interval algebra inside the join's codegen stage
    — zero Python and zero WKT movement for the box×box majority; only
    non-box right geometries take the Arrow refine.

    The reference's full TieredSpatialJoin over arbitrary JTS geometries
    (TieredSpatialJoin.java:75-377; its flagship IT is hail points ×
    tornado-track LINESTRINGs, GeoWaveSparkSpatialJoinIT.java:97-175),
    folded into one plan:

    * right (broadcastable) side: driver-side adaptive-tier cover of each
      geometry (trimmed to cells the true geometry touches; buffered by
      `radius` for dwithin) + truncations to every coarser tier — the
      reprojectToTier direction where the right side is coarser;
    * left (big) side: bbox via one Arrow-batched UDF, span-based adaptive
      tier (<= 4 cells, pure SQL math), keys at its own tier plus
      truncations to each coarser right-side tier;
    * equi-join on the packed key → JVM candidate filter (meet tier,
      envelopes) → exact pairwise refine (st_intersects_wkt /
      st_distance_wkt, candidate pairs only) → dedupe (DedupeFilter
      semantics — extents meet in multiple cells).

    Output: (left_id, right_id) pairs.
    """
    if predicate not in GEOMETRY_JOIN_PREDICATES:
        raise ValueError(f"unknown predicate {predicate!r}")
    args = (left, right, predicate, radius, left_id, right_id, left_wkt, right_wkt, left_bbox_cols)
    if probe_broadcastable(right, right_wkt):
        return _geometry_join_broadcast(*args, left_is_box, exactly_once)
    # build-side guard: never materialize an unbounded right side on the
    # driver — oversized builds take the keyed-shuffle twin (same output
    # contract) instead of OOMing in the broadcast build
    return _geometry_join_shuffle(*args)


def _geometry_join_broadcast(
    left: DataFrame,
    right: DataFrame,
    predicate: str,
    radius: float,
    left_id: str,
    right_id: str,
    left_wkt: str | None,
    right_wkt: str,
    left_bbox_cols: tuple[str, str, str, str] | None = None,
    left_is_box: bool = False,
    exactly_once: bool = False,
    refine: bool = True,
) -> DataFrame:
    """The broadcast geometry and extent joins, for a right side the
    caller has already found broadcastable (``streaming_geometry_join``
    guards it itself, so the probe runs once).

    ``refine=False`` (the extent join) stops at the candidate filter:
    without a refine the envelope test is the whole predicate, so the left
    side carries no WKT and no row is exempted from it at the seam."""
    buffer = radius if predicate == "dwithin" else 0.0
    spark = left.sparkSession
    rows = [(r[0], r[1]) for r in right.select(right_id, right_wkt).collect()]
    # boundary-closed covers + truncations to every coarser tier;
    # exactly-once emission needs FULL bbox covers: the PBSM reference
    # point is a bbox-intersection corner, which a geometry-trimmed cover
    # may not contain
    cover, r_tiers = polygon_cover_local(
        rows, buffer=buffer, trim=not exactly_once, coarser=True
    )
    if not r_tiers:
        return _empty_pairs(left, left_id, right_id)
    # right bboxes pre-buffered for dwithin; _rbox: this right geometry IS
    # its bbox (axis-aligned box, no holes, in range), so box×box
    # candidates can refine JVM-side (interval algebra)
    rbox = pc.and_(cover.column("is_box"), pc.less_equal(cover.column("x1"), 180.0))
    right_cells = _local(spark, pa.table({
        "key": cover.column("key"), "_rid": cover.column("id"),
        **{f"_r{n}": pc.add(cover.column(n), sign * buffer)
           for n, sign in zip(_BOX, (-1, -1, 1, 1))},
        "_rbox": rbox, "_rte": cover.column("tier"),
    }))

    lwkt = ("_lwkt",) if refine else ()
    lb = _envelopes(
        left, left_id, "_l", wkt_col=left_wkt, bbox_cols=left_bbox_cols,
        keep=tuple(F.col(left_wkt).alias(c) for c in lwkt), seam=False,
    )
    lk = _extent_multitier_keys(lb, left_id, "_l", r_tiers, extra_cols=lwkt)
    # the meet-tier rule cuts the cross-tier duplicate candidates BEFORE
    # the Arrow refine with zero extra exchange (a measured dedupe-exchange
    # here costs more than the duplicate refines it saves); only the <= 4
    # same-tier multi-cell duplicates remain for the cheap post-refine
    # dropDuplicates — or none, with the reference point (exactly_once).
    # Either side unwrapped across the antimeridian (x1 > 180): envelopes
    # are not comparable in plain coordinates, exactness comes from the
    # pairwise refine, which tests the right geometry's -360 image
    seam = f"`_rx1` > {sqlcells._dbl(180.0)} OR `_lx1` > {sqlcells._dbl(180.0)}"
    j = _candidate_filter(
        lk.join(right_cells, "key"), predicate, seam=seam if refine else None,
        ref_point=exactly_once,
    )
    if not refine:
        return j.select(F.col(left_id), F.col("_rid").alias(right_id))

    right_wkts = _local(spark, _string_table(rows, ("_rid", "_rwkt")))
    box_pred = _box_predicate(predicate) if left_is_box else None
    if box_pred is not None:
        # box×box candidates never touch Python OR the WKT column: the
        # interval-algebra predicate refines them inside the same codegen
        # stage (the common case — box workloads stay 100% JVM); only
        # candidates with a non-box right geometry take the Arrow refine.
        # Which rids are boxes is known driver-side — no runtime probe.
        j_box = j.filter(F.col("_rbox") & box_pred).select(
            F.col(left_id), F.col("_rid").alias(right_id)
        )
        if not exactly_once:
            j_box = j_box.dropDuplicates([left_id, right_id])
        if pc.all(rbox).as_py():  # every right geometry is a box
            return j_box
        j_gen = _pairwise_refine(
            j.filter(~F.col("_rbox")).join(right_wkts, "_rid"), predicate, radius
        )
        # box/general right ids are disjoint sets; the meet-tier filter
        # leaves only same-tier multi-cell duplicates — deduped on the
        # (small) refined output
        j_gen = j_gen.select(F.col(left_id), F.col("_rid").alias(right_id))
        if not exactly_once:
            j_gen = j_gen.dropDuplicates([left_id, right_id])
        return j_box.unionByName(j_gen)

    j = _pairwise_refine(j.join(right_wkts, "_rid"), predicate, radius)
    out = j.select(F.col(left_id), F.col("_rid").alias(right_id))
    if not exactly_once:
        out = out.dropDuplicates([left_id, right_id])
    return out


def geometry_join_shuffle(
    left: DataFrame,
    right: DataFrame,
    predicate: str = "intersects",
    radius: float = 0.0,
    left_id: str = "left_id",
    right_id: str = "right_id",
    left_wkt: str = "wkt",
    right_wkt: str = "wkt",
    left_bbox_cols: tuple[str, str, str, str] | None = None,
) -> DataFrame:
    """BIG × BIG geometry join: both sides bbox'd (one Arrow UDF each),
    adaptively tiered + symmetrically truncated (tiered_extent_join_shuffle
    machinery), met on the packed key, bbox-prefiltered JVM-side, then
    exact pairwise refine on the surviving candidates only.

    dwithin buffers the LEFT bbox by radius before tiering (sufficient:
    any pair within r overlaps after one side's expansion).

    The keyed shuffle stays NARROW (ids + bboxes only): candidate id pairs
    come out unique (deduped only after a seam split), then the WKTs join
    back by id for the refine — measured faster already at 60-byte WKTs
    (BENCH.md), and the gap widens with geometry size since the text is
    never duplicated into covering-cell rows.

    ``left_bbox_cols``: precomputed left envelopes — skips the WKT→bbox
    Arrow pass (same contract as geometry_join).

    Unwrapped antimeridian WKTs (x1 > 180, the LongitudeDefinition
    convention) are handled like the broadcast path: the envelope is SPLIT
    into its [-180,180] images (`_envelopes`) so the cell cover reaches
    both sides of the wrap; exactness then comes from the pairwise refine,
    which also evaluates the -360-shifted image.  The containment-family
    envelope conditions are tested on the images: a pair related by a
    containment predicate has one pair of images that satisfies them.
    """
    if predicate not in GEOMETRY_JOIN_PREDICATES:
        raise ValueError(f"unknown predicate {predicate!r}")
    return _geometry_join_shuffle(
        left, right, predicate, radius, left_id, right_id, left_wkt, right_wkt, left_bbox_cols
    )


def _geometry_join_shuffle(
    left: DataFrame,
    right: DataFrame,
    predicate: str,
    radius: float,
    left_id: str,
    right_id: str,
    left_wkt: str | None,
    right_wkt: str | None,
    left_bbox_cols: tuple[str, str, str, str] | None = None,
    right_bbox_cols: tuple[str, str, str, str] | None = None,
    refine: bool = True,
) -> DataFrame:
    """The shuffle geometry and extent joins: two `_shuffle_side`s met by
    `_extent_pairs`.  ``refine=False`` (the extent joins) returns those
    candidate pairs: without a refine the envelope test is the whole
    predicate, so the sides keep no WKT and are not seam-split."""
    buffer = radius if predicate == "dwithin" else 0.0

    def side(df, id_col, p, wkt_col, bbox_cols, pad):
        keep = (F.col(wkt_col).alias(f"{p}wkt"),) if refine else ()
        return _shuffle_side(
            df, id_col, p, wkt_col=wkt_col, bbox_cols=bbox_cols, pad=pad, seam=refine, keep=keep
        )

    lhs = side(left, left_id, "_l", left_wkt, left_bbox_cols, buffer)
    rhs = side(right, right_id, "_r", right_wkt, right_bbox_cols, 0.0)
    pairs = _extent_pairs(lhs, rhs, left_id, right_id, predicate)
    if not refine:
        return pairs
    (lc, _, l_split), (rc, _, r_split) = lhs, rhs
    if l_split or r_split:
        # two images of one geometry can each pass the reference point
        pairs = pairs.dropDuplicates([left_id, right_id])
    # the geometry text joins back by id from each side's first image
    j = pairs.join(
        lc.filter(F.col("_seg") == 0).select(left_id, "_lwkt"), left_id
    ).join(rc.filter(F.col("_seg") == 0).select(right_id, "_rwkt"), right_id)
    return _pairwise_refine(j, predicate, radius).select(left_id, right_id)


def brute_force_join(
    points: DataFrame,
    polygons: DataFrame,
    predicate: str = "intersects",
    radius: float = 0.0,
    lon_col: str = "lon",
    lat_col: str = "lat",
    point_id: str = "image_id",
    polygon_id: str = "polygon_id",
    wkt_col: str = "wkt",
) -> DataFrame:
    """Correctness oracle: crossJoin + exact predicate, the same shape as the
    reference's brute-force IT (GeoWaveSparkSpatialJoinIT.java:227-254)."""
    pts = add_point_cols(points, lon_col, lat_col).select(point_id, lon_col, lat_col)
    j = pts.crossJoin(polygons.select(polygon_id, wkt_col))
    if predicate == "intersects":
        j = j.filter(geo_udfs.st_contains_point(F.col(wkt_col), F.col(lon_col), F.col(lat_col)))
    else:
        j = j.filter(
            geo_udfs.st_distance_point(F.col(wkt_col), F.col(lon_col), F.col(lat_col))
            <= F.lit(float(radius))
        )
    return j.select(point_id, polygon_id).dropDuplicates([point_id, polygon_id])
