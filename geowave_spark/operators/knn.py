"""kNN via cell-ring expansion + distance refinement.

Re-expresses the reference's NN/kNN machinery (NNMapReduce.java:94-260 —
partition cells plus neighbor expansion, per-partition neighbor lists capped
by maxDistance and maxNeighbors; expansion geometry
OrthodromicDistancePartitioner.java:95-140) as one declarative plan:

    per query: tier t s.t. cell side >= max_distance   (so a 3x3 ring
               provably covers the search radius — no iteration needed)
    the 9 ring cells (lon wraps, lat clamps)
    equi-join with image cells at the same tiers       (packed long key)
    planar distance refine (pure SQL sqrt — no Python)
    row_number() over (partition by query order by dist, id) <= k

The query side is small and broadcast, so it is planned on the driver
(SIGMOD 2021, *To Partition, or Not to Partition*): one Arrow read of the
queries, their tiers and rings from the numpy twins
``cells.tier_for_distance`` / ``cells.neighbor_cells``, and the ring goes
back as an Arrow-built LocalRelation — no tier-collect job and no
Python-worker pass on a query frame per action.  The big x big path
(``broadcast_queries=False``, DBSCAN's self-join) keeps the ring as
JVM-side Column math, so neither side ever reaches the driver.  The point
side is JVM Column arithmetic in both: Morton keys from bit ops, inside
whole-stage codegen.  maxDistance + maxNeighbors semantics exactly as
NNMapReduce.java:168-169,199.

True k-nearest (no fixed radius) grows the radius round by round, and
both of its callers run the same loop, ``_grow``: ``knn_adaptive``
(point queries, one ``distance_candidates`` call per round) and
``knn_geometry`` (geometry queries, one buffered-cover join per round).
Each round ends in one Arrow read of the open queries' top-k rows, and
completeness is decided on the driver.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import cells, sqlcells
from ..functions import geo_udfs
from .spatial_join import _point_keys, add_point_cols

def _tier_expr(maxd: Column, bounds=None) -> Column:
    """Coarsest tier whose cell side >= max_distance (world: 180/2^t; a
    custom ``bounds`` frame uses its smaller axis span, so the 3x3 ring
    still provably covers the radius in a projected CRS) — the Column twin
    of ``cells.tier_for_distance``, equal to it for every radius.

    The sides fall with t, so the tier is the count of tiers 1..MAX_TIER
    whose (exact, power-of-two-scaled) side still fits the radius; no
    log2 rounding can move a radius that is itself a side.  Degenerate
    radii are legal and must not poison the driver-side tier collect:
    max_distance <= 0 (eps=0 DBSCAN means exact-duplicate neighbors), NaN
    and NULL (no match possible — the dist <= NULL refine drops every
    pair) all pin to MAX_TIER instead of producing a NULL tier."""
    span = 180.0
    if bounds is not None:
        span = min(
            float(bounds[2]) - float(bounds[0]), float(bounds[3]) - float(bounds[1])
        )
    t = sum(
        F.when(maxd <= F.lit(math.ldexp(span, -i)), F.lit(1)).otherwise(F.lit(0))
        for i in range(1, cells.MAX_TIER + 1)
    )
    return F.when(
        maxd.isNull() | F.isnan(maxd) | (maxd <= 0), F.lit(cells.MAX_TIER)
    ).otherwise(t)


def _column_ring(queries: DataFrame, query_id, maxd_col, q_lon, q_lat, extra, bounds):
    """(query, ring cell) rows as Column math — the big x big path, where
    the query side is itself a distributed table."""
    q = queries.withColumn("_tier", _tier_expr(F.col(maxd_col), bounds))
    # per-row grid resolution r = 2^tier (exact in double up to 2^31)
    q = q.withColumn("_r", F.pow(F.lit(2.0), F.col("_tier").cast("double")).cast("long"))
    nlon = sqlcells.norm_lon(sqlcells._col_ref(q_lon), bounds)
    nlat = sqlcells.norm_lat(sqlcells._col_ref(q_lat), bounds)
    q = q.withColumns({
        "_qx": F.expr(sqlcells._grid_at(nlon, "`_r`")),
        "_qy": F.expr(sqlcells._grid_at(nlat, "`_r`")),
    })
    # 3x3 ring: lon wraps (pmod) in the world frame, clamps under custom
    # bounds (no antimeridian in a projected frame); lat always clamps
    nx = (
        F.pmod(F.col("_qx") + F.col("_dx"), F.col("_r"))
        if bounds is None
        else F.col("_qx") + F.col("_dx")
    )
    q = (
        q.withColumn("_dx", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("_dy", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .withColumn("_nx", nx)
        .withColumn("_ny", F.col("_qy") + F.col("_dy"))
        .filter((F.col("_ny") >= 0) & (F.col("_ny") < F.col("_r")))
        .filter((F.col("_nx") >= 0) & (F.col("_nx") < F.col("_r")))
        .withColumn(
            "key", F.expr(sqlcells._tier_key("`_tier`", sqlcells.interleave("`_nx`", "`_ny`")))
        )
        .dropDuplicates([query_id, "key"])
        .select(query_id, q_lon, q_lat, maxd_col, "_tier", "key", *extra)
        .withColumnRenamed(q_lon, "_q_lon")
        .withColumnRenamed(q_lat, "_q_lat")
    )
    tiers = sorted(r[0] for r in q.select("_tier").distinct().collect())
    return q.drop("_tier"), tiers


def _local_ring(spark, qt: pa.Table, query_id, maxd_col, q_lon, q_lat, extra, bounds):
    """The same ring rows planned on the driver from the collected query
    side; returns (LocalRelation, tiers, query ids unique?)."""
    def f64(c):
        return qt.column(c).cast(pa.float64()).to_numpy(zero_copy_only=False)

    lon, lat, maxd = f64(q_lon), f64(q_lat), f64(maxd_col)
    # a NULL/NaN position or radius can match nothing (dist <= NULL drops
    # every pair) — such rows get no ring at all
    idx = np.nonzero(np.isfinite(lon) & np.isfinite(lat) & ~np.isnan(maxd))[0]
    tier = cells.tier_for_distance(maxd[idx], bounds=bounds)
    rows, cell = cells.neighbor_cells(lon[idx], lat[idx], tier, bounds=bounds)
    src = pa.array(idx[rows])
    # carried columns keep their Arrow (= Spark) types; the refine compares
    # against the original lon/lat/radius values, as the Column path does
    names = [query_id, "_q_lon", "_q_lat", maxd_col, "key", *extra]
    arrays = [qt.column(c).take(src) for c in (query_id, q_lon, q_lat, maxd_col)]
    arrays.append(pa.array(cells.pack_key(tier[rows], cell), pa.int64()))
    arrays += [qt.column(c).take(src) for c in extra]
    ring = spark.createDataFrame(pa.Table.from_arrays(arrays, names=names))
    unique = pc.count_distinct(qt.column(query_id), mode="all").as_py() == qt.num_rows
    return ring, sorted(set(tier.tolist())), unique


def distance_candidates(
    points: DataFrame,
    queries: DataFrame | pa.Table,
    point_id: str = "image_id",
    query_id: str = "query_id",
    maxd_col: str = "max_distance",
    q_lon: str = "lon",
    q_lat: str = "lat",
    p_lon: str = "lon",
    p_lat: str = "lat",
    broadcast_queries: bool = True,
    extra_query_cols: list[str] | None = None,
    bounds=None,
) -> DataFrame:
    """All (query_id, point_id, dist) pairs with dist <= max_distance —
    the unranked within-distance join (cell-ring candidates + exact
    refine).  knn_join adds the top-k window; DBSCAN uses this directly.

    ``broadcast_queries=True`` (the default) reads the query side ONCE to
    the driver (Arrow), plans every query's tier and 3x3 ring there, and
    broadcasts the ring as a LocalRelation.  ``queries`` may then also be
    a pyarrow Table already on the driver (knn_adaptive's rounds pass
    their open queries this way).  ``False`` keeps the ring as Column
    math and sort-merge joins it: the path for a query side as large as
    the point side.

    ``bounds``: custom per-dimension index bounds (x0, y0, x1, y1) for a
    projected CRS (SpatialDimensionalityTypeProvider.java:107-124) — the
    ring clamps instead of wrapping (no antimeridian in a projected
    frame) and distances stay planar in the CRS's own units."""
    extra = extra_query_cols or []
    if broadcast_queries:
        if not isinstance(queries, pa.Table):
            used = dict.fromkeys([query_id, q_lon, q_lat, maxd_col, *extra])
            queries = queries.select(*used).toArrow()
        q, tiers, unique = _local_ring(
            points.sparkSession, queries, query_id, maxd_col, q_lon, q_lat, extra, bounds
        )
    else:
        q, tiers = _column_ring(queries, query_id, maxd_col, q_lon, q_lat, extra, bounds)
        unique = False
    if not tiers:
        # empty query side → empty result with the contract schema (an
        # empty partition/day must not crash dbscan/knn pipelines)
        return (
            q.select(query_id, *extra)
            .withColumn(point_id, F.lit(None).cast(points.schema[point_id].dataType))
            .withColumn("dist", F.lit(None).cast("double"))
            .filter(F.lit(False))
            .select(query_id, point_id, "dist", *extra)
        )

    pts = add_point_cols(points, p_lon, p_lat, bounds=bounds)
    pts = _point_keys(
        pts, tiers, point_id, F.col(p_lon).alias("_p_lon"), F.col(p_lat).alias("_p_lat")
    )

    if broadcast_queries:
        cand = pts.join(F.broadcast(q), "key")
    else:
        # both sides are exploded frames whose size Catalyst routinely
        # under-estimates (post-filter/aggregate stats) — pin the
        # spillable sort-merge plan like spatial_join._shuffle_join does,
        # or a mis-broadcast of a 10^6+-row exploded side OOMs the driver
        cand = pts.join(q.hint("merge"), "key")

    # explicit products (not pow) → bit-identical to the SQL oracle's dx*dx+dy*dy
    dx = F.col("_p_lon") - F.col("_q_lon")
    dy = F.col("_p_lat") - F.col("_q_lat")
    dist = F.sqrt(dx * dx + dy * dy)
    cand = cand.withColumn("dist", dist).filter(F.col("dist") <= F.col(maxd_col))
    if not unique:
        # one query id per ring cell and one key per point and tier make
        # every pair unique already; a repeated query id (or the Column
        # ring, whose ids are not known) can still repeat a pair
        cand = cand.dropDuplicates([query_id, point_id])
    return cand.select(query_id, point_id, "dist", *extra)


def knn_join(
    points: DataFrame,
    queries: DataFrame,
    point_id: str = "image_id",
    query_id: str = "query_id",
    k_col: str = "k",
    maxd_col: str = "max_distance",
    q_lon: str = "lon",
    q_lat: str = "lat",
    p_lon: str = "lon",
    p_lat: str = "lat",
    broadcast_queries: bool = True,
    bounds=None,
) -> DataFrame:
    """Return (query_id, image_id, dist, rank) — top-k by planar distance
    within max_distance, ties broken by point id (deterministic).
    ``bounds`` runs the ring and distances in a projected frame."""
    cand = distance_candidates(
        points, queries, point_id, query_id, maxd_col, q_lon, q_lat, p_lon, p_lat,
        broadcast_queries, extra_query_cols=[k_col], bounds=bounds,
    )
    w = Window.partitionBy(query_id).orderBy(F.col("dist").asc(), F.col(point_id).asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col(k_col))
        .select(query_id, point_id, "dist", "rank")
    )


def _grow(
    open_q: pa.Table, query_id, point_id, candidates, k, init_distance, max_distance
) -> pa.Table:
    """The one radius-growth loop under knn_adaptive and knn_geometry.

    Per round, ``candidates(open_q, d)`` gives the (query_id, point_id,
    dist) pairs within d of the still-open queries; their per-query top-k
    rows come back in ONE ``toArrow()``.  A query is COMPLETE once it has
    >= k neighbors with dist <= d (the candidate cover provably reaches
    radius d, so no unseen point can be closer); completeness is decided
    on the driver, so a round costs no checkpoint, count or anti-join job.
    Otherwise d *= 4 and only the open queries rejoin (bounded by
    O(log(max/init)) rounds); at the cap the leftovers' rows are emitted
    as found.  Returns (query_id, point_id, dist, rank), rank <= k, ties
    by point id."""
    # every table that may reach createDataFrame is kept in one chunk:
    # Spark's Arrow-table reader ends at an empty record batch that follows
    # a non-empty one, silently dropping every later row (a round that
    # completes no query, or a partition whose queries all completed,
    # leaves such a batch)
    open_q = open_q.combine_chunks()
    w = Window.partitionBy(query_id).orderBy(F.col("dist").asc(), F.col(point_id).asc())
    results = []
    d = float(init_distance)
    while True:
        topk = (
            candidates(open_q, d)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, point_id, "dist", "rank")
            .toArrow()
        )
        vc = pc.value_counts(topk[query_id])
        done_ids = vc.field("values").filter(pc.greater_equal(vc.field("counts"), k))
        done = pc.is_in(topk[query_id], value_set=done_ids)
        # at the cap: emit whatever the final round found for leftovers too
        results.append(topk if d >= max_distance else topk.filter(done))
        open_q = open_q.filter(pc.invert(pc.is_in(open_q[query_id], value_set=done_ids)))
        if d >= max_distance or open_q.num_rows == 0:
            break
        d = min(d * 4.0, float(max_distance))
    return pa.concat_tables(results).combine_chunks()


def knn_adaptive(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    point_id: str = "image_id",
    query_id: str = "query_id",
    q_lon: str = "lon",
    q_lat: str = "lat",
    p_lon: str = "lon",
    p_lat: str = "lat",
    init_distance: float = 0.5,
    max_distance: float = 403.0,  # > planar diameter of the lon/lat plane
) -> DataFrame:
    """True k-nearest (no fixed radius): iterative ring growth.

    The reference's NNProcessor semantics when maxNeighbors dominates:
    each :func:`_grow` round runs the within-distance candidate join at
    radius d for the still-unfilled queries.  The query side is read once
    (Arrow) and every round is one ``distance_candidates`` call on the
    open queries, planned on the driver; the answer — at most k rows per
    query — returns as a LocalRelation that no later action recomputes.
    The point table is re-scanned per round.

    Output: (query_id, point_id, dist, rank) with rank <= k, ties by id.
    """
    def candidates(open_q: pa.Table, d: float) -> DataFrame:
        q = open_q.append_column(
            "max_distance", pa.array(np.full(open_q.num_rows, d), pa.float64())
        )
        return distance_candidates(
            points, q, point_id, query_id, "max_distance", q_lon, q_lat, p_lon, p_lat
        )

    open_q = queries.select(query_id, q_lon, q_lat).toArrow()
    return points.sparkSession.createDataFrame(
        _grow(open_q, query_id, point_id, candidates, k, init_distance, max_distance)
    )


def knn_geometry(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    point_id: str = "image_id",
    query_id: str = "query_id",
    wkt_col: str = "wkt",
    p_lon: str = "lon",
    p_lat: str = "lat",
    init_distance: float = 0.5,
    max_distance: float = 403.0,
) -> DataFrame:
    """k nearest POINTS per query GEOMETRY (LINESTRING / POLYGON / MULTI*)
    — the reference's NN join runs over arbitrary SimpleFeatures with JTS
    planar distance (NNMapReduce.java:94-260), not just point pairs; this
    is that generalization, on knn_adaptive's radius-growth loop
    (:func:`_grow`).

    Only the query ids reach the driver.  Per round: the open queries'
    geometries (a semi-join to a LocalRelation of their ids), a
    buffered-cover dwithin join at radius d (candidates only), then the
    exact geometry distance (st_distance_point, vectorized per distinct
    query geometry) and the <= d gate.  Output: (query_id, point_id,
    dist, rank), ties by point id.
    """
    from .spatial_join import probe_broadcastable, tiered_spatial_join

    spark = points.sparkSession
    geoms = queries.select(F.col(query_id).alias("polygon_id"), F.col(wkt_col).alias("wkt"))
    pts = points.select(point_id, p_lon, p_lat)
    # the query side only SHRINKS across rounds, so one probe decides the
    # join path for the whole loop; either path carries (lon, lat) through
    # the join, so no round scans the point table a second time
    broadcast = probe_broadcastable(geoms, "wkt")

    def candidates(open_q: pa.Table, d: float) -> DataFrame:
        ids = spark.createDataFrame(open_q.rename_columns(["polygon_id"]))
        remaining = geoms.join(F.broadcast(ids), "polygon_id", "left_semi")
        # loose=True: the join emits buffered-cover candidates WITHOUT its
        # own exact-distance refine — the kernel below computes the exact
        # distance once and applies the <= d gate itself (the non-loose
        # join would run the same Arrow kernel a second time per round)
        pairs = tiered_spatial_join(
            pts, remaining, predicate="dwithin", radius=d,
            point_id=point_id, lon_col=p_lon, lat_col=p_lat, loose=True,
            broadcast_polygons=broadcast, carry_cols=(p_lon, p_lat),
        )
        return (
            pairs.join(F.broadcast(remaining), "polygon_id")
            .withColumn(
                "dist", geo_udfs.st_distance_point(F.col("wkt"), F.col(p_lon), F.col(p_lat))
            )
            .filter(F.col("dist") <= F.lit(d))
            .select(F.col("polygon_id").alias(query_id), point_id, "dist")
        )

    open_q = queries.select(query_id).toArrow()
    return spark.createDataFrame(
        _grow(open_q, query_id, point_id, candidates, k, init_distance, max_distance)
    )


def knn_oracle_numpy(
    p_ids: np.ndarray,
    p_lon: np.ndarray,
    p_lat: np.ndarray,
    q_ids: np.ndarray,
    q_lon: np.ndarray,
    q_lat: np.ndarray,
    ks: np.ndarray,
    maxds: np.ndarray,
) -> list[tuple]:
    """Brute-force pairwise oracle (FIXTURES.md §5)."""
    out = []
    for qi in range(len(q_ids)):
        d = np.sqrt((p_lon - q_lon[qi]) ** 2 + (p_lat - q_lat[qi]) ** 2)
        ok = d <= maxds[qi]
        idx = np.nonzero(ok)[0]
        order = sorted(idx, key=lambda i: (d[i], p_ids[i]))
        for rank, i in enumerate(order[: int(ks[qi])], start=1):
            out.append((q_ids[qi], p_ids[i], float(d[i]), rank))
    return out
