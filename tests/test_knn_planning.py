"""kNN query-side planning on the driver.

The broadcast query side is read once and its tiers and 3x3 rings come
from the numpy twins in ``cells``; these tests pin that the twins agree
with the Column path DBSCAN still uses, that a ring round stays a handful
of Spark jobs, and that the pair-level dedup skip never repeats a pair.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geowave_spark import cells
from geowave_spark.operators import dbscan, knn

BOUNDS = (200_000.0, 4_000_000.0, 800_000.0, 4_600_000.0)


def _radii(span):
    sides = [span / (1 << t) for t in range(0, cells.MAX_TIER + 1)]
    near = [float(np.nextafter(s, d)) for s in sides for d in (np.inf, 0.0)]
    return sides + near + [0.0, -1.0, -0.0, 1e-300, 1e300, 0.3, 2.0, 7.5, None]


@pytest.mark.parametrize("bounds", [None, BOUNDS])
def test_tier_for_distance_matches_column_twin(spark, bounds):
    span = 180.0 if bounds is None else 600_000.0
    radii = _radii(span)
    df = spark.createDataFrame([(i, r) for i, r in enumerate(radii)], "i int, d double")
    got = {
        r["i"]: r["t"]
        for r in df.select("i", knn._tier_expr(F.col("d"), bounds).alias("t")).collect()
    }
    want = cells.tier_for_distance(
        np.array([np.nan if r is None else r for r in radii]), bounds=bounds
    )
    assert [got[i] for i in range(len(radii))] == want.tolist()
    # the scalar form is the same function
    assert [cells.tier_for_distance(np.nan if r is None else r, bounds=bounds)
            for r in radii] == want.tolist()
    # and every tier's side covers its radius, one tier finer does not
    for r, t in zip(radii, want.tolist()):
        if r is not None and 0 < r <= span:
            assert span / (1 << t) >= r
            if t < cells.MAX_TIER:
                assert span / (1 << (t + 1)) < r


@pytest.mark.parametrize("bounds", [None, BOUNDS])
def test_local_ring_matches_column_ring(spark, bounds):
    """The driver-planned ring and the Column ring key the same cells."""
    rng = np.random.default_rng(7)
    if bounds is None:
        lon = np.r_[rng.uniform(-180, 180, 60), -180.0, 180.0, 0.0, 179.9, -179.9]
        lat = np.r_[rng.uniform(-90, 90, 60), -90.0, 90.0, 89.99, 0.0, -89.99]
        maxd = np.r_[10.0 ** rng.uniform(-4, 2.5, 60), 90.0, 180.0, 200.0, 1e-9, 0.0]
    else:
        lon = np.r_[rng.uniform(BOUNDS[0], BOUNDS[2], 60), BOUNDS[0], BOUNDS[2]]
        lat = np.r_[rng.uniform(BOUNDS[1], BOUNDS[3], 60), BOUNDS[3], BOUNDS[1]]
        maxd = np.r_[10.0 ** rng.uniform(0, 5.5, 60), 600_000.0, 5.0]
    rows = [(i, float(x), float(y), float(d)) for i, (x, y, d) in enumerate(zip(lon, lat, maxd))]
    schema = "query_id long, lon double, lat double, max_distance double"
    qdf = spark.createDataFrame(rows, schema)
    col_ring, col_tiers = knn._column_ring(
        qdf, "query_id", "max_distance", "lon", "lat", [], bounds
    )
    loc_ring, loc_tiers, unique = knn._local_ring(
        spark, qdf.toArrow(), "query_id", "max_distance", "lon", "lat", [], bounds
    )
    assert unique and loc_tiers == col_tiers
    as_set = lambda df: sorted(map(tuple, df.select("query_id", "key").collect()))  # noqa: E731
    assert as_set(loc_ring) == as_set(col_ring)


def _points(spark, n=3000, seed=3):
    rng = np.random.default_rng(seed)
    lon, lat = rng.uniform(-40, 40, n), rng.uniform(-30, 30, n)
    df = spark.createDataFrame(
        [(int(i), float(lon[i]), float(lat[i])) for i in range(n)],
        "image_id long, lon double, lat double",
    )
    return df, np.arange(n), lon, lat


def test_knn_adaptive_jobs_per_round(spark, monkeypatch):
    """knn_adaptive on 4 queries: at most 6 Spark jobs per ring round
    (counted by job group), one distance_candidates call per round, and
    the exact brute-force answer."""
    pts, ids, plon, plat = _points(spark)
    pts = pts.cache()
    pts.count()
    qs = [(0, 1.0, 2.0), (1, -35.0, 25.0), (2, 39.9, -29.9), (3, 60.0, 0.0)]
    queries = spark.createDataFrame(qs, "query_id long, lon double, lat double")
    k = 10
    rounds = []
    real = knn.distance_candidates
    monkeypatch.setattr(
        knn, "distance_candidates", lambda *a, **kw: rounds.append(1) or real(*a, **kw)
    )
    sc = spark.sparkContext
    group = "knn-adaptive-jobs"
    sc.setJobGroup(group, "knn_adaptive job count")
    try:
        got = knn.knn_adaptive(pts, queries, k, init_distance=0.5).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        pts.unpersist()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert len(rounds) >= 2 and n_jobs <= 6 * len(rounds), (n_jobs, len(rounds))
    want = knn.knn_oracle_numpy(
        ids, plon, plat, *(np.array(c) for c in zip(*qs)),
        np.full(len(qs), k), np.full(len(qs), np.inf),
    )
    assert sorted((r["query_id"], r["image_id"], r["rank"]) for r in got) == sorted(
        (q, p, rk) for q, p, _d, rk in want
    )
    dist = {(r["query_id"], r["rank"]): r["dist"] for r in got}
    assert all(dist[(q, rk)] == d for q, _p, d, rk in want)


def test_knn_adaptive_keeps_rows_after_a_round_that_completes_nothing(spark):
    """Query 1 completes in the first round, query 2 (points 5 away) only
    in the third; the second round completes nothing.  Its empty result
    must not cut the answer short: Spark's Arrow-table reader stops at an
    empty record batch that follows rows, which dropped query 2."""
    rng = np.random.default_rng(1)
    near = rng.uniform(-0.2, 0.2, (20, 2))
    ang = rng.uniform(0, 2 * np.pi, 12)
    plon = np.r_[near[:, 0], 50.0 + 5.0 * np.cos(ang)]
    plat = np.r_[near[:, 1], 5.0 * np.sin(ang)]
    ids = np.r_[np.arange(20), 100 + np.arange(12)]
    pts = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, x, y in zip(ids, plon, plat)],
        "image_id long, lon double, lat double",
    )
    qs = [(1, 0.0, 0.0), (2, 50.0, 0.0)]
    queries = spark.createDataFrame(qs, "query_id long, lon double, lat double")
    got = knn.knn_adaptive(pts, queries, 3).collect()
    want = knn.knn_oracle_numpy(
        ids, plon, plat, *(np.array(c) for c in zip(*qs)), np.full(2, 3), np.full(2, np.inf),
    )
    assert sorted((r["query_id"], r["image_id"], r["rank"]) for r in got) == sorted(
        (q, p, rk) for q, p, _d, rk in want
    )
    assert len(want) == 6


def _knn_geometry_brute(pts, queries, k, cap=None):
    """(query_id, image_id, dist, rank) by brute force with the same exact
    geometry-distance kernel, optionally inside a distance cap."""
    from pyspark.sql import Window

    from geowave_spark.functions import geo_udfs

    cand = queries.crossJoin(pts).select(
        "query_id", "image_id",
        geo_udfs.st_distance_point(F.col("wkt"), F.col("lon"), F.col("lat")).alias("dist"),
    )
    if cap is not None:
        cand = cand.filter(F.col("dist") <= cap)
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("image_id").asc())
    want = cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    return sorted(map(tuple, want.collect()))


_GEOM_QUERIES = [
    ("line", "LINESTRING (1 2, 3 4.5)"),
    ("box", "POLYGON ((-35 25, -34 25, -34 26, -35 26, -35 25))"),
    ("far", "LINESTRING (60 0, 62 1)"),
]


def test_knn_geometry_jobs_per_round(spark, monkeypatch):
    """knn_geometry runs knn_adaptive's driver-side rounds: at most 10
    Spark jobs per radius round, the probe and the id read included
    (counted by job group: 37 jobs in 4 rounds; the per-round
    checkpoint/count/union loop it replaced ran 63), and the exact
    brute-force answer."""
    from geowave_spark.operators import spatial_join

    pts, _ids, _plon, _plat = _points(spark)
    pts = pts.cache()
    pts.count()
    queries = spark.createDataFrame(_GEOM_QUERIES, "query_id string, wkt string")
    k = 10
    rounds = []
    real = spatial_join.tiered_spatial_join
    monkeypatch.setattr(
        spatial_join, "tiered_spatial_join", lambda *a, **kw: rounds.append(1) or real(*a, **kw)
    )
    sc = spark.sparkContext
    group = "knn-geometry-jobs"
    sc.setJobGroup(group, "knn_geometry job count")
    try:
        got = knn.knn_geometry(pts, queries, k, init_distance=0.5).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    want = _knn_geometry_brute(pts, queries, k)
    pts.unpersist()
    assert len(rounds) >= 2 and n_jobs <= 10 * len(rounds), (n_jobs, len(rounds))
    assert sorted(map(tuple, got)) == want and len(want) == k * len(_GEOM_QUERIES)


def test_knn_geometry_cap_emits_partial_rows(spark):
    """init_distance == max_distance: one round at the cap; a query with
    fewer than k points inside the cap gets exactly those points, ranked,
    beside queries that fill all k."""
    pts, _ids, _plon, _plat = _points(spark, n=800, seed=5)
    queries = spark.createDataFrame(_GEOM_QUERIES, "query_id string, wkt string")
    k, cap = 10, 22.0
    got = knn.knn_geometry(pts, queries, k, init_distance=cap, max_distance=cap).collect()
    want = _knn_geometry_brute(pts, queries, k, cap=cap)
    assert sorted(map(tuple, got)) == want
    n_far = sum(1 for r in want if r[0] == "far")
    assert 0 < n_far < k


def test_knn_join_duplicate_query_id_pairs_once(spark):
    """A query id that appears twice must not repeat its (query, point)
    pairs: the dedup is skipped only for unique ids."""
    pts, ids, plon, plat = _points(spark, n=800, seed=5)
    row = (7, 3.0, 4.0, 5, 6.0)
    schema = "query_id long, lon double, lat double, k int, max_distance double"
    got = knn.knn_join(pts, spark.createDataFrame([row, row], schema)).collect()
    want = knn.knn_oracle_numpy(
        ids, plon, plat, np.array([7]), np.array([3.0]), np.array([4.0]),
        np.array([5]), np.array([6.0]),
    )
    pairs = [(r["query_id"], r["image_id"]) for r in got]
    assert len(pairs) == len(set(pairs)) == 5
    assert sorted(pairs) == sorted((q, p) for q, p, _d, _rk in want)
    # and the distance_candidates contract itself: every pair once
    cand = knn.distance_candidates(
        pts, pa.table({"query_id": [7, 7], "lon": [3.0, 3.0], "lat": [4.0, 4.0],
                       "max_distance": [6.0, 6.0]}),
    ).groupBy("query_id", "image_id").count()
    assert cand.filter(F.col("count") > 1).count() == 0


def test_distance_candidates_empty_queries(spark):
    pts = spark.createDataFrame([(1, 0.0, 0.0)], "event_id long, lon double, lat double")
    q = spark.createDataFrame(
        [], "query_id long, lon double, lat double, max_distance double"
    )
    out = knn.distance_candidates(pts, q, point_id="event_id")
    assert out.columns == ["query_id", "event_id", "dist"]
    assert out.count() == 0
    # and dbscan over an empty table returns empty, not ValueError
    empty = spark.createDataFrame([], "event_id long, lon double, lat double")
    assert dbscan.dbscan(empty, 0.5, 3).count() == 0
