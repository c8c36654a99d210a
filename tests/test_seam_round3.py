"""Round-3 review regressions: +180 seam reachability, world-spanning
shuffle-join bboxes, degenerate seam extents, empty-polygon carry_cols,
and wrapped spatio-temporal lookups; seam polygons on both point-join
paths against the brute-force oracle."""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geowave_spark.operators import spatial_join
from geowave_spark.sources import indexed


def test_stored_lon180_reachable_by_pushdown(spark, tmp_path):
    """A stored point at lon exactly +180 wraps into grid column 0; a
    query bbox ending at x1=180 must still reach it through the pushed
    cell ranges (the exact refine accepts it — the cover must too)."""
    df = spark.createDataFrame(
        [(1, 180.0, 5.0), (2, 175.0, 5.0), (3, -170.0, 5.0)],
        "image_id long, lon double, lat double",
    )
    p = str(tmp_path / "pts.parquet")
    indexed.write_indexed(df, p, n_files=2, phash_col=None)
    out = indexed.range_lookup_indexed(spark, p, (170.0, -10.0, 180.0, 10.0))
    got = sorted(r["image_id"] for r in out.collect())
    assert got == [1, 2]

    hp = str(tmp_path / "pts_h.parquet")
    indexed.write_indexed_hilbert(df, hp, n_files=2, phash_col=None)
    got_h = sorted(
        r["image_id"]
        for r in indexed.hilbert_range_lookup(spark, hp, (170.0, -10.0, 180.0, 10.0)).collect()
    )
    assert got_h == [1, 2]


def test_st_subbin_lookup_wrapped_bbox(spark, tmp_path):
    """A wrapped (and an unwrapped) antimeridian bbox through the sub-bin
    spatio-temporal lookup: previously the inverted grid box decomposed to
    ZERO ranges and the OR-fold raised IndexError."""
    rows = [
        (1, 175.0, 5.0, "2024-01-05 00:00:00"),
        (2, -175.0, 5.0, "2024-01-06 00:00:00"),
        (3, 0.0, 5.0, "2024-01-07 00:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, lon double, lat double, s string"
    ).withColumn("ts", F.col("s").cast("timestamp_ntz")).drop("s")
    p = str(tmp_path / "st.parquet")
    indexed.write_indexed_st(df, p, n_files=2)
    t0, t1 = 1_704_000_000_000_000, 1_705_000_000_000_000  # covers all rows
    wrapped = indexed.st_subbin_range_lookup(
        spark, p, (170.0, -10.0, -170.0, 10.0), t0, t1
    )
    assert sorted(r["event_id"] for r in wrapped.collect()) == [1, 2]
    unwrapped = indexed.st_subbin_range_lookup(
        spark, p, (170.0, -10.0, 190.0, 10.0), t0, t1
    )
    assert sorted(r["event_id"] for r in unwrapped.collect()) == [1, 2]


def test_shuffle_join_world_spanning_buffered_bbox(spark):
    """A geometry whose buffered bbox overflows BOTH +/-180 (world-wide
    line + dwithin radius) previously landed in both wrap branches with
    out-of-range bounds surviving — covers collapsed to a seam sliver and
    interior points lost their candidates."""
    pts = spark.createDataFrame(
        [(1, 0.0, 0.5), (2, -100.0, 0.5), (3, 100.0, 0.5), (4, 0.0, 50.0)],
        "image_id long, lon double, lat double",
    )
    polys = spark.createDataFrame(
        [("eq", "LINESTRING (-180 0, 180 0)")], "polygon_id string, wkt string"
    )
    got = sorted(
        r["image_id"]
        for r in spatial_join.tiered_spatial_join(
            pts, polys, predicate="dwithin", radius=1.0,
            broadcast_polygons=False,  # force the shuffle path under test
        ).collect()
    )
    assert got == [1, 2, 3]


# seam box (unwrapped, x1 > 180), a box ending just west of +180, the
# world box, a west-edge box and an unwrapped seam triangle
_SEAM_POLYGONS = [
    ("seam_box", "POLYGON ((175 -10, 185 -10, 185 10, 175 10, 175 -10))"),
    ("east_box", "POLYGON ((177.93 -52.62, 179.99 -52.62, 179.99 -52.54, "
                 "177.93 -52.54, 177.93 -52.62))"),
    ("world_box", "POLYGON ((-180 30, 180 30, 180 32, -180 32, -180 30))"),
    ("west_box", "POLYGON ((-180 -30, -176 -30, -176 -20, -180 -20, -180 -30))"),
    ("seam_tri", "POLYGON ((175 40, 185 40, 180 50, 175 40))"),
]


def _seam_points(spark):
    """Random points, denser near the seam, plus hand-placed ones: the
    point at lon -179.8 near east_box, and points on each side of +-180."""
    rng = np.random.RandomState(20261017)
    lon = np.concatenate([rng.uniform(-180, 180, 1500), rng.uniform(-180, -170, 400),
                          rng.uniform(170, 180, 400)])
    lat = rng.uniform(-60, 60, lon.size)
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(lon, lat))]
    rows += [(10_000, -179.80, -52.25), (10_001, 179.9, 0.0), (10_002, -179.9, 0.0),
             (10_003, -178.0, 42.0), (10_004, -177.0, 31.0), (10_005, 178.5, -25.0)]
    return spark.createDataFrame(rows, "image_id long, lon double, lat double")


@pytest.mark.parametrize("predicate,radius", [("intersects", 0.0), ("dwithin", 0.5), ("dwithin", 3.0)])
def test_seam_polygons_match_brute_force_on_both_paths(spark, predicate, radius):
    """Both point-join paths (broadcast and shuffle, salted or not) return
    exactly the brute-force pairs for seam, world and west-edge polygons.
    The broadcast path's box refine measures dwithin against the point's
    lon + 360 copy for every box; the Arrow kernel must do the same, or
    the paths disagree near -180 (point (-179.80, -52.25) vs east_box)."""
    pts = _seam_points(spark)
    polys = spark.createDataFrame(_SEAM_POLYGONS, "polygon_id string, wkt string")
    want = sorted(map(tuple, spatial_join.brute_force_join(
        pts, polys, predicate=predicate, radius=radius).collect()))
    assert want
    if predicate == "dwithin" and radius == 0.5:
        assert (10_000, "east_box") in want
    for broadcast in (True, False):
        for salt in (0, 3):
            got = sorted(map(tuple, spatial_join.tiered_spatial_join(
                pts, polys, predicate=predicate, radius=radius,
                broadcast_polygons=broadcast, salt=salt,
            ).collect()))
            assert got == want, (broadcast, salt)


def test_shuffle_join_build_runs_three_jobs(spark):
    """Planning the shuffle path (bbox pass, seam split, tier discovery)
    runs one localCheckpoint and one aggregate: at most 3 Spark jobs."""
    pts = _seam_points(spark)
    polys = spark.createDataFrame(_SEAM_POLYGONS, "polygon_id string, wkt string")
    sc = spark.sparkContext
    for predicate, radius in [("intersects", 0.0), ("dwithin", 3.0)]:
        group = f"shuffle-join-build-{predicate}"
        sc.setJobGroup(group, "shuffle join build job count")
        try:
            out = spatial_join.tiered_spatial_join(
                pts, polys, predicate=predicate, radius=radius, broadcast_polygons=False
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert n_jobs <= 3, (predicate, n_jobs)
        assert out.count() > 0


def test_geometry_join_degenerate_seam_extent(spark):
    """A zero-span left extent AT the antimeridian (x0=x1=180) must cover
    one cell, not explode a 2^31-cell sequence (norm_lon wraps its lower
    bound to column 0 while the upper clamps to the last column)."""
    left = spark.createDataFrame(
        [(1, "POINT (180 10)", 180.0, 10.0, 180.0, 10.0),
         (2, "POINT (0 10)", 0.0, 10.0, 0.0, 10.0)],
        "left_id long, wkt string, bx0 double, by0 double, bx1 double, by1 double",
    )
    right = spark.createDataFrame(
        [("r1", "POLYGON ((170 0, 180 0, 180 20, 170 20, 170 0))"),
         ("r2", "POLYGON ((-10 0, 10 0, 10 20, -10 20, -10 0))")],
        "right_id string, wkt string",
    )
    got = sorted(
        (r["left_id"], r["right_id"])
        for r in spatial_join.geometry_join(
            left, right, predicate="intersects",
            left_bbox_cols=("bx0", "by0", "bx1", "by1"), left_is_box=True,
        ).collect()
    )
    assert got == [(1, "r1"), (2, "r2")]


def test_broadcast_join_empty_polygons_keeps_carry_cols(spark):
    """The empty-cover early return must preserve carry_cols in the
    schema — downstream selects break only on the empty execution
    otherwise."""
    pts = spark.createDataFrame(
        [(1, 0.0, 0.0, 7)], "image_id long, lon double, lat double, ts long"
    )
    polys = spark.createDataFrame([], "polygon_id string, wkt string")
    out = spatial_join.tiered_spatial_join(
        pts, polys, carry_cols=("ts",), broadcast_polygons=True
    )
    assert out.count() == 0
    assert set(out.columns) == {"image_id", "polygon_id", "ts"}
