"""Query-side covers are boundary-CLOSED.

Bug family fixed in round 3: insert-path covers use the reference's
exact-fit rule (an upper edge exactly on a cell line does NOT open the
next cell — TieredSFCIndexStrategyTest.java:140-168), but QUERY-side
covers must include that next cell, because a partner lying exactly on
the shared line floors into it while every refine in the engine is
boundary-inclusive (<=).  With the open convention these pairs were
missed at EVERY tier (cell lines at coordinate 0 nest through the whole
tier hierarchy), so no dedup or tier fallback could recover them.
"""

from __future__ import annotations

import os
import sys

import pandas as pd
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geowave_spark.operators import spatial_join as sj
from geowave_spark.operators import stats
from geowave_spark.sources import indexed

EDGE_POLY = "POLYGON ((-10 -10, 0 -10, 0 10, -10 10, -10 -10))"  # x1 = 0: a cell line at every tier


def test_point_on_polygon_edge_on_cell_line(spark):
    pts = spark.createDataFrame(pd.DataFrame({
        "image_id": ["on_edge", "far"],
        "lon": [0.0, 70.0],
        "lat": [1.0, 70.0],
    }))
    polys = spark.createDataFrame(pd.DataFrame({"polygon_id": ["p0"], "wkt": [EDGE_POLY]}))
    got = sorted(map(tuple, sj.tiered_spatial_join(pts, polys).collect()))
    want = sorted(map(tuple, sj.brute_force_join(pts, polys).collect()))
    assert got == want == [("on_edge", "p0")]


def test_extent_touching_polygon_bbox_on_cell_line(spark):
    ext = spark.createDataFrame(pd.DataFrame({
        "extent_id": ["touch", "far"],
        "x0": [0.0, 50.0], "y0": [0.0, 50.0],
        "x1": [5.0, 55.0], "y1": [5.0, 55.0],
    }))
    polys = spark.createDataFrame(pd.DataFrame({"polygon_id": ["p0"], "wkt": [EDGE_POLY]}))
    got = sorted(map(tuple, sj.tiered_extent_join(ext, polys).collect()))
    assert got == [("touch", "p0")]


def _boundary_points(spark):
    return spark.createDataFrame(pd.DataFrame({
        "image_id": ["corner", "inside", "far", "edge"],
        "lon": [0.0, -3.0, 10.0, 0.0],
        "lat": [0.0, -3.0, 10.0, -2.0],
    }))


BBOX = (-5.625, -5.625, 0.0, 0.0)  # upper edges on cell lines at every tier
EXPECT = ["corner", "edge", "inside"]


def test_indexed_range_lookup_includes_boundary_rows(spark, tmp_path):
    p = str(tmp_path / "z")
    indexed.write_indexed(_boundary_points(spark), p, n_files=2)
    got = sorted(r[0] for r in indexed.range_lookup_indexed(spark, p, BBOX).select("image_id").collect())
    assert got == EXPECT


def test_stats_range_lookup_includes_boundary_rows(spark, tmp_path):
    p = str(tmp_path / "z2")
    indexed.write_indexed(_boundary_points(spark), p, n_files=2)
    pts = spark.read.parquet(p)
    got = sorted(r[0] for r in stats.range_lookup(pts, BBOX).select("image_id").collect())
    assert got == EXPECT


def test_hilbert_xz_hier_boundary_rows(spark, tmp_path):
    ph = str(tmp_path / "h")
    indexed.write_indexed_hilbert(_boundary_points(spark), ph, n_files=2)
    got = sorted(r[0] for r in indexed.hilbert_range_lookup(spark, ph, BBOX).select("image_id").collect())
    assert got == EXPECT
    ext = spark.createDataFrame(pd.DataFrame({
        "extent_id": ["touch", "far"],
        "x0": [0.0, 20.0], "y0": [0.0, 20.0],
        "x1": [3.0, 25.0], "y1": [3.0, 25.0],
    }))
    px = str(tmp_path / "xz")
    indexed.write_indexed_extents(ext, px, n_files=2)
    got = sorted(r[0] for r in indexed.xz_range_lookup(spark, px, BBOX).select("extent_id").collect())
    assert got == ["touch"]
    pr = str(tmp_path / "hier")
    indexed.write_indexed_hier(ext, pr, n_files=2)
    got = sorted(r[0] for r in indexed.hier_range_lookup(spark, pr, BBOX).select("extent_id").collect())
    assert got == ["touch"]


def test_cell_range_predicate_merges_runs(spark):
    pred, n_ranges = indexed.cell_range_predicate((10.0, 10.0, 30.0, 30.0), max_cells=64)
    from geowave_spark import cells

    tier = cells.tier_for_bbox((10.0, 10.0, 30.0, 30.0), max_dup=64, closed=True)
    n_cells = len(cells.cells_for_bbox_at_tier((10.0, 10.0, 30.0, 30.0), tier, closed=True))
    assert n_ranges < n_cells  # Z-order runs merged into BETWEEN ranges
    # and the predicate still selects exactly the bbox rows end-to-end
    df = spark.createDataFrame(
        [(1, 15.0, 15.0), (2, 50.0, 50.0)], "id long, lon double, lat double"
    )
    from geowave_spark.operators.stats import range_lookup

    assert [r["id"] for r in range_lookup(df, (10.0, 10.0, 30.0, 30.0)).collect()] == [1]


def test_hier_write_all_points_stays_jvm(spark, tmp_path):
    """An all-points table through the hier layout must not evaluate the
    XZ Arrow UDF (the CASE-extraction trap) — and still round-trip."""
    df = spark.createDataFrame(
        [(i, float(i), float(i), float(i), float(i)) for i in range(8)],
        "rid long, x0 double, y0 double, x1 double, y1 double",
    )
    path = str(tmp_path / "hier_pts")
    indexed.write_indexed_hier(df, path, n_files=2)
    out = indexed.hier_range_lookup(spark, path, (0.0, 0.0, 3.5, 3.5))
    assert sorted(r["rid"] for r in out.collect()) == [0, 1, 2, 3]
    got = spark.read.parquet(path)
    assert got.filter(F.col("kind") != 0).count() == 0


def test_dwithin_exact_radius_on_cell_line(spark):
    """A partner at EXACTLY distance radius whose position falls on a
    tier cell line past the buffered bbox's upper edge: the open cover
    dropped its candidate cell; closed covers keep it."""
    from geowave_spark.operators import spatial_join

    # box upper lon edge at 10.0, radius 1.25 -> buffered edge 11.25 is a
    # tier-5 cell line; the point sits exactly there
    polys = spark.createDataFrame(
        [("p1", "POLYGON ((0 0, 10 0, 10 5.625, 0 5.625, 0 0))")],
        "polygon_id string, wkt string",
    )
    pts = spark.createDataFrame(
        [("x1", 11.25, 2.0), ("x2", 13.0, 2.0)],
        "image_id string, lon double, lat double",
    )
    got = spatial_join.tiered_spatial_join(
        pts, polys, predicate="dwithin", radius=1.25
    )
    rows = {r["image_id"] for r in got.collect()}
    assert rows == {"x1"}

    # same family through the general geometry join (extent side)
    left = spark.createDataFrame(
        [("x1", "POINT (11.25 2.0)"), ("x2", "POINT (13.0 2.0)")],
        "left_id string, left_wkt string",
    )
    right = spark.createDataFrame(
        [("p1", "POLYGON ((0 0, 10 0, 10 5.625, 0 5.625, 0 0))")],
        "right_id string, right_wkt string",
    )
    got2 = spatial_join.geometry_join(
        left, right, predicate="dwithin", radius=1.25,
        left_id="left_id", right_id="right_id",
        left_wkt="left_wkt", right_wkt="right_wkt",
    )
    rows2 = {(r[0], r[1]) for r in got2.collect()}
    assert rows2 == {("x1", "p1")}
