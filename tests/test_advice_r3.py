"""Round-3 advisor regression cases: concave-hole cover witnesses,
dashed-line coverage gaps and closed covers for buffered (dwithin) joins
(the corner-diagonal crosses case lives in test_geom_relate.py).

Each case is the exact family the round-2 review flagged — kept as
permanent regressions because all of them are measure-zero on random
fixtures and only ever show up on constructed geometry.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geowave_spark import geom

W = geom.geometry_from_wkt

# outer 10x10 box with a U-shaped hole: bottom bar y in [1,3] across
# x in [1,9], two arms up to y=9 at x in [1,3] and [7,9]; the notch
# x in (3,7), y in (3,9) is SOLID material of the polygon.  The hole
# ring's vertex mean is (5, 5.5) — inside the notch, NOT in the hole.
U_HOLE = (
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), "
    "(1 1, 9 1, 9 9, 7 9, 7 3, 3 3, 3 9, 1 9, 1 1))"
)


def test_covers_concave_hole_centroid_in_solid():
    """gb sits wholly in the notch (solid); the old vertex-mean 'centroid'
    witness landed inside gb and falsely broke the cover."""
    ga = W(U_HOLE)
    gb = W("POLYGON ((4 4, 6 4, 6 6, 4 6, 4 4))")
    assert geom.covers_pair(ga, gb)
    assert geom.within_pair(gb, ga)
    assert geom.contains_pair(ga, gb)


def test_covers_concave_hole_exact_fill_still_rejected():
    """gb equal to the U hole itself: every boundary sample lies on gb's
    own boundary, so only a guaranteed hole-INTERIOR witness rejects it
    (the vertex mean was in the notch and proved nothing)."""
    ga = W(U_HOLE)
    gb = W(
        "POLYGON ((1 1, 9 1, 9 9, 7 9, 7 3, 3 3, 3 9, 1 9, 1 1))"
    )
    assert not geom.covers_pair(ga, gb)


def test_ring_interior_point_is_interior():
    ring = W(U_HOLE).rings[1]
    pt = geom._ring_interior_point(ring)
    assert pt is not None
    hole_poly = geom.Polygon([ring])
    x, y = pt
    assert bool(hole_poly.contains(np.array([x]), np.array([y]))[0])
    S = hole_poly.segments()
    on = geom._on_segment_exact(
        np.array([[x]]), np.array([[y]]),
        S[None, :, 0], S[None, :, 1], S[None, :, 2], S[None, :, 3],
    ).any()
    assert not bool(on)


def test_line_covers_dashed_line_gap():
    """gb bridges the gaps of a dashed ga while every vertex/midpoint
    sample happens to land on a dash — the cut-midpoint subdivision at
    ga's endpoints exposes the gap."""
    ga = W("MULTILINESTRING ((0 0, 1 0), (1.9 0, 2.1 0), (3 0, 4 0))")
    gb = W("LINESTRING (0 0, 4 0)")
    assert not geom.covers_pair(ga, gb)
    # and the true cover still holds
    assert geom.covers_pair(W("LINESTRING (0 0, 4 0)"), W("LINESTRING (1 0, 3 0)"))
    # dash covered by the full line
    assert geom.covers_pair(gb, ga)


def test_segment_box_clip_mid_strict_kernel():
    A = np.array(
        [
            [-1.0, -1.0, 3.0, 3.0],   # through corners -> interior
            [-1.0, 1.0, 2.0, 1.0],    # along top edge -> boundary only
            [-1.0, -1.0, 0.0, 0.0],   # endpoint at corner -> no interior
            [5.0, 5.0, 6.0, 6.0],     # disjoint
            [0.25, 0.25, 0.75, 0.75],  # fully inside
        ]
    )
    got = geom.segment_box_clip_mid_strict(A, 0.0, 0.0, 1.0, 1.0)
    assert got.tolist() == [True, False, False, False, True]


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
