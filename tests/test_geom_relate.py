"""Interior-aware pairwise predicates (touches / crosses / overlaps /
contains / disjoint) — the remainder of the reference's registered 9-op UDF
family (GeomFunctionRegistry.java:26-42, UDFRegistrySPI.java:16-27) as true
geometry predicates.

Three layers of checks:
* a known-answer case matrix over boxes / hole polygons / lines / points;
* property tests: for axis-aligned boxes the predicates must equal exact
  closed-interval algebra (the one geometry class where ground truth is
  trivially computable another way);
* consistency identities that hold for ANY pair (exactly one of disjoint /
  touches / interiors-intersect; crosses ∧ overlaps never both; contains =
  covers ∧ interiors).
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geowave_spark import geom

W = geom.geometry_from_wkt


def box(x0, y0, x1, y1):
    return W(
        f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))"
    )


A = box(0, 0, 2, 2)

# (name, other, touches, crosses, overlaps, contains(A, other), interiors)
BOX_CASES = [
    ("edge-share box", box(2, 0, 3, 2), True, False, False, False, False),
    ("corner box", box(2, 2, 3, 3), True, False, False, False, False),
    ("partial overlap", box(1, 1, 3, 3), False, False, True, False, True),
    ("aligned overlap", box(1, 0, 3, 2), False, False, True, False, True),
    ("nested", box(0.5, 0.5, 1.5, 1.5), False, False, False, True, True),
    ("equal (contains itself)", box(0, 0, 2, 2), False, False, False, True, True),
    ("nested sharing edge", box(0, 0, 1, 2), False, False, False, True, True),
    ("disjoint", box(5, 5, 6, 6), False, False, False, False, False),
    ("line crossing", W("LINESTRING (-1 1, 3 1)"), False, True, False, False, True),
    ("line inside", W("LINESTRING (0.5 1, 1.5 1)"), False, False, False, True, True),
    ("line on boundary", W("LINESTRING (0 0, 2 0)"), True, False, False, False, False),
    ("line touch endpoint", W("LINESTRING (2 1, 3 1)"), True, False, False, False, False),
    ("line half-in", W("LINESTRING (1 1, 3 1)"), False, True, False, False, True),
    ("line through corner", W("LINESTRING (-1 -1, 1 1)"), False, True, False, False, True),
    ("point interior", W("POINT (1 1)"), False, False, False, True, True),
    ("point boundary", W("POINT (2 1)"), True, False, False, False, False),
]

L = W("LINESTRING (0 0, 4 0)")

# (name, other, touches, crosses, overlaps, contains(L, other))
LINE_CASES = [
    ("proper cross", W("LINESTRING (2 -1, 2 1)"), False, True, False, False),
    ("T-touch endpoint-on-interior", W("LINESTRING (2 0, 2 3)"), True, False, False, False),
    ("V through interior vertex", W("LINESTRING (1 -1, 2 0, 3 -1)"), False, True, False, False),
    ("endpoint-endpoint", W("LINESTRING (4 0, 5 1)"), True, False, False, False),
    ("collinear overlap", W("LINESTRING (2 0, 6 0)"), False, False, True, False),
    ("collinear contained", W("LINESTRING (1 0, 3 0)"), False, False, False, True),
    ("collinear endpoint-meet", W("LINESTRING (4 0, 8 0)"), True, False, False, False),
    ("disjoint parallel", W("LINESTRING (0 1, 4 1)"), False, False, False, False),
    ("cross then collinear → dim-1", W("LINESTRING (2 0, 4 0, 4 2)"), False, False, True, False),
]


@pytest.mark.parametrize("name,gb,t,c,o,cn,ii", BOX_CASES, ids=[c[0] for c in BOX_CASES])
def test_box_case_matrix(name, gb, t, c, o, cn, ii):
    assert geom.touches_pair(A, gb) == t
    assert geom.crosses_pair(A, gb) == c
    assert geom.overlaps_pair(A, gb) == o
    assert geom.contains_pair(A, gb) == cn
    assert geom.interiors_intersect_pair(A, gb) == ii
    assert geom.disjoint_pair(A, gb) == (not geom.intersects_pair(A, gb))
    # symmetric predicates
    assert geom.touches_pair(gb, A) == t
    assert geom.crosses_pair(gb, A) == c
    assert geom.overlaps_pair(gb, A) == o


@pytest.mark.parametrize("name,gb,t,c,o,cn", LINE_CASES, ids=[c[0] for c in LINE_CASES])
def test_line_case_matrix(name, gb, t, c, o, cn):
    assert geom.touches_pair(L, gb) == t
    assert geom.crosses_pair(L, gb) == c
    assert geom.overlaps_pair(L, gb) == o
    assert geom.contains_pair(L, gb) == cn


def test_hole_polygon_relations():
    H = W(
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (3 3, 7 3, 7 7, 3 7, 3 3))"
    )
    # a box exactly filling the hole touches the annulus along the hole ring
    assert geom.touches_pair(H, box(3, 3, 7, 7))
    assert not geom.covers_pair(H, box(3, 3, 7, 7))
    # point in the hole is OUTSIDE; on the hole ring is boundary
    assert not geom.contains_pair(H, W("POINT (5 5)"))
    assert geom.touches_pair(W("POINT (5 3)"), H)
    assert geom.contains_pair(H, W("POINT (1 1)"))
    # a line from outside ending inside the hole crosses the ring material
    assert geom.crosses_pair(W("LINESTRING (5 -2, 5 5)"), H)
    # box overlapping the ring partially
    assert geom.overlaps_pair(H, box(-2, -2, 5, 5))


def test_multipolygon_bridge():
    M = W(
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((2 0, 3 0, 3 1, 2 1, 2 0)))"
    )
    assert geom.touches_pair(M, box(1, 0, 2, 1))  # shares both inner edges
    assert geom.disjoint_pair(M, box(1.2, 0, 1.8, 1))
    assert geom.overlaps_pair(M, box(0.5, 0, 2.5, 1))


def _interval_truth(a, b):
    """Exact closed-box ground truth via interval algebra."""
    ax0, ay0, ax1, ay1 = a
    bx0, by0, bx1, by1 = b
    ix = ax0 <= bx1 and bx0 <= ax1 and ay0 <= by1 and by0 <= ay1
    interiors = ax0 < bx1 and bx0 < ax1 and ay0 < by1 and by0 < ay1
    a_cov_b = ax0 <= bx0 and ay0 <= by0 and ax1 >= bx1 and ay1 >= by1
    b_cov_a = bx0 <= ax0 and by0 <= ay0 and bx1 >= ax1 and by1 >= ay1
    return {
        "intersects": ix,
        "interiors": interiors,
        "touches": ix and not interiors,
        "overlaps": interiors and not a_cov_b and not b_cov_a,
        "contains": a_cov_b,  # positive-area boxes: covers == contains
        "covers": a_cov_b,
        "within": b_cov_a,
        "crosses": False,
        "disjoint": not ix,
        "equals": a == b,
    }


def test_random_boxes_vs_interval_algebra():
    """All nine predicates over 400 random integer box pairs must equal
    exact interval algebra (grid-aligned so touches/covers cases occur)."""
    rng = np.random.RandomState(42)
    for _ in range(400):
        ax0, ay0 = rng.randint(-8, 6, 2)
        bx0, by0 = rng.randint(-8, 6, 2)
        a = (ax0, ay0, ax0 + rng.randint(1, 5), ay0 + rng.randint(1, 5))
        b = (bx0, by0, bx0 + rng.randint(1, 5), by0 + rng.randint(1, 5))
        ga, gb = box(*a), box(*b)
        want = _interval_truth(a, b)
        got = {
            "intersects": geom.intersects_pair(ga, gb),
            "interiors": geom.interiors_intersect_pair(ga, gb),
            "touches": geom.touches_pair(ga, gb),
            "overlaps": geom.overlaps_pair(ga, gb),
            "contains": geom.contains_pair(ga, gb),
            "covers": geom.covers_pair(ga, gb),
            "within": geom.within_pair(ga, gb),
            "crosses": geom.crosses_pair(ga, gb),
            "disjoint": geom.disjoint_pair(ga, gb),
            "equals": geom.equals_pair(ga, gb),
        }
        assert got == want, (a, b, got, want)


def test_random_pairs_consistency_identities():
    """Identities that hold for ANY geometry pair: the DE-9IM classes
    {disjoint, touches, interiors-intersect} partition all pairs; crosses
    and overlaps each imply interior contact and exclude each other;
    contains = covers ∧ interiors."""
    rng = np.random.RandomState(7)

    def rand_geom():
        k = rng.randint(3)
        if k == 0:
            x, y = rng.uniform(-5, 5, 2)
            return W(f"POINT ({x:.3f} {y:.3f})")
        if k == 1:
            n = rng.randint(2, 5)
            pts = ", ".join(
                f"{x:.3f} {y:.3f}" for x, y in rng.uniform(-5, 5, (n, 2))
            )
            return W(f"LINESTRING ({pts})")
        x0, y0 = rng.uniform(-5, 3, 2)
        w, h = rng.uniform(0.5, 4, 2)
        return box(round(x0, 3), round(y0, 3), round(x0 + w, 3), round(y0 + h, 3))

    for _ in range(300):
        ga, gb = rand_geom(), rand_geom()
        dj = geom.disjoint_pair(ga, gb)
        tc = geom.touches_pair(ga, gb)
        ii = geom.interiors_intersect_pair(ga, gb)
        assert dj + tc + ii == 1  # exactly one
        cr = geom.crosses_pair(ga, gb)
        ov = geom.overlaps_pair(ga, gb)
        assert not (cr and ov)
        if cr or ov:
            assert ii
        cv = geom.covers_pair(ga, gb)
        assert geom.contains_pair(ga, gb) == (cv and ii)
        if cv:
            assert not dj


def test_line_covers_line_witness():
    a = W("LINESTRING (0 0, 4 0, 4 4)")
    assert geom.covers_pair(a, W("LINESTRING (1 0, 3 0)"))
    assert geom.covers_pair(a, W("LINESTRING (2 0, 4 0, 4 1)"))
    assert not geom.covers_pair(a, W("LINESTRING (1 0, 5 0)"))
    assert not geom.covers_pair(a, box(0, 0, 1, 1))  # line never covers area
    assert geom.equals_pair(a, W("LINESTRING (4 4, 4 0, 0 0)"))


def test_group_kernels_match_scalar():
    """Every vectorized group kernel of the predicate table (box×box,
    segment×box, box-left, point×area fast paths, each with its scalar
    fallback) must agree with the row's scalar kernel pair-for-pair."""
    from geowave_spark.functions import geo_udfs

    rng = np.random.RandomState(3)
    boxes = []
    for _ in range(60):
        x0, y0 = rng.randint(-8, 6, 2)
        boxes.append(
            f"POLYGON (({x0} {y0}, {x0 + rng.randint(1, 5)} {y0}, "
            f"{x0 + rng.randint(1, 5)} {y0 + rng.randint(1, 5)}, "
            f"{x0} {y0 + rng.randint(1, 5)}, {x0} {y0}))"
        )
    # only true boxes take the fast path; make half of them exact boxes
    for _ in range(60):
        x0, y0 = rng.randint(-8, 6, 2)
        x1, y1 = x0 + rng.randint(1, 5), y0 + rng.randint(1, 5)
        boxes.append(f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))")
    segs = []
    for _ in range(120):
        x0, y0 = rng.uniform(-8, 6, 2)
        dx, dy = rng.uniform(-4, 4, 2)
        segs.append(f"LINESTRING ({x0:.3f} {y0:.3f}, {x0 + dx:.3f} {y0 + dy:.3f})")
    pts = [f"POINT ({x} {y})" for x, y in rng.randint(-4, 5, (30, 2))]
    left = [W(w) for w in boxes + segs + pts]
    rights = [box(-2, -2, 3, 3), W("POLYGON ((0 0, 4 0, 2 3, 0 0))"), W("LINESTRING (-3 -3, 4 2)")]
    rows = [p for p in geo_udfs.PREDICATES.values() if p.group is not None and p.scalar is not None]
    assert len(rows) == 11  # the ten named predicates and the matrix
    for p in rows:
        for gb in rights:
            got = p.group(gb, left)
            want = np.array([p.scalar(g, gb) for g in left])
            assert (got == want).all(), (p.name, gb.bbox)


def test_closed_cover_includes_boundary_cell():
    """Query-side covers are boundary-closed: an extent whose upper edge
    lies exactly on a cell line also covers the adjacent cell, so
    boundary-only contact (touches) meets the partner's keys.  The insert
    path (closed=False) keeps the reference's exact-fit rule."""
    from geowave_spark import cells

    # tier-5 cell lines sit at multiples of 11.25 lon / 5.625 lat; y=45 is one
    bbox = (60.0, 10.0, 110.0, 45.0)
    t_open, open_cover = cells.cells_for_bbox(bbox, max_dup=80)
    t_closed, closed_cover = cells.cells_for_bbox(bbox, max_dup=80, closed=True)
    assert t_open == t_closed == 5
    lat_starts_open = set(cells.cell_to_bounds(open_cover, 5)[1].tolist())
    lat_starts_closed = set(cells.cell_to_bounds(closed_cover, 5)[1].tolist())
    assert 45.0 not in lat_starts_open          # exact-fit insert semantics
    assert 45.0 in lat_starts_closed            # closed query cover
    assert set(open_cover.tolist()) <= set(closed_cover.tolist())


def test_corner_incidence_subdivision_witnesses():
    """Grid-aligned corner incidences (segment entering an area through
    boundary VERTICES, no proper edge crossing) resolve exactly via the
    boundary-subdivision witnesses (_cut_midpoints): the pre-fix sampling
    (endpoints + global midpoint) returned touches=True for a diagonal
    that passes straight through the interior."""
    W = geom.geometry_from_wkt
    b = W("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
    diag = W("LINESTRING (-5 -5, 7 7)")  # through corners (0,0) and (1,1)
    assert geom.crosses_pair(diag, b)
    assert not geom.touches_pair(diag, b)
    # corner graze: bends AT the corner, interior never entered
    graze = W("LINESTRING (-5 5, 0 0, 5 -5)")
    assert geom.touches_pair(graze, b) and not geom.crosses_pair(graze, b)
    # covers: exit-re-enter through two boundary vertices with the global
    # midpoint on the boundary (U-shape notch mouth)
    u = W("POLYGON ((0 0, 10 0, 10 10, 6 10, 6 2, 4 2, 4 10, 0 10, 0 0))")
    assert not geom.covers_pair(u, W("LINESTRING (2 10, 6 10)"))
    assert geom.covers_pair(u, W("LINESTRING (1 10, 3 10)"))
    # area x area: box inscribed in a diamond (all contacts at vertices)
    dia = W("POLYGON ((0.5 -0.5, 1.5 0.5, 0.5 1.5, -0.5 0.5, 0.5 -0.5))")
    assert geom.contains_pair(dia, b) and not geom.overlaps_pair(dia, b)
    # shifted diamond: corner-contact overlap, neither covers
    dia2 = W("POLYGON ((1.0 -0.5, 2.0 0.5, 1.0 1.5, 0.0 0.5, 1.0 -0.5))")
    assert geom.overlaps_pair(dia2, b) and not geom.touches_pair(dia2, b)


def test_equals_multipart_canonicalization():
    """MULTILINESTRING equality ignores part order and per-part direction
    (JTS GeomEquals is topological)."""
    W = geom.geometry_from_wkt
    a = W("MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))")
    assert geom.equals_pair(a, W("MULTILINESTRING ((3 3, 2 2), (0 0, 1 1))"))
    assert geom.equals_pair(a, W("MULTILINESTRING ((2 2, 3 3), (0 0, 1 1))"))
    assert not geom.equals_pair(a, W("MULTILINESTRING ((0 0, 1 1), (2 2, 3 4))"))
    assert not geom.equals_pair(a, W("LINESTRING (0 0, 1 1)"))
    assert geom.equals_pair(W("LINESTRING (0 0, 1 1)"), W("LINESTRING (1 1, 0 0)"))


def test_crosses_corner_diagonal_vectorized_matches_scalar():
    """Segment entering a box corner-to-corner: no proper edge crossing,
    global midpoint ON the boundary — only the clip-midpoint witness sees
    the interior passage.  Scalar and group kernels must agree."""
    from geowave_spark.functions import geo_udfs

    box = W("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
    cases = {
        "LINESTRING (-1 -1, 3 3)": True,   # corner-to-corner diagonal
        "LINESTRING (-1 1, 2 1)": False,   # rides the top edge (touch)
        "LINESTRING (-1 -1, 0 0)": False,  # stops at the corner
        "LINESTRING (-1 0.5, 2 0.5)": True,
        "LINESTRING (0.2 0.2, 0.8 0.8)": False,  # fully inside (covered)
        "LINESTRING (5 5, 6 6)": False,
    }
    got = geo_udfs.PREDICATES["crosses"].group(box, [W(w) for w in cases])
    for wkt, want in cases.items():
        assert geom.crosses_pair(W(wkt), box) == want, wkt
    assert got.tolist() == list(cases.values())


# --- concave-hole cover witnesses, dashed-line gaps, the strict clip kernel ---

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
