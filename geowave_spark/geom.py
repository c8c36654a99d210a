"""Planar geometry kernel (pure numpy) — WKT parse, predicates, distance.

Replaces the reference's JTS usage in its Spark SQL geometry UDFs
(analytics/spark/.../udf/GeomIntersects.java etc., SpatialQueryFilter.java:259-302)
with vectorized numpy, suitable for Arrow-batched pandas UDFs.  All math is
PLANAR in degrees — deliberately matching the reference's JTS semantics
(GeomDistance.java:14-23 uses planar `Geometry.distance`, not geodesic).

Geometry types: POINT, LINESTRING, MULTILINESTRING, POLYGON (with holes),
MULTIPOLYGON.  Every type implements the same protocol the join engine
consumes — ``bbox``, ``is_box()``, ``contains(lon, lat)`` (point
intersects, vectorized), ``distance(lon, lat)`` (point distance,
vectorized), ``intersects_boxes(x0, y0, x1, y1)`` (cell trim), and
``segments()`` — so LINESTRING tracks drop into `tiered_spatial_join`
as the indexed side with no structural change (the reference's own
flagship IT joins hail POINTs × tornado-track LINEs,
GeoWaveSparkSpatialJoinIT.java:97-175).

Pairwise geometry×geometry predicates (`intersects_pair`,
`distance_pair`) back the general joins, mapping to the reference's
registered UDF family (GeomFunctionRegistry.java:26-42: GeomIntersects /
GeomDistance / GeomWithinDistance over arbitrary JTS geometries).
Orientation/on-segment tests use EXACT IEEE double comparisons (no
epsilon) so a SQL oracle evaluating the same formulas on the same
doubles reproduces results bit-for-bit.
"""

from __future__ import annotations

import re
from functools import lru_cache

import numpy as np

# one strict decimal ordinate: ``1-2`` or ``1x1`` is malformed, never two
# numbers or a silently dropped vertex
_NUM = r"[-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?"
# one coordinate list: tuples of 2-4 ordinates (Z and M are dropped)
_TUPLE = rf"{_NUM}(?:\s+{_NUM}){{1,3}}"
_COORDS_RE = re.compile(rf"\s*{_TUPLE}(?:\s*,\s*{_TUPLE})*\s*")
_LIST_RE = re.compile(r"\(([^()]*)\)")


class Polygon:
    """A polygon as vertex arrays: one exterior ring + optional holes.

    Vertices are closed rings (first == last point).
    """

    __slots__ = ("rings", "bbox")

    def __init__(self, rings: list[np.ndarray]):
        self.rings = [np.asarray(r, dtype=np.float64) for r in rings]
        ext = self.rings[0]
        self.bbox = (
            float(ext[:, 0].min()),
            float(ext[:, 1].min()),
            float(ext[:, 0].max()),
            float(ext[:, 1].max()),
        )

    def is_box(self) -> bool:
        """True iff this is an axis-aligned rectangle without holes.

        Box polygons take the engine's JVM-only refine fast path (plain SQL
        comparisons instead of the pandas predicate UDF).
        """
        if len(self.rings) != 1:
            return False
        ext = self.rings[0]
        if len(ext) != 5:
            return False
        x0, y0, x1, y1 = self.bbox
        corners = {(x0, y0), (x1, y0), (x1, y1), (x0, y1)}
        if {(float(p[0]), float(p[1])) for p in ext[:-1]} != corners:
            return False
        # every edge must be axis-aligned: a self-intersecting bowtie has
        # the same corner SET but diagonal edges, and its even-odd interior
        # is two triangles, not the bbox (round-3 review)
        for a, b in zip(ext[:-1], ext[1:]):
            if a[0] != b[0] and a[1] != b[1]:
                return False
        return True

    # -- predicates (vectorized over n points) -----------------------------

    def contains(self, lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
        """Boundary-inclusive point-in-polygon (ray cast + on-edge test).

        Matches JTS `intersects(point)` used as the reference's default
        spatial predicate (SpatialQueryFilter: INTERSECTS is the default).
        """
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        inside = _ray_cast(self.rings[0], lon, lat)
        for hole in self.rings[1:]:
            in_hole = _ray_cast(hole, lon, lat) & ~_on_edges(hole, lon, lat)
            inside &= ~in_hole
        return inside | _on_edges(self.rings[0], lon, lat)

    def distance(self, lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
        """Planar distance point→polygon (0 inside), like JTS distance."""
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        d = np.full(lon.shape, np.inf)
        for ring in self.rings:
            d = np.minimum(d, _dist_to_ring(ring, lon, lat))
        d = np.where(self.contains(lon, lat), 0.0, d)
        return d

    def intersects_boxes(
        self, x0: np.ndarray, y0: np.ndarray, x1: np.ndarray, y1: np.ndarray
    ) -> np.ndarray:
        """Polygon ∩ axis-aligned boxes ≠ ∅ (vectorized over boxes).

        Used for covering-cell trimming (RDDUtils.trimIndexIds:158-184).
        Conservative exact test: box corner in polygon, polygon vertex in
        box, or edge crossing.
        """
        x0, y0, x1, y1 = (np.asarray(a, dtype=np.float64) for a in (x0, y0, x1, y1))
        # polygon vertex inside box
        ext = self.rings[0]
        vx, vy = ext[:, 0], ext[:, 1]
        vert_in = (
            (vx[None, :] >= x0[:, None])
            & (vx[None, :] <= x1[:, None])
            & (vy[None, :] >= y0[:, None])
            & (vy[None, :] <= y1[:, None])
        ).any(axis=1)
        # box corners inside polygon — ONE stacked contains() call (a
        # single edge sweep over 4n points instead of 4 full ray casts)
        all_cx = np.concatenate([x0, x0, x1, x1])
        all_cy = np.concatenate([y0, y1, y0, y1])
        corners_in = self.contains(all_cx, all_cy).reshape(4, -1).any(axis=0)
        # edge / box-side crossing
        cross = _edges_cross_boxes(ext, x0, y0, x1, y1)
        for hole in self.rings[1:]:
            cross |= _edges_cross_boxes(hole, x0, y0, x1, y1)
        return vert_in | corners_in | cross


def _ray_cast(ring: np.ndarray, lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Standard even-odd ray casting, vectorized points × edges."""
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    px = lon[..., None]
    py = lat[..., None]
    cond = (y1 > py) != (y2 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
    hits = cond & (px < xint)
    return hits.sum(axis=-1) % 2 == 1


def _on_edges(ring: np.ndarray, lon: np.ndarray, lat: np.ndarray, eps=1e-12) -> np.ndarray:
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    px, py = lon[..., None], lat[..., None]
    dx, dy = x2 - x1, y2 - y1
    cross = (px - x1) * dy - (py - y1) * dx
    within = (
        (px >= np.minimum(x1, x2) - eps)
        & (px <= np.maximum(x1, x2) + eps)
        & (py >= np.minimum(y1, y2) - eps)
        & (py <= np.maximum(y1, y2) + eps)
    )
    tol = eps * np.maximum(1.0, np.abs(dx) + np.abs(dy))
    return ((np.abs(cross) <= tol) & within).any(axis=-1)


def _dist_to_ring(ring: np.ndarray, lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    px, py = lon[..., None], lat[..., None]
    dx, dy = x2 - x1, y2 - y1
    seg2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = ((px - x1) * dx + (py - y1) * dy) / seg2
    t = np.where(seg2 == 0, 0.0, np.clip(t, 0.0, 1.0))
    cx = x1 + t * dx
    cy = y1 + t * dy
    return np.sqrt((px - cx) ** 2 + (py - cy) ** 2).min(axis=-1)


def _edges_cross_boxes(ring, x0, y0, x1, y1):
    """Any polygon edge intersects any of the 4 box sides (per box)."""
    ex1, ey1 = ring[:-1, 0], ring[:-1, 1]
    ex2, ey2 = ring[1:, 0], ring[1:, 1]
    out = np.zeros(x0.shape, dtype=bool)
    sides = (
        (x0, y0, x1, y0),
        (x1, y0, x1, y1),
        (x1, y1, x0, y1),
        (x0, y1, x0, y0),
    )
    for sx1, sy1, sx2, sy2 in sides:
        out |= _segments_intersect(
            ex1[None, :], ey1[None, :], ex2[None, :], ey2[None, :],
            sx1[:, None] if np.ndim(sx1) else np.full((1, 1), sx1),
            sy1[:, None] if np.ndim(sy1) else np.full((1, 1), sy1),
            sx2[:, None] if np.ndim(sx2) else np.full((1, 1), sx2),
            sy2[:, None] if np.ndim(sy2) else np.full((1, 1), sy2),
        ).any(axis=1)
    return out


def _segments_intersect(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2):
    def orient(ox, oy, px, py, qx, qy):
        return np.sign((px - ox) * (qy - oy) - (py - oy) * (qx - ox))

    o1 = orient(ax1, ay1, ax2, ay2, bx1, by1)
    o2 = orient(ax1, ay1, ax2, ay2, bx2, by2)
    o3 = orient(bx1, by1, bx2, by2, ax1, ay1)
    o4 = orient(bx1, by1, bx2, by2, ax2, ay2)
    return (o1 != o2) & (o3 != o4)


# ---------------------------------------------------------------------------
# Non-area geometries (same protocol as Polygon)
# ---------------------------------------------------------------------------


def _path_segments(path: np.ndarray) -> np.ndarray:
    """(n,2) vertex array → (n-1,4) segment array [x1,y1,x2,y2]."""
    if len(path) < 2:
        p = path[0]
        return np.array([[p[0], p[1], p[0], p[1]]], dtype=np.float64)
    return np.hstack([path[:-1], path[1:]]).astype(np.float64)


class LineString:
    """Open polyline.  A line has measure-zero area: `contains` is the
    on-line test (JTS point-intersects-line), `distance` the min segment
    distance."""

    __slots__ = ("coords", "bbox")

    def __init__(self, coords: np.ndarray):
        self.coords = np.asarray(coords, dtype=np.float64)
        self.bbox = (
            float(self.coords[:, 0].min()),
            float(self.coords[:, 1].min()),
            float(self.coords[:, 0].max()),
            float(self.coords[:, 1].max()),
        )

    def is_box(self) -> bool:
        return False

    def contains(self, lon, lat) -> np.ndarray:
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        return _on_edges(self.coords, lon, lat)

    def distance(self, lon, lat) -> np.ndarray:
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        return _dist_to_ring(self.coords, lon, lat)

    def intersects_boxes(self, x0, y0, x1, y1) -> np.ndarray:
        x0, y0, x1, y1 = (np.asarray(a, dtype=np.float64) for a in (x0, y0, x1, y1))
        vx, vy = self.coords[:, 0], self.coords[:, 1]
        vert_in = (
            (vx[None, :] >= x0[:, None])
            & (vx[None, :] <= x1[:, None])
            & (vy[None, :] >= y0[:, None])
            & (vy[None, :] <= y1[:, None])
        ).any(axis=1)
        return vert_in | _edges_cross_boxes(self.coords, x0, y0, x1, y1)

    def segments(self) -> np.ndarray:
        return _path_segments(self.coords)

    def vertices(self) -> np.ndarray:
        return self.coords


class Point:
    __slots__ = ("x", "y", "bbox")

    def __init__(self, x: float, y: float):
        self.x, self.y = float(x), float(y)
        self.bbox = (self.x, self.y, self.x, self.y)

    def is_box(self) -> bool:
        return False

    def contains(self, lon, lat) -> np.ndarray:
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        return (lon == self.x) & (lat == self.y)

    def distance(self, lon, lat) -> np.ndarray:
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        return np.sqrt((lon - self.x) ** 2 + (lat - self.y) ** 2)

    def intersects_boxes(self, x0, y0, x1, y1) -> np.ndarray:
        x0, y0, x1, y1 = (np.asarray(a, dtype=np.float64) for a in (x0, y0, x1, y1))
        return (self.x >= x0) & (self.x <= x1) & (self.y >= y0) & (self.y <= y1)

    def segments(self) -> np.ndarray:
        return np.array([[self.x, self.y, self.x, self.y]], dtype=np.float64)

    def vertices(self) -> np.ndarray:
        return np.array([[self.x, self.y]], dtype=np.float64)


class MultiGeometry:
    """Union of homogeneous parts (MULTIPOLYGON / MULTILINESTRING):
    any/min over parts, one ConstraintSet per part like the reference
    (GeometryUtils.basicConstraintsFromGeometry:154-213)."""

    __slots__ = ("parts", "bbox")

    def __init__(self, parts: list):
        self.parts = parts
        bs = np.array([p.bbox for p in parts], dtype=np.float64)
        self.bbox = (
            float(bs[:, 0].min()), float(bs[:, 1].min()),
            float(bs[:, 2].max()), float(bs[:, 3].max()),
        )

    def is_box(self) -> bool:
        return len(self.parts) == 1 and self.parts[0].is_box()

    def contains(self, lon, lat) -> np.ndarray:
        out = self.parts[0].contains(lon, lat)
        for p in self.parts[1:]:
            out = out | p.contains(lon, lat)
        return out

    def distance(self, lon, lat) -> np.ndarray:
        out = self.parts[0].distance(lon, lat)
        for p in self.parts[1:]:
            out = np.minimum(out, p.distance(lon, lat))
        return out

    def intersects_boxes(self, x0, y0, x1, y1) -> np.ndarray:
        out = self.parts[0].intersects_boxes(x0, y0, x1, y1)
        for p in self.parts[1:]:
            out = out | p.intersects_boxes(x0, y0, x1, y1)
        return out

    def segments(self) -> np.ndarray:
        return np.vstack([p.segments() for p in self.parts])

    def vertices(self) -> np.ndarray:
        return np.vstack([p.vertices() for p in self.parts])


# Polygon protocol completion: segment/vertex access for pairwise predicates
def _polygon_segments(self: Polygon) -> np.ndarray:
    return np.vstack([_path_segments(r) for r in self.rings])


def _polygon_vertices(self: Polygon) -> np.ndarray:
    # exterior-ring vertices suffice for A-inside-B detection: if A's
    # exterior is wholly inside a hole of B, contains() correctly rejects
    return self.rings[0][:-1]


Polygon.segments = _polygon_segments
Polygon.vertices = _polygon_vertices


# ---------------------------------------------------------------------------
# Pairwise geometry × geometry predicates
# ---------------------------------------------------------------------------


def _orient_sign(ox, oy, px, py, qx, qy):
    return np.sign((px - ox) * (qy - oy) - (py - oy) * (qx - ox))


def _on_segment_exact(px, py, sx1, sy1, sx2, sy2):
    """Point exactly on segment (orientation==0 + within bbox), broadcast.
    EXACT doubles — SQL-replicable."""
    o = _orient_sign(sx1, sy1, sx2, sy2, px, py)
    return (
        (o == 0)
        & (px >= np.minimum(sx1, sx2)) & (px <= np.maximum(sx1, sx2))
        & (py >= np.minimum(sy1, sy2)) & (py <= np.maximum(sy1, sy2))
    )


def _segments_touch_matrix(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(n,m) boolean: segment A[i] touches/crosses segment B[j].

    Boundary-inclusive: proper crossings via the orientation test, touches
    and collinear overlaps via endpoint-on-segment tests (an endpoint of an
    overlap always lies on the other segment).  Single source for the
    any/rowwise reductions below — keep in sync with the SQL oracle
    formulas (_sql_seg_touch in entry_queries.py).
    """
    ax1, ay1, ax2, ay2 = (A[:, i][:, None] for i in range(4))
    bx1, by1, bx2, by2 = (B[:, i][None, :] for i in range(4))
    o1 = _orient_sign(ax1, ay1, ax2, ay2, bx1, by1)
    o2 = _orient_sign(ax1, ay1, ax2, ay2, bx2, by2)
    o3 = _orient_sign(bx1, by1, bx2, by2, ax1, ay1)
    o4 = _orient_sign(bx1, by1, bx2, by2, ax2, ay2)
    proper = (o1 != o2) & (o3 != o4)
    touch = (
        _on_segment_exact(bx1, by1, ax1, ay1, ax2, ay2)
        | _on_segment_exact(bx2, by2, ax1, ay1, ax2, ay2)
        | _on_segment_exact(ax1, ay1, bx1, by1, bx2, by2)
        | _on_segment_exact(ax2, ay2, bx1, by1, bx2, by2)
    )
    return proper | touch


def _segments_proper_cross_matrix(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(n,m) boolean: segment A[i] PROPERLY crosses segment B[j]
    (interiors cross; touch/collinear excluded).  Single source for the
    any/rowwise reductions — keep in sync with _sql_seg_proper_cross."""
    ax1, ay1, ax2, ay2 = (A[:, i][:, None] for i in range(4))
    bx1, by1, bx2, by2 = (B[:, i][None, :] for i in range(4))
    o1 = _orient_sign(ax1, ay1, ax2, ay2, bx1, by1)
    o2 = _orient_sign(ax1, ay1, ax2, ay2, bx2, by2)
    o3 = _orient_sign(bx1, by1, bx2, by2, ax1, ay1)
    o4 = _orient_sign(bx1, by1, bx2, by2, ax2, ay2)
    return (o1 * o2 < 0) & (o3 * o4 < 0)


def _segments_touch_any(A: np.ndarray, B: np.ndarray) -> bool:
    """Any segment of A (n,4) touches/crosses any segment of B (m,4)."""
    return bool(_segments_touch_matrix(A, B).any())


def _segments_min_dist(A: np.ndarray, B: np.ndarray) -> float:
    """Min distance between non-crossing segment sets: attained at an
    endpoint of one against the other (planar geometry fact)."""

    def pt_to_segs(px, py, S):
        sx1, sy1, sx2, sy2 = (S[:, i][None, :] for i in range(4))
        dx, dy = sx2 - sx1, sy2 - sy1
        seg2 = dx * dx + dy * dy
        with np.errstate(divide="ignore", invalid="ignore"):
            t = ((px[:, None] - sx1) * dx + (py[:, None] - sy1) * dy) / seg2
        t = np.where(seg2 == 0, 0.0, np.clip(t, 0.0, 1.0))
        cx, cy = sx1 + t * dx, sy1 + t * dy
        return np.sqrt((px[:, None] - cx) ** 2 + (py[:, None] - cy) ** 2).min()

    d = pt_to_segs(A[:, 0], A[:, 1], B)
    d = min(d, pt_to_segs(A[:, 2], A[:, 3], B))
    d = min(d, pt_to_segs(B[:, 0], B[:, 1], A))
    return min(d, pt_to_segs(B[:, 2], B[:, 3], A))


def segments_touch_rowwise(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Per-row any-touch: row i of the result is True iff segment A[i]
    touches/crosses ANY segment of B — the (n,) reduction of
    _segments_touch_matrix used by the vectorized batch refine."""
    return _segments_touch_matrix(A, B).any(axis=1)


def segments_proper_cross_rowwise(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Per-row PROPER crossing: row i is True iff segment A[i] properly
    crosses (interiors cross; touch/collinear excluded) ANY segment of B —
    the (n,) reduction of _segments_proper_cross_matrix."""
    return _segments_proper_cross_matrix(A, B).any(axis=1)


def segment_box_clip_mid_strict(
    A: np.ndarray, bx0: float, by0: float, bx1: float, by1: float
) -> np.ndarray:
    """Per-row clip-midpoint witness: True iff the midpoint of segment
    A[i]'s Liang-Barsky clip against the closed box lies STRICTLY inside
    the open box.  By convexity this holds exactly when the segment's
    interior meets the open box (a clipped chord's midpoint is on the
    boundary only if the whole chord lies in one box face) — the
    vectorized equivalent of the scalar kernel's cut-midpoint witnesses
    for corner-to-corner entries.  Op order mirrors the SQL oracle
    (_oracle_line_crosses) exactly."""
    ax, ay = A[:, 0], A[:, 1]
    dx, dy = A[:, 2] - A[:, 0], A[:, 3] - A[:, 1]
    with np.errstate(divide="ignore", invalid="ignore"):
        t0x = np.where(
            dx > 0, (bx0 - ax) / dx,
            np.where(dx < 0, (bx1 - ax) / dx,
                     np.where((ax >= bx0) & (ax <= bx1), 0.0, 2.0)),
        )
        t1x = np.where(
            dx > 0, (bx1 - ax) / dx,
            np.where(dx < 0, (bx0 - ax) / dx,
                     np.where((ax >= bx0) & (ax <= bx1), 1.0, -1.0)),
        )
        t0y = np.where(
            dy > 0, (by0 - ay) / dy,
            np.where(dy < 0, (by1 - ay) / dy,
                     np.where((ay >= by0) & (ay <= by1), 0.0, 2.0)),
        )
        t1y = np.where(
            dy > 0, (by1 - ay) / dy,
            np.where(dy < 0, (by0 - ay) / dy,
                     np.where((ay >= by0) & (ay <= by1), 1.0, -1.0)),
        )
    t0 = np.maximum(0.0, np.maximum(t0x, t0y))
    t1 = np.minimum(1.0, np.minimum(t1x, t1y))
    tm = (t0 + t1) / 2.0
    px, py = ax + tm * dx, ay + tm * dy
    return (
        (t0 <= t1) & (px > bx0) & (px < bx1) & (py > by0) & (py < by1)
    )


def segments_dist_rowwise(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Per-row min distance from segment A[i] to the segment set B
    (ignoring crossings — callers mask crossing rows to 0)."""

    def pt_to_segs(px, py, S):
        sx1, sy1, sx2, sy2 = (S[:, i][None, :] for i in range(4))
        dx, dy = sx2 - sx1, sy2 - sy1
        seg2 = dx * dx + dy * dy
        with np.errstate(divide="ignore", invalid="ignore"):
            t = ((px[:, None] - sx1) * dx + (py[:, None] - sy1) * dy) / seg2
        t = np.where(seg2 == 0, 0.0, np.clip(t, 0.0, 1.0))
        cx, cy = sx1 + t * dx, sy1 + t * dy
        return np.sqrt((px[:, None] - cx) ** 2 + (py[:, None] - cy) ** 2).min(axis=1)

    d = pt_to_segs(A[:, 0], A[:, 1], B)
    d = np.minimum(d, pt_to_segs(A[:, 2], A[:, 3], B))
    # endpoints of B against each A row: transpose roles per B endpoint
    for px, py in ((B[:, 0], B[:, 1]), (B[:, 2], B[:, 3])):
        sx1, sy1, sx2, sy2 = (A[:, i][:, None] for i in range(4))
        dx, dy = sx2 - sx1, sy2 - sy1
        seg2 = dx * dx + dy * dy
        with np.errstate(divide="ignore", invalid="ignore"):
            t = ((px[None, :] - sx1) * dx + (py[None, :] - sy1) * dy) / seg2
        t = np.where(seg2 == 0, 0.0, np.clip(t, 0.0, 1.0))
        cx, cy = sx1 + t * dx, sy1 + t * dy
        d = np.minimum(
            d, np.sqrt((px[None, :] - cx) ** 2 + (py[None, :] - cy) ** 2).min(axis=1)
        )
    return d


def _has_area(g) -> bool:
    if isinstance(g, Polygon):
        return True
    if isinstance(g, MultiGeometry):
        return any(isinstance(p, Polygon) for p in g.parts)
    return False


def translate_lon(g, dx: float):
    """Copy of a geometry shifted by dx degrees of longitude — used to
    evaluate unwrapped antimeridian geometries (x1 > 180) against their
    -360 image (LongitudeDefinition split-bin semantics)."""
    if isinstance(g, Point):
        return Point(g.x + dx, g.y)
    if isinstance(g, LineString):
        c = g.coords.copy()
        c[:, 0] += dx
        return LineString(c)
    if isinstance(g, Polygon):
        rings = []
        for r in g.rings:
            r2 = r.copy()
            r2[:, 0] += dx
            rings.append(r2)
        return Polygon(rings)
    if isinstance(g, MultiGeometry):
        return MultiGeometry([translate_lon(p, dx) for p in g.parts])
    raise TypeError(type(g))


def intersects_pair(ga, gb) -> bool:
    """JTS-`intersects` for any geometry pair (boundary-inclusive)."""
    ax0, ay0, ax1, ay1 = ga.bbox
    bx0, by0, bx1, by1 = gb.bbox
    if ax0 > bx1 or bx0 > ax1 or ay0 > by1 or by0 > ay1:
        return False
    if isinstance(ga, Point):
        return bool(np.any(gb.contains(np.array([ga.x]), np.array([ga.y]))))
    if isinstance(gb, Point):
        return bool(np.any(ga.contains(np.array([gb.x]), np.array([gb.y]))))
    # vertex containment catches X-fully-inside-area cases
    if _has_area(gb):
        va = ga.vertices()
        if bool(np.any(gb.contains(va[:, 0], va[:, 1]))):
            return True
    if _has_area(ga):
        vb = gb.vertices()
        if bool(np.any(ga.contains(vb[:, 0], vb[:, 1]))):
            return True
    return _segments_touch_any(ga.segments(), gb.segments())


def _segments_proper_cross_any(A: np.ndarray, B: np.ndarray) -> bool:
    """Any PROPER crossing (interiors cross; touches/collinear excluded)."""
    return bool(_segments_proper_cross_matrix(A, B).any())


def _proper_cross_line_interior_any(ga, gb, A: np.ndarray, B: np.ndarray) -> bool:
    """Line×line: any proper segment crossing whose crossing POINT is not
    a Mod-2 boundary endpoint of either geometry.

    A segment-level proper cross is strictly inside both SEGMENTS, but in
    a multi-part / revisiting chain the crossing point can coincide with
    a dangling endpoint elsewhere in the same geometry — such a point is
    in the geometry's BOUNDARY (SFS Mod-2 rule), so it witnesses no
    interior-interior contact (JTS relate: the node takes the Boundary
    label).  Blocked exactly: the unique crossing point of a properly
    crossing pair equals boundary point q iff q lies ON both segments
    (exact orientation tests — no float crossing-point is computed)."""
    M = _segments_proper_cross_matrix(A, B)
    if not M.any():
        return False
    bd = np.concatenate([_boundary_points(ga), _boundary_points(gb)])
    if not bd.size:
        return True
    blocked = np.zeros_like(M)
    for qx, qy in bd:
        on_a = _on_segment_exact(qx, qy, A[:, 0], A[:, 1], A[:, 2], A[:, 3])
        on_b = _on_segment_exact(qx, qy, B[:, 0], B[:, 1], B[:, 2], B[:, 3])
        blocked |= on_a[:, None] & on_b[None, :]
    return bool((M & ~blocked).any())


def covers_pair(ga, gb) -> bool:
    """JTS-`covers`: every point of gb lies in the CLOSED ga.

    Exact, with a two-tier design: generic pairs are decided by the
    float witness path below (all gb vertices, segment midpoints and
    cut-sub-segment midpoints in closed ga + no proper boundary crossing
    + hole witnesses — exact-double, SQL-replicable); pairs in DEGENERATE
    CONTACT (a vertex of one geometry exactly on a segment of the other —
    the only configurations where float witnesses can land on boundaries)
    are decided by the exact rational fallback (:func:`exactgeom.covers`),
    which is certified for piecewise-linear inputs.  Routing is LAZY on
    the conclusive side: a float REJECTION carries its own witness (a
    sampled point outside the closed ga, or a proper boundary crossing) so
    it returns immediately; only an all-witnesses-pass True runs the
    degenerate-contact audit — every documented escape was a false ACCEPT,
    so join candidates (mostly rejected) never pay the audit.  Box ga
    stays on the exact interval-algebra fast path.  A 0/1-dim ga covering
    gb is inherently a degenerate-contact question and always runs exact.
    """
    if isinstance(gb, Point):
        return bool(np.any(ga.contains(np.array([gb.x]), np.array([gb.y]))))
    if not _has_area(ga):
        # lower-dim cover: a 0/1-dim geometry never covers an area; a line
        # covers a line iff every cut-sub-segment of gb lies ON ga —
        # decided in exact rational arithmetic (on-ga contact is the
        # degenerate family by definition)
        if _has_area(gb) or isinstance(ga, Point):
            return False
        from . import exactgeom
        return exactgeom.covers(ga, gb)
    ax0, ay0, ax1, ay1 = ga.bbox
    bx0, by0, bx1, by1 = gb.bbox
    if bx0 < ax0 or bx1 > ax1 or by0 < ay0 or by1 > ay1:
        return False
    if isinstance(ga, Polygon) and ga.is_box():
        return True  # bbox containment is exact for a closed box
    vb = gb.vertices()
    if not bool(np.all(ga.contains(vb[:, 0], vb[:, 1]))):
        return False
    S = gb.segments()
    mx, my = (S[:, 0] + S[:, 2]) / 2.0, (S[:, 1] + S[:, 3]) / 2.0
    if not bool(np.all(ga.contains(mx, my))):
        return False
    if _segments_proper_cross_any(ga.segments(), S):
        return False
    # subdivision witnesses close the exit-re-enter-through-two-vertices
    # family (a gb edge leaving ga between two ga boundary vertices with
    # its global midpoint still inside): every cut midpoint must be in
    # the closed ga too
    cm = _cut_midpoints(S, ga.segments())
    if cm.size and not bool(np.all(ga.contains(cm[:, 0], cm[:, 1]))):
        return False
    # a hole of ga lying strictly inside gb punches gb out of ga even
    # though no gb vertex/edge touches it: witness via hole vertices AND
    # hole-edge midpoints strictly interior to gb (the midpoints close the
    # inscribed-diamond case where every hole vertex sits exactly on gb's
    # boundary; configurations where every sampled hole point lies
    # precisely on gb's boundary are degenerate contacts — they fall
    # through to the accept-side audit below and are decided exactly)
    if _has_area(gb):
        Sg = gb.segments()
        for hole in _hole_rings(ga):
            # sample the hole boundary AND a guaranteed-interior point: the
            # interior point closes the exact-fit case (gb fills the hole
            # precisely, every boundary sample lying on gb's own boundary).
            # NOTE: a vertex-mean "centroid" is NOT safe here — for a
            # non-convex (U/L-shaped) hole it can land in ga's solid
            # material, turning a valid cover into a false negative; the
            # scanline construction below is strictly inside the ring.
            ip = _ring_interior_point(hole)
            extra = np.empty((0,), dtype=np.float64) if ip is None else None
            hx = np.concatenate(
                [hole[:-1, 0], (hole[:-1, 0] + hole[1:, 0]) / 2.0,
                 extra if ip is None else np.array([ip[0]])]
            )
            hy = np.concatenate(
                [hole[:-1, 1], (hole[:-1, 1] + hole[1:, 1]) / 2.0,
                 extra if ip is None else np.array([ip[1]])]
            )
            strict = np.nonzero(gb.contains(hx, hy))[0]
            if strict.size:
                on_boundary = _on_segment_exact(
                    hx[strict][:, None], hy[strict][:, None],
                    Sg[None, :, 0], Sg[None, :, 1], Sg[None, :, 2], Sg[None, :, 3],
                ).any(axis=1)
                # a witness only punches gb out of ga if it is also OUTSIDE
                # the closed ga: a multipolygon may nest an ISLAND part
                # inside this hole, and a witness landing on the island is
                # covered material, not an escape
                in_ga = ga.contains(hx[strict], hy[strict])
                if not bool((on_boundary | in_ga).all()):
                    return False
    # accept-side audit: every float witness passed — in degenerate
    # contact that is exactly where sampling could miss an escape, so the
    # exact rational kernel gets the final word
    from . import exactgeom
    if exactgeom.degenerate_contact(ga, gb):
        return exactgeom.covers(ga, gb)
    return True


def _ring_interior_point(ring: np.ndarray):
    """A point strictly interior to a simple ring, by scanline: choose a
    horizontal line at a y strictly between two distinct vertex y-levels
    (so it passes through no vertex and lies along no edge), intersect it
    with the ring's edges, and take the midpoint of the first crossing
    pair — interior for ANY simple ring, convex or not.  Returns None for
    degenerate (zero-height) rings."""
    ys = np.unique(ring[:-1, 1])
    if ys.size < 2:
        return None
    mid = (ys[0] + ys[-1]) / 2.0
    i = int(np.searchsorted(ys, mid, side="right"))
    i = min(max(i, 1), ys.size - 1)
    y = (ys[i - 1] + ys[i]) / 2.0
    if y <= ys[i - 1] or y >= ys[i]:  # adjacent-float degenerate band
        return None
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    m = ((y0 <= y) & (y1 > y)) | ((y1 <= y) & (y0 > y))
    if int(m.sum()) < 2:
        return None
    xs = np.sort(x0[m] + (y - y0[m]) * (x1[m] - x0[m]) / (y1[m] - y0[m]))
    return float((xs[0] + xs[1]) / 2.0), float(y)


def _hole_rings(g) -> list:
    if isinstance(g, Polygon):
        return g.rings[1:]
    if isinstance(g, MultiGeometry):
        return [h for p in g.parts if isinstance(p, Polygon) for h in p.rings[1:]]
    return []


def within_pair(ga, gb) -> bool:
    """JTS-`within` (strict DE-9IM ``T*F**F***``): ga lies in the CLOSED
    gb AND the interiors intersect — a geometry lying wholly ON gb's
    boundary is coveredBy but not within (the within/coveredBy
    distinction, mirroring contains/covers).  For positive-area ga the
    interior clause is implied by coverage (an open nonempty interior
    cannot fit inside a boundary), so area×area behavior is unchanged;
    it bites exactly for points/lines riding the boundary."""
    return covers_pair(gb, ga) and interiors_intersect_pair(ga, gb)


def equals_pair(ga, gb) -> bool:
    """Geometric equality: mutual coverage for area×area, coordinate
    equality for points, vertex-chain equality (forward or reversed) for
    linestrings; mixed-dimension operands are never equal (JTS GeomEquals
    returns false there, it does not error)."""
    if isinstance(ga, Point) or isinstance(gb, Point):
        return (
            isinstance(ga, Point) and isinstance(gb, Point)
            and ga.x == gb.x and ga.y == gb.y
        )
    a_area, b_area = _has_area(ga), _has_area(gb)
    if a_area != b_area:
        return False
    if not a_area:
        # line × line: equal multisets of per-part vertex chains, each
        # part canonicalized over its own direction (a MULTILINESTRING's
        # part order and per-part orientation are not significant — JTS
        # GeomEquals is topological).  Collinear re-segmentations (one
        # line split into two collinear parts) remain out of scope.
        def canon(g):
            parts = g.parts if isinstance(g, MultiGeometry) else [g]
            out = []
            for p in parts:
                fwd = tuple(map(tuple, p.coords.tolist()))
                rev = tuple(map(tuple, p.coords[::-1].tolist()))
                out.append(min(fwd, rev))
            return sorted(out)

        return canon(ga) == canon(gb)
    return covers_pair(ga, gb) and covers_pair(gb, ga)


# ---------------------------------------------------------------------------
# Interior-aware predicates (touches / crosses / overlaps / contains /
# disjoint) — completes the reference's registered 9-op family
# (GeomFunctionRegistry.java:26-42, UDFRegistrySPI.java:16-27) as true
# geometry predicates rather than interval algebra.  Same two-tier design
# as covers_pair above: float witnesses for generic pairs, the exact
# rational fallback (exactgeom) for degenerate-contact pairs.
# ---------------------------------------------------------------------------


def _dim(g) -> int:
    """Topological dimension: POINT 0, LINESTRING 1, POLYGON 2; a multi
    geometry takes the max of its parts (JTS Geometry.getDimension)."""
    if isinstance(g, Point):
        return 0
    if isinstance(g, LineString):
        return 1
    if isinstance(g, Polygon):
        return 2
    return max(_dim(p) for p in g.parts)


def _nondeg_segments(g) -> np.ndarray:
    """Segments with positive length (zero-length rows break the
    collinearity test — orient() is 0 against everything)."""
    S = g.segments()
    m = (S[:, 0] != S[:, 2]) | (S[:, 1] != S[:, 3])
    return S[m]


def _sample_points(g) -> np.ndarray:
    """Witness samples along a geometry's segments: both endpoints plus the
    midpoint of every segment, (k, 2)."""
    S = g.segments()
    mid = np.stack([(S[:, 0] + S[:, 2]) / 2.0, (S[:, 1] + S[:, 3]) / 2.0], axis=1)
    return np.concatenate([S[:, :2], S[:, 2:], mid])


def _cut_midpoints(A: np.ndarray, S: np.ndarray, include_uncut: bool = False) -> np.ndarray:
    """Midpoints of every sub-segment of A (n,4) obtained by cutting each
    segment at its contacts with the segment set S (m,4): non-parallel
    intersection parameters plus S-endpoints lying exactly on the segment
    (which covers collinear contacts), merged with {0,1}.  (k,2).

    These witnesses make the interior/coverage tests exact for
    piecewise-linear inputs: a segment that enters an area through two
    boundary VERTICES (corner-to-corner diagonal — no proper edge
    crossing, global midpoint on the boundary) still yields a
    strictly-interior cut midpoint, the family plain endpoint+midpoint
    sampling misses on grid-aligned data."""
    A = np.asarray(A, dtype=np.float64)
    S = np.asarray(S, dtype=np.float64)
    if A.size:
        A = A[(A[:, 0] != A[:, 2]) | (A[:, 1] != A[:, 3])]
    if not A.size:
        return np.empty((0, 2), dtype=np.float64)
    if not S.size:
        if include_uncut:
            return np.stack(
                [(A[:, 0] + A[:, 2]) / 2.0, (A[:, 1] + A[:, 3]) / 2.0], axis=1
            )
        return np.empty((0, 2), dtype=np.float64)
    ax1, ay1, ax2, ay2 = (A[:, i][:, None] for i in range(4))
    sx1, sy1, sx2, sy2 = (S[:, i][None, :] for i in range(4))
    adx, ady = ax2 - ax1, ay2 - ay1
    sdx, sdy = sx2 - sx1, sy2 - sy1
    denom = adx * sdy - ady * sdx
    with np.errstate(divide="ignore", invalid="ignore"):
        t = ((sx1 - ax1) * sdy - (sy1 - ay1) * sdx) / denom
        u = ((sx1 - ax1) * ady - (sy1 - ay1) * adx) / denom
    cross_ok = (denom != 0) & (t >= 0.0) & (t <= 1.0) & (u >= 0.0) & (u <= 1.0)
    len2 = adx * adx + ady * ady  # (n,1), nonzero by the filter above
    end_ts, end_oks = [], []
    for px, py in ((sx1, sy1), (sx2, sy2)):
        end_oks.append(_on_segment_exact(px, py, ax1, ay1, ax2, ay2))
        end_ts.append(((px - ax1) * adx + (py - ay1) * ady) / len2)
    pts = []
    for i in range(A.shape[0]):
        ts = [0.0, 1.0]
        ts.extend(t[i, cross_ok[i]].tolist())
        for tp, ok in zip(end_ts, end_oks):
            ts.extend(tp[i, ok[i]].tolist())
        ts = sorted(set(ts))
        # include_uncut (r5, the relate evaluator's witness mode): a
        # contact-free segment contributes its plain midpoint; a CUT
        # segment contributes only its sub-segment midpoints, never the
        # plain one (which can coincide exactly with a transversal
        # contact and misclassify an isolated crossing as collinear)
        if len(ts) > 2 or include_uncut:
            tm = (np.asarray(ts[:-1]) + np.asarray(ts[1:])) / 2.0
            pts.append(
                np.stack([A[i, 0] + tm * (A[i, 2] - A[i, 0]),
                          A[i, 1] + tm * (A[i, 3] - A[i, 1])], axis=1)
            )
    if not pts:
        return np.empty((0, 2), dtype=np.float64)
    return np.concatenate(pts)


def _boundary_points(g) -> np.ndarray:
    """Boundary of a 1-dim geometry under the Mod-2 rule (JTS default
    boundary node rule): endpoints occurring an odd number of times; a
    closed ring has an empty boundary.  (k, 2)."""
    from collections import Counter

    cnt: Counter = Counter()
    parts = g.parts if isinstance(g, MultiGeometry) else [g]
    for p in parts:
        if isinstance(p, LineString):
            c = p.coords
            cnt[(float(c[0, 0]), float(c[0, 1]))] += 1
            cnt[(float(c[-1, 0]), float(c[-1, 1]))] += 1
    pts = [pt for pt, n in cnt.items() if n % 2 == 1]
    return np.array(pts, dtype=np.float64).reshape(-1, 2)


def _strictly_inside(g_area, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Points in the OPEN interior of an area geometry: contained and not
    exactly on any boundary segment (exact-double on-segment test, so a SQL
    oracle using strict inequalities on boxes reproduces it)."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    inside = g_area.contains(xs, ys)
    if inside.any():
        S = g_area.segments()
        onb = _on_segment_exact(
            xs[:, None], ys[:, None],
            S[None, :, 0], S[None, :, 1], S[None, :, 2], S[None, :, 3],
        ).any(axis=1)
        inside = inside & ~onb
    return inside


def _collinear_overlap_any(A: np.ndarray, B: np.ndarray) -> bool:
    """Any segment pair collinear with positive-length overlap (the 1-dim
    intersection witness for line overlaps).  A, B are nondegenerate."""
    if not A.size or not B.size:
        return False
    ax1, ay1, ax2, ay2 = (A[:, i][:, None] for i in range(4))
    bx1, by1, bx2, by2 = (B[:, i][None, :] for i in range(4))
    col = (
        (_orient_sign(ax1, ay1, ax2, ay2, bx1, by1) == 0)
        & (_orient_sign(ax1, ay1, ax2, ay2, bx2, by2) == 0)
    )
    ox = np.minimum(np.maximum(ax1, ax2), np.maximum(bx1, bx2)) - np.maximum(
        np.minimum(ax1, ax2), np.minimum(bx1, bx2)
    )
    oy = np.minimum(np.maximum(ay1, ay2), np.maximum(by1, by2)) - np.maximum(
        np.minimum(ay1, ay2), np.minimum(by1, by2)
    )
    return bool((col & ((ox > 0) | (oy > 0))).any())


def _line_vertex_interior_contact(ga, gb) -> bool:
    """A vertex of line ga lying on line gb where the contact point is
    interior to BOTH (vertex not a Mod-2 boundary endpoint of ga; contact
    not at a boundary endpoint of gb) — the T/V-junction interior witness."""
    va = ga.vertices()
    on = gb.contains(va[:, 0], va[:, 1])
    if not on.any():
        return False
    bda = {(float(x), float(y)) for x, y in _boundary_points(ga)}
    bdb = {(float(x), float(y)) for x, y in _boundary_points(gb)}
    for x, y in va[on]:
        p = (float(x), float(y))
        if p not in bda and p not in bdb:
            return True
    return False


def interiors_intersect_pair(ga, gb) -> bool:
    """interior(ga) ∩ interior(gb) ≠ ∅ (DE-9IM cell [0,0]) with the same
    two-tier design as covers_pair, lazy on the conclusive side: a float
    ACCEPT carries its own witness (a sample strictly inside, a proper
    crossing, or a nested cover) and returns immediately; a REJECT of an
    area pair in degenerate contact is where sampling could miss interior
    contact, so it is re-decided by the exact rational kernel."""
    got = _interiors_intersect_float(ga, gb)
    if got or max(_dim(ga), _dim(gb)) != 2:
        return got
    ax0, ay0, ax1, ay1 = ga.bbox
    bx0, by0, bx1, by1 = gb.bbox
    if ax0 > bx1 or bx0 > ax1 or ay0 > by1 or by0 > ay1:
        return False
    from . import exactgeom
    if exactgeom.degenerate_contact(ga, gb):
        return exactgeom.interiors_intersect(ga, gb)
    return False


def _interiors_intersect_float(ga, gb) -> bool:
    """interior(ga) ∩ interior(gb) ≠ ∅ — the discriminator between
    `touches` and the interior-sharing predicates (DE-9IM cell [0,0]).

    Witnesses per dimension pair:
    * 0×0: coordinate equality; 0×1: point on the line away from its
      boundary endpoints; 0×2: point strictly inside.
    * 1×1: proper segment crossing, collinear positive-length overlap, or
      an interior T/V vertex contact.
    * 1×2: proper boundary crossing or a line sample strictly inside.
    * 2×2: proper boundary crossing, a sample of one strictly inside the
      other, or one covering the other (equal/nested sharing boundary).
    """
    ax0, ay0, ax1, ay1 = ga.bbox
    bx0, by0, bx1, by1 = gb.bbox
    if ax0 > bx1 or bx0 > ax1 or ay0 > by1 or by0 > ay1:
        return False
    if _dim(ga) > _dim(gb):
        ga, gb = gb, ga
    da, db = _dim(ga), _dim(gb)
    if da == 0:
        pts = ga.vertices()
        if db == 0:
            vb = gb.vertices()
            return bool(
                ((pts[:, None, 0] == vb[None, :, 0]) & (pts[:, None, 1] == vb[None, :, 1])).any()
            )
        if db == 1:
            on = gb.contains(pts[:, 0], pts[:, 1])
            if not on.any():
                return False
            bdb = {(float(x), float(y)) for x, y in _boundary_points(gb)}
            return any((float(x), float(y)) not in bdb for x, y in pts[on])
        return bool(_strictly_inside(gb, pts[:, 0], pts[:, 1]).any())
    if db == 1:  # line × line
        A, B = _nondeg_segments(ga), _nondeg_segments(gb)
        if _collinear_overlap_any(A, B):
            return True
        # proper crossings witness interior contact only when the crossing
        # point is not a Mod-2 boundary endpoint of either side (a dangling
        # endpoint elsewhere in a multi-part chain can sit exactly on the
        # crossing — the node is Boundary, not Interior)
        if _proper_cross_line_interior_any(ga, gb, A, B):
            return True
        return _line_vertex_interior_contact(ga, gb) or _line_vertex_interior_contact(gb, ga)
    if da == 1:  # line × area
        if _segments_proper_cross_any(ga.segments(), gb.segments()):
            return True
        sp = np.concatenate(
            [_sample_points(ga), _cut_midpoints(ga.segments(), gb.segments())]
        )
        return bool(_strictly_inside(gb, sp[:, 0], sp[:, 1]).any())
    # area × area
    if _segments_proper_cross_any(ga.segments(), gb.segments()):
        return True
    sa = np.concatenate(
        [_sample_points(ga), _cut_midpoints(ga.segments(), gb.segments())]
    )
    if bool(_strictly_inside(gb, sa[:, 0], sa[:, 1]).any()):
        return True
    sb = np.concatenate(
        [_sample_points(gb), _cut_midpoints(gb.segments(), ga.segments())]
    )
    if bool(_strictly_inside(ga, sb[:, 0], sb[:, 1]).any()):
        return True
    # equal or nested with all samples exactly on the shared boundary: a
    # positive-area geometry covered by the other still shares interior.
    # Decompose multipolygons per PART: a part of one covered by the other
    # shares interior even when neither WHOLE covers the other (two
    # multipolygons sharing one identical part plus disjoint extras must
    # report interior contact); parts have disjoint interiors by validity,
    # so part-pair covers is exhaustive for this residual case
    pas = [p for p in (ga.parts if isinstance(ga, MultiGeometry) else [ga]) if _dim(p) == 2]
    pbs = [p for p in (gb.parts if isinstance(gb, MultiGeometry) else [gb]) if _dim(p) == 2]
    for pa in pas:
        px0, py0, px1, py1 = pa.bbox
        for pb in pbs:
            qx0, qy0, qx1, qy1 = pb.bbox
            if px0 > qx1 or qx0 > px1 or py0 > qy1 or qy0 > py1:
                continue
            if covers_pair(pa, pb) or covers_pair(pb, pa):
                return True
    return False


def touches_pair(ga, gb) -> bool:
    """JTS-`touches`: the geometries intersect but only on their
    boundaries (no interior-interior contact)."""
    return intersects_pair(ga, gb) and not interiors_intersect_pair(ga, gb)


def disjoint_pair(ga, gb) -> bool:
    """JTS-`disjoint` = NOT intersects.  As a JOIN this is the anti-join
    (`anti_join_matches`) — a cell equi-join cannot enumerate disjoint
    pairs directly."""
    return not intersects_pair(ga, gb)


def crosses_pair(ga, gb) -> bool:
    """JTS-`crosses`: interiors intersect in a set of strictly lower
    dimension than max(dim(a), dim(b)).

    * line × line: interiors meet at point(s) only (a collinear overlap
      makes the intersection 1-dim → overlaps, not crosses).
    * mixed dims: the lower-dim geometry's interior enters the higher's
      interior AND part of it lies outside the closed higher geometry.
    * point × point / area × area: always false (JTS semantics).
    """
    da, db = _dim(ga), _dim(gb)
    if da == db:
        if da != 1:
            return False
        if _collinear_overlap_any(_nondeg_segments(ga), _nondeg_segments(gb)):
            return False
        return interiors_intersect_pair(ga, gb)
    lo, hi = (ga, gb) if da < db else (gb, ga)
    if not interiors_intersect_pair(lo, hi):
        return False
    return not covers_pair(hi, lo)


def overlaps_pair(ga, gb) -> bool:
    """JTS-`overlaps`: same dimension, interiors intersect in a set of
    that same dimension, and neither covers the other."""
    da, db = _dim(ga), _dim(gb)
    if da != db or da == 0:
        return False
    if da == 1:
        if not _collinear_overlap_any(_nondeg_segments(ga), _nondeg_segments(gb)):
            return False
    elif not interiors_intersect_pair(ga, gb):
        return False
    return not covers_pair(ga, gb) and not covers_pair(gb, ga)


def contains_pair(ga, gb) -> bool:
    """JTS-`contains`: covers AND interiors intersect (a geometry does not
    `contain` one lying wholly on its boundary — GeomContains vs
    GeomCovers distinction)."""
    return covers_pair(ga, gb) and interiors_intersect_pair(ga, gb)


def distance_pair(ga, gb) -> float:
    """JTS-`distance` for any geometry pair (0 when intersecting)."""
    if intersects_pair(ga, gb):
        return 0.0
    if isinstance(ga, Point):
        return float(np.min(gb.distance(np.array([ga.x]), np.array([ga.y]))))
    if isinstance(gb, Point):
        return float(np.min(ga.distance(np.array([gb.x]), np.array([gb.y]))))
    return _segments_min_dist(ga.segments(), gb.segments())


# ---------------------------------------------------------------------------
# WKT
# ---------------------------------------------------------------------------

def _coord_lists(txt: str, wkt: str, n: int | None = None) -> list[np.ndarray]:
    """The innermost parenthesised coordinate lists of ``txt`` as (k, 2)
    arrays — at least one, exactly ``n`` when given — validated against
    the strict grammar; malformed input raises a ValueError naming the
    WKT text."""
    lists = _LIST_RE.findall(txt)
    if not lists or (n is not None and len(lists) != n) or not all(
        map(_COORDS_RE.fullmatch, lists)
    ):
        raise ValueError(f"malformed WKT: {wkt[:80]!r}")
    return [_xy(c) for c in lists]


def _xy(coords: str) -> np.ndarray:
    """A validated coordinate list → (k, 2) array of its x and y."""
    v = coords.replace(",", " ").split()
    if len(v) == 2 * (coords.count(",") + 1):  # every tuple is plain x y
        return np.array(v, dtype=np.float64).reshape(-1, 2)
    return np.array([t.split()[:2] for t in coords.split(",")], dtype=np.float64)


def _polygon(txt: str, wkt: str) -> Polygon:
    """Rings of one polygon's text, each closed (first == last point)."""
    return Polygon([
        r if np.array_equal(r[0], r[-1]) else np.vstack([r, r[:1]])
        for r in _coord_lists(txt, wkt)
    ])


@lru_cache(maxsize=4096)
def polygon_from_wkt(wkt: str) -> Polygon:
    """Parse POLYGON WKT (kept strict for callers that rely on `.rings`;
    the engine's general entry point is :func:`geometry_from_wkt`)."""
    w = wkt.strip()
    if not w.upper().startswith("POLYGON"):
        raise ValueError(f"unsupported WKT (POLYGON only): {w[:40]}")
    return _polygon(w, w)


@lru_cache(maxsize=4096)
def geometry_from_wkt(wkt: str):
    """Parse any supported WKT: POINT, LINESTRING, MULTILINESTRING,
    POLYGON (with holes), MULTIPOLYGON.

    Multi-geometries become a :class:`MultiGeometry` of parts — the
    reference's one-ConstraintSet-per-part handling
    (GeometryUtils.basicConstraintsFromGeometry:154-213).  Interned via
    lru_cache like the reference's prepared-geometry GeometryImage
    interning (SpatialQueryFilter.java:353-367).  Malformed coordinates
    raise a ValueError naming the text.
    """
    w = wkt.strip()
    u = w.upper()
    if u.startswith("POINT"):
        (c,) = _coord_lists(w, w, 1)
        if len(c) != 1:
            raise ValueError(f"malformed WKT: {w[:80]!r}")
        return Point(c[0, 0], c[0, 1])
    if u.startswith("MULTILINESTRING"):
        return MultiGeometry([LineString(c) for c in _coord_lists(w, w)])
    if u.startswith("LINESTRING"):
        return LineString(_coord_lists(w, w, 1)[0])
    if u.startswith("MULTIPOLYGON"):
        # split on outer-level polygon groups: '((...), (...))' blocks
        blocks = re.finditer(r"\(\s*\([^)]*\)(?:\s*,\s*\([^)]*\))*\s*\)", w[len("MULTIPOLYGON"):])
        parts = [_polygon(pg.group(0), w) for pg in blocks]
        if not parts:
            raise ValueError(f"malformed WKT: {w[:80]!r}")
        return MultiGeometry(parts)
    if u.startswith("POLYGON"):
        return polygon_from_wkt(w)
    raise ValueError(f"unsupported WKT: {w[:40]}")


def box_wkt(lon0: float, lat0: float, lon1: float, lat1: float) -> str:
    return (
        f"POLYGON (({lon0} {lat0}, {lon1} {lat0}, {lon1} {lat1}, "
        f"{lon0} {lat1}, {lon0} {lat0}))"
    )


def point_distance(
    lon1: np.ndarray, lat1: np.ndarray, lon2: np.ndarray, lat2: np.ndarray
) -> np.ndarray:
    """Planar point-to-point distance in degrees (GeomDistance.java:14-23)."""
    return np.sqrt(
        (np.asarray(lon1) - np.asarray(lon2)) ** 2
        + (np.asarray(lat1) - np.asarray(lat2)) ** 2
    )
