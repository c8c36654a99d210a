"""General DE-9IM RELATE: the full 3×3 intersection-matrix evaluator.

Reference parity: GeoTools/JTS evaluate ANY DE-9IM mask via RelateOp
(geowave's CQLQueryFilter path accepts arbitrary patterns); rounds 3-4 of
this engine supported only the four canonical single-predicate patterns
and raised otherwise.  This module computes the whole matrix

        [ dim(I(a)∩I(b))  dim(I(a)∩B(b))  dim(I(a)∩E(b)) ]
        [ dim(B(a)∩I(b))  dim(B(a)∩B(b))  dim(B(a)∩E(b)) ]
        [ dim(E(a)∩I(b))  dim(E(a)∩B(b))  dim(E(a)∩E(b)) ]

as a 9-char string over {F,0,1,2} from the geometry kernel's existing
primitives (geom.py): boundary-inclusive containment, exact-double
on-segment tests, Mod-2 boundary points, cut-midpoint witness sampling
(exact for piecewise-linear inputs — the same machinery covers_pair and
the named predicates rest on), proper-cross / collinear-overlap matrices,
and the two-tier exact-rational routing for area-interior decisions
(interiors_intersect_pair / covers_pair call exactgeom on degenerate
contact, so the sampled escapes certified in r4 stay closed here).

Dimension bookkeeping uses closure/openness facts, not extra sampling:
e.g. a curve point in an OPEN region drags a neighbourhood arc with it,
so curve∩interior is never 0-dimensional; an area interior can never be
covered by a curve; E(a)∩E(b) of bounded geometries is always 2.

Supported inputs: Point / LineString / Polygon (with holes) and
homogeneous Multi* — the same families the kernel's named predicates
support.  Mixed-dimension collections raise (JTS RelateOp likewise
refuses GeometryCollection).
"""

from __future__ import annotations

import numpy as np

from . import geom as G

F = -1  # empty intersection


def _parts(g) -> list:
    return g.parts if isinstance(g, G.MultiGeometry) else [g]


def _homo_dim(g) -> int:
    dims = {G._dim(p) for p in _parts(g)}
    if len(dims) != 1:
        raise ValueError(
            "relate: mixed-dimension geometry collections are unsupported"
        )
    return dims.pop()


def _on_any_segment(pts: np.ndarray, S: np.ndarray) -> np.ndarray:
    """(k,) bool: point exactly on some segment of S (exact-double test)."""
    if not pts.size or not S.size:
        return np.zeros(len(pts), dtype=bool)
    return G._on_segment_exact(
        pts[:, 0][:, None], pts[:, 1][:, None],
        S[None, :, 0], S[None, :, 1], S[None, :, 2], S[None, :, 3],
    ).any(axis=1)


def _sub_midpoints(A: np.ndarray, S: np.ndarray) -> np.ndarray:
    """Witness set for classifying curve A against the arrangement induced
    by segment set S: for each A segment, the midpoints of its sub-
    segments cut at A∩S contacts, or its plain midpoint when uncut
    (geom._cut_midpoints include_uncut mode — one shared construction;
    the plain midpoint of a CUT segment is excluded because it can land
    exactly on a transversal contact, r5 review fix)."""
    return G._cut_midpoints(A, S, include_uncut=True)


def _curve_vs_area(body: np.ndarray, area) -> tuple[bool, bool, bool]:
    """(has_in, has_on, has_out): does some sub-segment of the curve lie
    strictly inside / collinear on the boundary of / strictly outside the
    closed area?  Each True witnesses a 1-dimensional portion (a curve
    cannot meet an open region, a boundary-collinear run, or the open
    exterior in isolated points once cut at every boundary contact)."""
    S = G._nondeg_segments(area)
    mids = _sub_midpoints(body, S)
    if not mids.size:
        return False, False, False
    on = _on_any_segment(mids, S)
    closed = area.contains(mids[:, 0], mids[:, 1])
    return bool((closed & ~on).any()), bool(on.any()), bool((~closed).any())


def _curve_escapes_curve(A: np.ndarray, b) -> bool:
    """Some sub-segment of curve A lies off curve b (dim-1 witness for
    A ∩ E(b) when b is 1-dimensional)."""
    B = G._nondeg_segments(b)
    mids = _sub_midpoints(A, B)
    if not mids.size:
        return False
    return bool((~_on_any_segment(mids, B)).any())


def _pt_set(g) -> np.ndarray:
    return np.asarray(g.vertices(), dtype=np.float64).reshape(-1, 2)


def _any_shared(P: np.ndarray, Q: np.ndarray) -> bool:
    if not P.size or not Q.size:
        return False
    return bool(
        ((P[:, None, 0] == Q[None, :, 0]) & (P[:, None, 1] == Q[None, :, 1])).any()
    )


def _minus_any(P: np.ndarray, Q: np.ndarray) -> bool:
    """Some point of P not coordinate-equal to any point of Q."""
    if not P.size:
        return False
    if not Q.size:
        return True
    eq = (P[:, None, 0] == Q[None, :, 0]) & (P[:, None, 1] == Q[None, :, 1])
    return bool((~eq.any(axis=1)).any())


def _zero_contact_curve_rings(b_line, body: np.ndarray, rings: np.ndarray) -> bool:
    """Any contact point between line interior I(b) and ring set: proper
    crossings or vertex-on-other contacts away from b's Mod-2 boundary
    endpoints.  A proper crossing is interior to both SEGMENTS, but in a
    multi-part line the crossing point can coincide with a dangling
    endpoint of another part (a Boundary node) — blocked exactly, the
    _proper_cross_line_interior_any convention."""
    bdp = G._boundary_points(b_line)
    M = G._segments_proper_cross_matrix(body, rings)
    if M.any():
        if not bdp.size:
            return True
        blocked = np.zeros_like(M)
        for qx, qy in bdp:
            on_a = G._on_segment_exact(qx, qy, body[:, 0], body[:, 1], body[:, 2], body[:, 3])
            on_b = G._on_segment_exact(qx, qy, rings[:, 0], rings[:, 1], rings[:, 2], rings[:, 3])
            blocked |= on_a[:, None] & on_b[None, :]
        if bool((M & ~blocked).any()):
            return True
    bd = {(float(x), float(y)) for x, y in bdp}
    vb = b_line.vertices()
    on_r = _on_any_segment(np.asarray(vb, dtype=np.float64), rings)
    for x, y in np.asarray(vb, dtype=np.float64)[on_r]:
        if (float(x), float(y)) not in bd:
            return True
    # ring vertices landing on the line body away from b's boundary
    rv = np.unique(np.concatenate([rings[:, :2], rings[:, 2:]]), axis=0)
    on_b = _on_any_segment(rv, body)
    for x, y in rv[on_b]:
        if (float(x), float(y)) not in bd:
            return True
    return False


def _rings(g_area) -> np.ndarray:
    return G._nondeg_segments(g_area)


# ---------------------------------------------------------------------------
# per-dimension-pair matrices (da <= db handled by transposing the caller)
# ---------------------------------------------------------------------------


def _m_area_area(a, b):
    ra, rb = _rings(a), _rings(b)
    b_in_a, _, b_out_a = _curve_vs_area(rb, a)
    a_in_b, _, a_out_b = _curve_vs_area(ra, b)
    bb = (
        1 if G._collinear_overlap_any(ra, rb)
        else (0 if G._segments_touch_any(ra, rb) else F)
    )
    return [
        [2 if G.interiors_intersect_pair(a, b) else F,
         1 if b_in_a else F,
         F if G.covers_pair(b, a) else 2],
        [1 if a_in_b else F, bb, 1 if a_out_b else F],
        [F if G.covers_pair(a, b) else 2, 1 if b_out_a else F, 2],
    ]


def _m_area_line(a, b):
    rings = _rings(a)
    body = G._nondeg_segments(b)
    bd = G._boundary_points(b)
    has_in, has_on, has_out = _curve_vs_area(body, a)
    bd_closed = a.contains(bd[:, 0], bd[:, 1]) if bd.size else np.zeros(0, bool)
    bd_on = _on_any_segment(bd, rings)
    bi = (
        1 if has_on
        else (0 if _zero_contact_curve_rings(b, body, rings) else F)
    )
    return [
        [1 if has_in else F,
         0 if bool((bd_closed & ~bd_on).any()) else F,
         2],  # an area interior is never covered by a curve
        [bi,
         0 if bool(bd_on.any()) else F,
         1 if _curve_escapes_curve(rings, b) else F],
        [1 if has_out else F,
         0 if bool((~bd_closed).any()) else F,
         2],
    ]


def _m_area_point(a, b):
    rings = _rings(a)
    pts = _pt_set(b)
    on = _on_any_segment(pts, rings)
    closed = a.contains(pts[:, 0], pts[:, 1])
    return [
        [0 if bool((closed & ~on).any()) else F, F, 2],
        [0 if bool(on.any()) else F, F, 1],  # rings minus finitely many points
        [0 if bool((~closed).any()) else F, F, 2],
    ]


def _m_line_line(a, b):
    A, B = G._nondeg_segments(a), G._nondeg_segments(b)
    bda, bdb = G._boundary_points(a), G._boundary_points(b)
    if G._collinear_overlap_any(A, B):
        ii = 1
    elif (
        G._proper_cross_line_interior_any(a, b, A, B)
        or G._line_vertex_interior_contact(a, b)
        or G._line_vertex_interior_contact(b, a)
    ):
        ii = 0
    else:
        ii = F

    def bd_on_interior(bd: np.ndarray, other_body: np.ndarray, own_bd: np.ndarray):
        if not bd.size:
            return False
        on = _on_any_segment(bd, other_body)
        return _minus_any(bd[on], own_bd) if on.any() else False

    return [
        [ii,
         0 if bd_on_interior(bdb, A, bda) else F,
         1 if _curve_escapes_curve(A, b) else F],
        [0 if bd_on_interior(bda, B, bdb) else F,
         0 if _any_shared(bda, bdb) else F,
         0 if _escaped_bd(bda, B) else F],
        [1 if _curve_escapes_curve(B, a) else F,
         0 if _escaped_bd(bdb, A) else F,
         2],
    ]


def _escaped_bd(bd: np.ndarray, other_body: np.ndarray) -> bool:
    """Some boundary point lying off the other curve entirely (in E)."""
    if not bd.size:
        return False
    return bool((~_on_any_segment(bd, other_body)).any())


def _m_line_point(a, b):
    body = G._nondeg_segments(a)
    bda = G._boundary_points(a)
    pts = _pt_set(b)
    on_body = _on_any_segment(pts, body)
    on_bd = np.zeros(len(pts), dtype=bool)
    if bda.size and pts.size:
        on_bd = (
            (pts[:, None, 0] == bda[None, :, 0])
            & (pts[:, None, 1] == bda[None, :, 1])
        ).any(axis=1)
    return [
        [0 if bool((on_body & ~on_bd).any()) else F, F,
         1],  # a 1-dim interior minus finitely many points keeps dim 1
        [0 if bool(on_bd.any()) else F, F,
         0 if _minus_any(bda, pts) else F],
        [0 if bool((~on_body).any()) else F, F, 2],
    ]


def _m_point_point(a, b):
    P, Q = _pt_set(a), _pt_set(b)
    return [
        [0 if _any_shared(P, Q) else F, F, 0 if _minus_any(P, Q) else F],
        [F, F, F],
        [0 if _minus_any(Q, P) else F, F, 2],
    ]


def _transpose(m):
    return [[m[j][i] for j in range(3)] for i in range(3)]


_CH = {F: "F", 0: "0", 1: "1", 2: "2"}


def relate_pair(ga, gb) -> str:
    """DE-9IM matrix of (ga, gb) as the standard 9-char row-major string."""
    da, db = _homo_dim(ga), _homo_dim(gb)
    flip = da < db
    if flip:
        ga, gb, da, db = gb, ga, db, da
    if da == 2:
        m = (
            _m_area_area(ga, gb) if db == 2
            else _m_area_line(ga, gb) if db == 1
            else _m_area_point(ga, gb)
        )
    elif da == 1:
        m = _m_line_line(ga, gb) if db == 1 else _m_line_point(ga, gb)
    else:
        m = _m_point_point(ga, gb)
    if flip:
        m = _transpose(m)
    return "".join(_CH[m[i][j]] for i in range(3) for j in range(3))


def relate_matches(matrix: str, pattern: str) -> bool:
    """OGC mask match: T = nonempty, F = empty, 0/1/2 exact dim, * any."""
    if len(matrix) != 9 or len(pattern) != 9:
        raise ValueError("DE-9IM matrix/pattern must be 9 characters")
    for mc, pc in zip(matrix, pattern.upper()):
        if pc == "*":
            continue
        if pc == "T":
            if mc == "F":
                return False
        elif pc == "F":
            if mc != "F":
                return False
        elif mc != pc:
            return False
    return True


def point_vs_area_matrices(pts: np.ndarray, gb) -> np.ndarray:
    """Vectorized DE-9IM matrices for MANY single points against one area
    geometry — the dominant RELATE workload (a point table filtered by a
    query polygon).  A point has empty boundary, so only three matrices
    are possible; two vectorized kernels (exact on-segment + boundary-
    inclusive containment, the same primitives relate_pair uses) classify
    every point at once instead of one relate_pair call per row.

    An area whose bbox reaches past +180 (an unwrapped antimeridian
    geometry) is also tried as its -360 image: each point is classified
    against the first image whose closure holds it — the world-frame rule
    the engine's named-predicate UDFs apply."""
    images = [gb] + ([G.translate_lon(gb, -360.0)] if gb.bbox[2] > 180.0 else [])
    on = np.zeros(len(pts), dtype=bool)
    closed = np.zeros(len(pts), dtype=bool)
    for g in images:
        hit = g.contains(pts[:, 0], pts[:, 1]) & ~closed
        on |= hit & _on_any_segment(pts, G._nondeg_segments(g))
        closed |= hit
    out = np.where(on, "F0FFFF212", np.where(closed, "0FFFFF212", "FF0FFF212"))
    return out.astype(object)


def relate_wkt(wkt_a: str, wkt_b: str, pattern: str | None = None):
    """Convenience: parse, evaluate; returns the matrix string, or the
    boolean mask match when ``pattern`` is given."""
    ga = G.geometry_from_wkt(wkt_a)
    gb = G.geometry_from_wkt(wkt_b)
    m = relate_pair(ga, gb)
    return m if pattern is None else relate_matches(m, pattern)
