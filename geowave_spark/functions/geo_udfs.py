"""Arrow-batched pandas UDFs — the ONLY Python that touches data at scale.

Three UDF families, mirroring the reference's division of labor:

* ``cover_keys_udf`` — polygon/extent → packed (tier,cell) covering keys,
  the insert path of TieredSFCIndexStrategy.getInsertionIds (:167-206,
  334-396) with the join's 80-cell cap (GeoWaveIndexedRDD.java:193), the
  >3-cell geometry trim (RDDUtils.trimIndexIds:158-184) and distance-join
  buffering (TieredSpatialJoin.java:142-165, GeomWithinDistance.getBufferAmount).
  Runs on the SMALL side only (polygons); the big point side never leaves
  the JVM (see sqlcells.py).
* ``predicate_udf`` / ``distance_udf`` — exact geometry refinement, the
  equivalent of SpatialQueryFilter.accept (:259-302) / GeomWithinDistance
  (:43-45).  Vectorized per distinct polygon within each Arrow batch;
  polygons are interned via lru_cache like the reference's GeometryImage
  prepared-geometry interning (SpatialQueryFilter.java:353-367).

Antimeridian polygons arrive in UNWRAPPED coords (lon may exceed +180); the
refine tests each point at lon and lon+360 (LongitudeDefinition split-bin
semantics).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import cells, geom


def _ring_bbox(p, buffer: float, bounds=None) -> tuple[float, float, float, float]:
    x0, y0, x1, y1 = p.bbox
    if buffer:
        x0, y0, x1, y1 = x0 - buffer, y0 - buffer, x1 + buffer, y1 + buffer
    if bounds is not None:
        # custom frame: clamp to its own y extent (no geographic poles)
        return x0, max(y0, bounds[1]), x1, min(y1, bounds[3])
    return x0, max(y0, -90.0), x1, min(y1, 90.0)


def cover_keys(
    wkts: pd.Series,
    max_cells: int = cells.JOIN_MAX_CELLS,
    buffer: float = 0.0,
    trim: bool = True,
    closed: bool = False,
    bounds=None,
) -> pd.Series:
    """WKT series → list[int64] packed covering keys (adaptive tier).

    Accepts ANY supported geometry (POLYGON / LINESTRING / MULTI* / POINT):
    cover = adaptive-tier cells of the bbox, trimmed to cells the true
    geometry touches (RDDUtils.trimIndexIds:158-184) — for a diagonal
    LINESTRING track the trim drops the off-diagonal bbox cells.

    ``closed=True`` makes the cover boundary-CLOSED on the upper edges: an
    extent whose max lon/lat lies exactly on a cell line also covers the
    adjacent cell (nextafter nudge).  The insert-path default keeps the
    reference's exact-fit rule (one id for a tier-aligned extent,
    TieredSFCIndexStrategyTest.java:140-168); query-side covers in the
    general geometry join need the closed form so boundary-only contact
    (touches, shared edges) still meets the partner's keys.
    """
    out = []
    for wkt in wkts:
        tier, cs = _geometry_cover(
            geom.geometry_from_wkt(wkt), max_cells, buffer, trim, closed, bounds
        )
        out.append(cells.pack_key(tier, cs).tolist())
    return pd.Series(out, index=wkts.index)


def _geometry_cover(
    p, max_cells: int = cells.JOIN_MAX_CELLS, buffer: float = 0.0,
    trim: bool = True, closed: bool = False, bounds=None,
) -> tuple[int, np.ndarray]:
    """One parsed geometry → (tier, covering cells): the body of
    :func:`cover_keys`, for callers that already hold the geometry."""
    bbox = _ring_bbox(p, buffer, bounds)
    tier, cs = cells.cells_for_bbox(
        bbox, max_dup=max_cells, closed=closed, bounds=bounds
    )
    if trim and not buffer and cs.size > 3:
        # drop covering cells that miss the true geometry; for unwrapped
        # antimeridian polygons also test the +360-shifted copy
        lon0, lat0, lon1, lat1 = cells.cell_to_bounds(cs, tier, bounds=bounds)
        keep = p.intersects_boxes(lon0, lat0, lon1, lat1)
        if bounds is None and p.bbox[2] > 180.0:
            keep |= p.intersects_boxes(lon0 + 360.0, lat0, lon1 + 360.0, lat1)
        cs = cs[keep]
    return tier, cs


def _eval_per_polygon(
    wkts: pd.Series, lon: pd.Series, lat: pd.Series, fn, null_value: float = 0.0,
    wrap: bool = True, wrap_boxes: bool = False,
) -> np.ndarray:
    """Group a candidate batch by polygon and evaluate vectorized.

    NULL geometries factorize to code -1 and keep ``null_value`` —
    predicates pass 0.0 (False: a null polygon relates to nothing);
    distances pass NaN so a null never reads as distance 0.

    ``wrap`` retests unwrapped antimeridian polygons (bbox x1 > 180) at
    lon + 360; ``wrap_boxes`` retests every box that way too."""
    res = np.full(len(wkts), null_value, dtype=np.float64)
    lon_v = lon.to_numpy(dtype=np.float64)
    lat_v = lat.to_numpy(dtype=np.float64)
    codes, uniques = pd.factorize(wkts)
    for u, w in enumerate(uniques):
        idx = np.nonzero(codes == u)[0]
        p = geom.geometry_from_wkt(w)
        v = fn(p, lon_v[idx], lat_v[idx])
        if wrap and (p.bbox[2] > 180.0 or (wrap_boxes and p.is_box())):
            v2 = fn(p, lon_v[idx] + 360.0, lat_v[idx])
            v = np.minimum(v, v2) if v.dtype != bool else (v | v2)
        res[idx] = v
    return res


@F.pandas_udf(T.BooleanType())
def st_contains_point(wkts: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
    got = _eval_per_polygon(wkts, lon, lat, lambda p, x, y: p.contains(x, y))
    return pd.Series(got.astype(bool))


# no-wrap twins for custom-bounds (projected CRS) frames, where the
# bbox[2] > 180 heuristic above would misread metre coordinates as
# unwrapped antimeridian geometry
@F.pandas_udf(T.BooleanType())
def st_contains_point_nowrap(wkts: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
    got = _eval_per_polygon(wkts, lon, lat, lambda p, x, y: p.contains(x, y), wrap=False)
    return pd.Series(got.astype(bool))


@F.pandas_udf(T.DoubleType())
def st_distance_point_nowrap(wkts: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
    got = _eval_per_polygon(
        wkts, lon, lat, lambda p, x, y: p.distance(x, y), null_value=float("nan"),
        wrap=False,
    )
    return pd.Series(got, dtype=np.float64)


@F.pandas_udf(T.DoubleType())
def st_distance_point(wkts: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
    # a box is measured against the point's lon + 360 copy as well, the
    # rule of the broadcast join's JVM box refine and of both DuckDB
    # oracles: a point at lon -179.8 can be within 0.5 of a box ending at 179.99
    got = _eval_per_polygon(
        wkts, lon, lat, lambda p, x, y: p.distance(x, y), null_value=np.nan,
        wrap_boxes=True,
    )
    return pd.Series(got)


# --- pairwise geometry × geometry (GeomFunctionRegistry.java:26-42) ---------

def _group_vectorized(
    wkt_a: pd.Series, wkt_b: pd.Series, scalar_fn, group_fn, null_value: float = 0.0
) -> np.ndarray:
    """Factorize by the RIGHT geometry (the join's broadcast side repeats
    heavily in each batch, like _eval_per_polygon) and evaluate each group
    with a vectorized kernel where the left class allows; per-pair
    fallback otherwise.

    Unwrapped antimeridian right geometries (bbox x1 > 180) are ALSO
    evaluated as their -360-shifted image and the results combined
    (or / min) — the pairwise twin of _eval_per_polygon's +360 retest
    (LongitudeDefinition split-bin semantics)."""
    codes, uniques = pd.factorize(wkt_b)
    left = wkt_a.to_numpy()
    out = np.full(len(wkt_a), null_value, dtype=np.float64)
    # NULL on either side keeps null_value (False for predicates, NaN for
    # distance) — a null right factorizes to code -1, null lefts are
    # masked out of every group so the WKT parser never sees None
    lnull = pd.isna(wkt_a).to_numpy()
    for u, wb in enumerate(uniques):
        idx = np.nonzero((codes == u) & ~lnull)[0]
        if not idx.size:
            continue
        gb = geom.geometry_from_wkt(wb)
        v = group_fn(gb, left[idx], scalar_fn)
        if gb.bbox[2] > 180.0:
            v2 = group_fn(geom.translate_lon(gb, -360.0), left[idx], scalar_fn)
            v = np.minimum(v, v2) if v.dtype != bool else (v | v2)
        out[idx] = v
    return out


def _intersects_group(gb, left_wkts: np.ndarray, scalar_fn) -> np.ndarray:
    gs = [geom.geometry_from_wkt(w) for w in left_wkts]
    out = np.zeros(len(gs), dtype=bool)
    box_idx = [i for i, g in enumerate(gs) if isinstance(g, geom.Polygon) and g.is_box()]
    if box_idx:
        # box-left fast path — the exact intersects_pair decomposition,
        # vectorized over the box rows: box corners in gb, gb vertices in
        # box, exact segment touch/cross (row-wise kernel)
        arr = np.array([gs[i].bbox for i in box_idx], dtype=np.float64)
        x0, y0, x1, y1 = arr[:, 0], arr[:, 1], arr[:, 2], arr[:, 3]
        hit = np.zeros(len(box_idx), dtype=bool)
        if geom._has_area(gb):  # mirrors intersects_pair's area-gated check
            for cx, cy in ((x0, y0), (x1, y0), (x1, y1), (x0, y1)):
                hit |= gb.contains(cx, cy)
        vb = gb.vertices()
        hit |= (
            (vb[None, :, 0] >= x0[:, None]) & (vb[None, :, 0] <= x1[:, None])
            & (vb[None, :, 1] >= y0[:, None]) & (vb[None, :, 1] <= y1[:, None])
        ).any(axis=1)
        edges = np.empty((len(box_idx) * 4, 4), dtype=np.float64)
        corners = [(x0, y0, x1, y0), (x1, y0, x1, y1), (x1, y1, x0, y1), (x0, y1, x0, y0)]
        for e, (ex1, ey1, ex2, ey2) in enumerate(corners):
            edges[e::4] = np.stack([ex1, ey1, ex2, ey2], axis=1)
        hit |= geom.segments_touch_rowwise(edges, gb.segments()).reshape(-1, 4).any(axis=1)
        out[box_idx] = hit
    seg_idx = [
        i for i, g in enumerate(gs) if isinstance(g, geom.LineString) and len(g.coords) == 2
    ]
    if seg_idx:
        # single-segment-left fast path: row-wise segment kernel + endpoint
        # containment (exactly intersects_pair's decomposition for lines)
        A = np.array([gs[i].coords.ravel() for i in seg_idx], dtype=np.float64)
        hit = geom.segments_touch_rowwise(A, gb.segments())
        if geom._has_area(gb):
            hit = hit | gb.contains(A[:, 0], A[:, 1]) | gb.contains(A[:, 2], A[:, 3])
        out[seg_idx] = hit
    excl = set(box_idx).union(seg_idx)
    for i in range(len(gs)):
        if i not in excl:
            out[i] = scalar_fn(gs[i], gb)
    return out


def _distance_group(gb, left_wkts: np.ndarray, scalar_fn) -> np.ndarray:
    gs = [geom.geometry_from_wkt(w) for w in left_wkts]
    out = np.zeros(len(gs), dtype=np.float64)
    seg_idx = [
        i for i, g in enumerate(gs) if isinstance(g, geom.LineString) and len(g.coords) == 2
    ]
    if seg_idx:
        A = np.array([gs[i].coords.ravel() for i in seg_idx], dtype=np.float64)
        touching = geom.segments_touch_rowwise(A, gb.segments())
        if geom._has_area(gb):
            touching = touching | gb.contains(A[:, 0], A[:, 1]) | gb.contains(A[:, 2], A[:, 3])
        d = geom.segments_dist_rowwise(A, gb.segments())
        out[seg_idx] = np.where(touching, 0.0, d)
    excl = set(seg_idx)
    for i in range(len(gs)):
        if i not in excl:
            out[i] = scalar_fn(gs[i], gb)
    return out


@F.pandas_udf(T.BooleanType())
def st_intersects_wkt(wkt_a: pd.Series, wkt_b: pd.Series) -> pd.Series:
    """JTS-intersects over two WKT columns (GeomIntersects.java:21).
    Grouped by the right geometry with vectorized box/segment fast paths;
    exactness vs the per-pair kernel pinned in tests."""
    got = _group_vectorized(wkt_a, wkt_b, geom.intersects_pair, _intersects_group)
    return pd.Series(got.astype(bool))


@F.pandas_udf(T.DoubleType())
def st_distance_wkt(wkt_a: pd.Series, wkt_b: pd.Series) -> pd.Series:
    """Planar JTS-distance over two WKT columns (GeomDistance.java:14-23)."""
    got = _group_vectorized(
        wkt_a, wkt_b, geom.distance_pair, _distance_group, null_value=np.nan
    )
    return pd.Series(got, dtype=np.float64)


def _within_group(gb, left_wkts: np.ndarray, scalar_fn) -> np.ndarray:
    """left-WITHIN-gb group kernel: when gb is a closed box, coverage is
    one vectorized interval test per group.  JTS `within` additionally
    needs interior contact: a left bbox STRICTLY inside the open box
    implies it (and any positive-area left implies it when covered), so
    only boundary-touching lower-dim candidates take the scalar
    interiors refine — a measure-zero family on real data.  Non-box gb
    falls back to the scalar kernel per pair."""
    gs = [geom.geometry_from_wkt(w) for w in left_wkts]
    out = np.zeros(len(gs), dtype=bool)
    if isinstance(gb, geom.Polygon) and gb.is_box():
        bx0, by0, bx1, by1 = gb.bbox
        arr = np.array([g.bbox for g in gs], dtype=np.float64)
        fits = (
            (arr[:, 0] >= bx0) & (arr[:, 1] >= by0)
            & (arr[:, 2] <= bx1) & (arr[:, 3] <= by1)
        )
        strict = (
            (arr[:, 0] > bx0) & (arr[:, 1] > by0)
            & (arr[:, 2] < bx1) & (arr[:, 3] < by1)
        )
        for i in np.nonzero(fits & ~strict)[0]:
            if geom._dim(gs[i]) < 2:
                fits[i] = geom.interiors_intersect_pair(gs[i], gb)
        return fits
    for i, g in enumerate(gs):
        out[i] = scalar_fn(g, gb)
    return out


def _covers_group(gb, left_wkts: np.ndarray, scalar_fn) -> np.ndarray:
    """left-COVERS-gb group kernel: a box left covers gb iff gb's bbox
    fits inside it (closed convex box) — vectorized; other left classes
    fall back to the scalar kernel."""
    gs = [geom.geometry_from_wkt(w) for w in left_wkts]
    out = np.zeros(len(gs), dtype=bool)
    gx0, gy0, gx1, gy1 = gb.bbox
    box_idx = [i for i, g in enumerate(gs) if isinstance(g, geom.Polygon) and g.is_box()]
    if box_idx:
        arr = np.array([gs[i].bbox for i in box_idx], dtype=np.float64)
        out[box_idx] = (
            (arr[:, 0] <= gx0) & (arr[:, 1] <= gy0)
            & (arr[:, 2] >= gx1) & (arr[:, 3] >= gy1)
        )
    excl = set(box_idx)
    for i in range(len(gs)):
        if i not in excl:
            out[i] = scalar_fn(gs[i], gb)
    return out


def _scalar_group(gb, left_wkts: np.ndarray, scalar_fn) -> np.ndarray:
    out = np.zeros(len(left_wkts), dtype=bool)
    for i, w in enumerate(left_wkts):
        out[i] = scalar_fn(geom.geometry_from_wkt(w), gb)
    return out


@F.pandas_udf(T.BooleanType())
def st_within_wkt(wkt_a: pd.Series, wkt_b: pd.Series) -> pd.Series:
    """A within B (JTS-strict: coveredBy AND interior contact)."""
    got = _group_vectorized(wkt_a, wkt_b, geom.within_pair, _within_group)
    return pd.Series(got.astype(bool))


@F.pandas_udf(T.BooleanType())
def st_covers_wkt(wkt_a: pd.Series, wkt_b: pd.Series) -> pd.Series:
    """A covers B (GeomCovers/GeomContains family, boundary-inclusive)."""
    got = _group_vectorized(wkt_a, wkt_b, geom.covers_pair, _covers_group)
    return pd.Series(got.astype(bool))


@F.pandas_udf(T.BooleanType())
def st_relate_wkt(wkt_a: pd.Series, wkt_b: pd.Series, pattern: pd.Series) -> pd.Series:
    """Arbitrary DE-9IM mask match (JTS RelateOp / GeoTools relate parity —
    CQLQueryFilter.java accepts any 9-char pattern).  Arrow-batched; the
    right geometry factorizes per batch (broadcast sides repeat heavily),
    the matrix is computed per pair by georelate.relate_pair.  This is the
    fidelity path, not a join hot path — the named predicates keep their
    vectorized group kernels."""
    from .. import georelate

    # a NULL pattern answers NULL; a malformed one fails the batch ONCE,
    # naming the pattern, before any geometry work
    pnull = pd.isna(pattern).to_numpy()
    pats = pattern.to_numpy()
    for p in set(pats[~pnull]):
        if not _DE9IM_PATTERN_RE.fullmatch(p):
            raise ValueError(
                f"st_relate: DE-9IM pattern must be 9 characters from "
                f"T, F, *, 0, 1, 2; got {p!r}"
            )
    codes, uniques = pd.factorize(wkt_b)
    out = np.zeros(len(wkt_a), dtype=bool)
    lnull = pd.isna(wkt_a).to_numpy()
    left = wkt_a.to_numpy()
    for u, wb in enumerate(uniques):
        gb = geom.geometry_from_wkt(wb)
        idx = np.nonzero((codes == u) & ~lnull & ~pnull)[0]
        if not idx.size:
            continue
        # vectorized fast path: many POINT lefts vs one area geometry (the
        # point-table-filtered-by-query-polygon workload) — only three
        # matrices are possible, classified by two vectorized kernels; the
        # <=3 distinct (matrix, pattern) matches evaluate once each
        pts = _parse_points(left[idx])
        if pts is not None and geom._dim(gb) == 2:
            mats = georelate.point_vs_area_matrices(pts, gb)
            upat = pats[idx]
            memo: dict[tuple, bool] = {}
            for j, (m, p) in enumerate(zip(mats, upat)):
                k = (m, p)
                if k not in memo:
                    memo[k] = georelate.relate_matches(m, p)
                out[idx[j]] = memo[k]
            continue
        for i in idx:
            m = georelate.relate_pair(geom.geometry_from_wkt(left[i]), gb)
            out[i] = georelate.relate_matches(m, pats[i])
    return pd.Series(out).astype(object).where(~pnull, None)


_DE9IM_PATTERN_RE = re.compile(r"[TF*012]{9}", re.IGNORECASE)
_FLOAT = r"([-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?)"
# strict numbers: a malformed token such as ``1-2`` must not match (it
# would reach float() and raise a bare ValueError) — it falls back to the
# general WKT parser, whose error names the text
_POINT_WKT_RE = re.compile(rf"^\s*POINT\s*\(\s*{_FLOAT}\s+{_FLOAT}\s*\)\s*$")


def _parse_points(wkts: np.ndarray):
    """(k,2) float array if EVERY wkt is a simple POINT, else None."""
    pts = np.empty((len(wkts), 2), dtype=np.float64)
    for i, w in enumerate(wkts):
        m = _POINT_WKT_RE.match(w)
        if m is None:
            return None
        pts[i, 0] = float(m.group(1))
        pts[i, 1] = float(m.group(2))
    return pts


@F.pandas_udf(T.StringType())
def st_relate_matrix_wkt(wkt_a: pd.Series, wkt_b: pd.Series) -> pd.Series:
    """The 9-char DE-9IM matrix itself (JTS Geometry.relate(g) analog)."""
    from .. import georelate

    codes, uniques = pd.factorize(wkt_b)
    out = np.empty(len(wkt_a), dtype=object)
    lnull = pd.isna(wkt_a).to_numpy()
    left = wkt_a.to_numpy()
    for u, wb in enumerate(uniques):
        gb = geom.geometry_from_wkt(wb)
        for i in np.nonzero((codes == u) & ~lnull)[0]:
            out[i] = georelate.relate_pair(geom.geometry_from_wkt(left[i]), gb)
    return pd.Series(out)


@F.pandas_udf(T.BooleanType())
def st_equals_wkt(wkt_a: pd.Series, wkt_b: pd.Series) -> pd.Series:
    """Topological equality (GeomEquals)."""
    got = _group_vectorized(wkt_a, wkt_b, geom.equals_pair, _scalar_group)
    return pd.Series(got.astype(bool))


def _box_interval_group(gb, left_wkts: np.ndarray, scalar_fn, box_formula):
    """Shared box×box fast path: when gb is a closed box and a left geometry
    is a box, the predicate reduces to exact interval algebra —
    ``box_formula(a, b)`` vectorized over the left boxes; everything else
    falls back to the scalar kernel."""
    gs = [geom.geometry_from_wkt(w) for w in left_wkts]
    out = np.zeros(len(gs), dtype=bool)
    excl: set[int] = set()
    if isinstance(gb, geom.Polygon) and gb.is_box():
        box_idx = [i for i, g in enumerate(gs) if isinstance(g, geom.Polygon) and g.is_box()]
        if box_idx:
            a = np.array([gs[i].bbox for i in box_idx], dtype=np.float64)
            out[box_idx] = box_formula(a, np.array(gb.bbox, dtype=np.float64))
            excl = set(box_idx)
    for i in range(len(gs)):
        if i not in excl:
            out[i] = scalar_fn(gs[i], gb)
    return out


def _box_touches(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    ix = (a[:, 0] <= b[2]) & (b[0] <= a[:, 2]) & (a[:, 1] <= b[3]) & (b[1] <= a[:, 3])
    interiors = (a[:, 0] < b[2]) & (b[0] < a[:, 2]) & (a[:, 1] < b[3]) & (b[1] < a[:, 3])
    return ix & ~interiors


def _box_overlaps(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    interiors = (a[:, 0] < b[2]) & (b[0] < a[:, 2]) & (a[:, 1] < b[3]) & (b[1] < a[:, 3])
    a_cov_b = (a[:, 0] <= b[0]) & (a[:, 1] <= b[1]) & (a[:, 2] >= b[2]) & (a[:, 3] >= b[3])
    b_cov_a = (b[0] <= a[:, 0]) & (b[1] <= a[:, 1]) & (b[2] >= a[:, 2]) & (b[3] >= a[:, 3])
    return interiors & ~a_cov_b & ~b_cov_a


def _box_contains(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    # positive-area b inside closed a always shares interior → covers==contains
    return (a[:, 0] <= b[0]) & (a[:, 1] <= b[1]) & (a[:, 2] >= b[2]) & (a[:, 3] >= b[3])


def _touches_group(gb, left_wkts: np.ndarray, scalar_fn) -> np.ndarray:
    return _box_interval_group(gb, left_wkts, scalar_fn, _box_touches)


def _overlaps_group(gb, left_wkts: np.ndarray, scalar_fn) -> np.ndarray:
    return _box_interval_group(gb, left_wkts, scalar_fn, _box_overlaps)


def _contains_group(gb, left_wkts: np.ndarray, scalar_fn) -> np.ndarray:
    return _box_interval_group(gb, left_wkts, scalar_fn, _box_contains)


def _crosses_group(gb, left_wkts: np.ndarray, scalar_fn) -> np.ndarray:
    """crosses group kernel: single-segment lefts against a box gb reduce
    to vectorized row-wise kernels (proper edge crossing OR a strict-inside
    witness sample, and not covered by the closed box) — exactly the
    scalar crosses_pair(line, area) decomposition; others fall back."""
    gs = [geom.geometry_from_wkt(w) for w in left_wkts]
    out = np.zeros(len(gs), dtype=bool)
    excl: set[int] = set()
    if isinstance(gb, geom.Polygon) and gb.is_box():
        bx0, by0, bx1, by1 = gb.bbox
        seg_idx = [
            i for i, g in enumerate(gs) if isinstance(g, geom.LineString) and len(g.coords) == 2
        ]
        if seg_idx:
            A = np.array([gs[i].coords.ravel() for i in seg_idx], dtype=np.float64)
            proper = geom.segments_proper_cross_rowwise(A, gb.segments())
            mx, my = (A[:, 0] + A[:, 2]) / 2.0, (A[:, 1] + A[:, 3]) / 2.0
            strict = np.zeros(len(seg_idx), dtype=bool)
            for px, py in ((A[:, 0], A[:, 1]), (A[:, 2], A[:, 3]), (mx, my)):
                strict |= (px > bx0) & (px < bx1) & (py > by0) & (py < by1)
            # clip-midpoint witness (Liang-Barsky): a segment entering the
            # box corner-to-corner has NO proper edge crossing and its
            # global midpoint may sit on the boundary, yet the midpoint of
            # its clipped sub-segment is strictly interior — the vectorized
            # twin of the scalar kernel's _cut_midpoints witnesses
            strict |= geom.segment_box_clip_mid_strict(A, bx0, by0, bx1, by1)
            covered = (
                (A[:, 0] >= bx0) & (A[:, 0] <= bx1) & (A[:, 1] >= by0) & (A[:, 1] <= by1)
                & (A[:, 2] >= bx0) & (A[:, 2] <= bx1) & (A[:, 3] >= by0) & (A[:, 3] <= by1)
            )
            out[seg_idx] = (proper | strict) & ~covered
            excl = set(seg_idx)
    for i in range(len(gs)):
        if i not in excl:
            out[i] = scalar_fn(gs[i], gb)
    return out


@F.pandas_udf(T.BooleanType())
def st_touches_wkt(wkt_a: pd.Series, wkt_b: pd.Series) -> pd.Series:
    """JTS-touches: boundary contact only (GeomTouches)."""
    got = _group_vectorized(wkt_a, wkt_b, geom.touches_pair, _touches_group)
    return pd.Series(got.astype(bool))


@F.pandas_udf(T.BooleanType())
def st_crosses_wkt(wkt_a: pd.Series, wkt_b: pd.Series) -> pd.Series:
    """JTS-crosses: interiors meet in a lower-dimension set (GeomCrosses)."""
    got = _group_vectorized(wkt_a, wkt_b, geom.crosses_pair, _crosses_group)
    return pd.Series(got.astype(bool))


@F.pandas_udf(T.BooleanType())
def st_overlaps_wkt(wkt_a: pd.Series, wkt_b: pd.Series) -> pd.Series:
    """JTS-overlaps: same-dimension interior overlap, neither covering the
    other (GeomOverlaps)."""
    got = _group_vectorized(wkt_a, wkt_b, geom.overlaps_pair, _overlaps_group)
    return pd.Series(got.astype(bool))


@F.pandas_udf(T.BooleanType())
def st_contains_wkt(wkt_a: pd.Series, wkt_b: pd.Series) -> pd.Series:
    """JTS-contains: covers with interior contact (GeomContains)."""
    got = _group_vectorized(wkt_a, wkt_b, geom.contains_pair, _contains_group)
    return pd.Series(got.astype(bool))


@F.pandas_udf(T.BooleanType())
def st_disjoint_wkt(wkt_a: pd.Series, wkt_b: pd.Series) -> pd.Series:
    """JTS-disjoint = NOT intersects (GeomDisjoint).  As a join this is
    the anti-join output, not a cell equi-join predicate.  NULL geometry
    on either side yields False (a null relates to nothing — it must not
    read as 'disjoint from everything' through the negation)."""
    got = _group_vectorized(wkt_a, wkt_b, geom.intersects_pair, _intersects_group)
    res = ~got.astype(bool)
    res[(pd.isna(wkt_a) | pd.isna(wkt_b)).to_numpy()] = False
    return pd.Series(res)


_BBOX_SCHEMA = T.StructType(
    [T.StructField(c, T.DoubleType()) for c in ("x0", "y0", "x1", "y1")]
)


@F.pandas_udf(_BBOX_SCHEMA)
def st_bbox(wkts: pd.Series) -> pd.DataFrame:
    """WKT → bbox struct (x0, y0, x1, y1) — the envelope step of the
    reference's per-geometry index insertion (GeometryUtils envelopes)."""
    boxes = np.empty((len(wkts), 4), dtype=np.float64)
    for i, w in enumerate(wkts):
        boxes[i] = geom.geometry_from_wkt(w).bbox
    return pd.DataFrame(boxes, columns=["x0", "y0", "x1", "y1"], index=wkts.index)


# --- image payload UDFs (BASELINE.json invariants) --------------------------

@F.pandas_udf(T.DoubleType())
def image_psnr(data: pd.Series, fmt: pd.Series, w: pd.Series, h: pd.Series, ref_seed_id: pd.Series) -> pd.Series:
    """PSNR of the stored bytes vs the deterministic source array (per-row
    invariant check, runnable at any scale)."""
    from ..functions import imagecodec as codec
    from ..sources import images as img

    out = []
    for b, f, wi, hi, i in zip(data, fmt, w, h, ref_seed_id):
        dec = codec.decode_image(bytes(b), f)
        if dec.shape[:2] != (int(hi), int(wi)):
            raise ValueError(
                f"decoded shape {dec.shape[:2]} != metadata ({int(hi)}, {int(wi)})"
            )
        out.append(codec.psnr(img.pixels_for(int(i)), dec))
    return pd.Series(out)


def decode_mean_pixel(iterator):
    """mapInPandas feature extractor: decode → per-image mean channel values.

    The decode step uses the engine's own codecs; on a cluster with real
    image libs, only this function changes.
    """
    from ..functions import imagecodec as codec

    for pdf in iterator:
        means = np.empty((len(pdf), 3), dtype=np.float64)
        for j, (b, f) in enumerate(zip(pdf["bytes"], pdf["fmt"])):
            arr = codec.decode_image(bytes(b), f)
            means[j] = arr.reshape(-1, 3).mean(axis=0)
        yield pd.DataFrame(
            {
                "image_id": pdf["image_id"],
                "mean_r": means[:, 0],
                "mean_g": means[:, 1],
                "mean_b": means[:, 2],
            }
        )
