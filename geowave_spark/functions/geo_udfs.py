"""Arrow-batched pandas UDFs — the ONLY Python that touches data at scale.

Two families, mirroring the reference's division of labor:

* Covering keys — :func:`cover_keys` / ``_geometry_cover``: polygon/extent
  → packed (tier,cell) covering keys, the insert path of
  TieredSFCIndexStrategy.getInsertionIds (:167-206, 334-396) with the
  join's 80-cell cap (GeoWaveIndexedRDD.java:193), the >3-cell geometry
  trim (RDDUtils.trimIndexIds:158-184) and distance-join buffering
  (TieredSpatialJoin.java:142-165, GeomWithinDistance.getBufferAmount).
  Runs on the SMALL side only (polygons); the big point side never leaves
  the JVM (see sqlcells.py).
* Exact refine — the equivalent of SpatialQueryFilter.accept (:259-302)
  and of the operations GeomFunctionRegistry registers.  One table,
  :data:`PREDICATES`, holds every geometry function: its UDF, its per-pair
  kernel (``geom.*_pair``), its vectorized group kernel, its NULL result
  and, for the four canonical patterns, its DE-9IM mask.  ``cql``,
  ``spatial_join`` and ``sqlregistry`` look predicates up there.  Every
  UDF runs the one batch loop ``_per_geometry``: rows group by the
  repeated geometry, which is parsed once (``geometry_from_wkt`` interns
  it like the reference's GeometryImage, SpatialQueryFilter.java:353-367).
  The box fast paths and the joins' JVM candidate filter share one
  interval algebra, ``_box_relation``.

Antimeridian geometries arrive in UNWRAPPED coords (lon may exceed +180):
the point refines also test each point at lon + 360, the pairwise ones the
geometry's -360 image (LongitudeDefinition split-bin semantics).
"""

from __future__ import annotations

import operator
import re
from collections.abc import Callable
from functools import lru_cache
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import cells, geom, georelate


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
        # drop covering cells that miss the true geometry; for polygons
        # reaching the antimeridian also test the +360-shifted copy (a
        # geometry ending exactly at +180 keeps its seam column 0, where
        # points at lon ±180 lie)
        lon0, lat0, lon1, lat1 = cells.cell_to_bounds(cs, tier, bounds=bounds)
        keep = p.intersects_boxes(lon0, lat0, lon1, lat1)
        if bounds is None and p.bbox[2] >= 180.0:
            keep |= p.intersects_boxes(lon0 + 360.0, lat0, lon1 + 360.0, lat1)
        cs = cs[keep]
    return tier, cs


# --- the one per-geometry batch loop ----------------------------------------

def _per_geometry(
    keys: pd.Series, cols: tuple, kernel, null, skip=None, image=None, combine=None,
) -> np.ndarray:
    """The batch loop under every geometry UDF.

    Rows are grouped by ``keys``, the WKT that repeats within a batch (the
    join's broadcast side, a CQL literal): each distinct geometry is parsed
    once and ``kernel(g, *cols[rows])`` evaluates all of its rows in one
    call.  Rows with a NULL key, or flagged in ``skip`` (a NULL on the
    other side), keep ``null``: False for predicates (a null relates to
    nothing), NaN for distances (a null is never distance 0), None for
    matrices.

    World-frame seam (LongitudeDefinition split-bin semantics): when
    ``image(g, *args)`` returns the arguments for the geometry's other
    image across the antimeridian, the kernel also runs on them and
    ``combine`` (or / min / and) merges the two results."""
    codes, uniques = pd.factorize(keys)
    if skip is not None:
        codes = np.where(skip, -1, codes)
    order = np.argsort(codes, kind="stable")
    starts = np.searchsorted(codes[order], np.arange(len(uniques) + 1))
    out = np.full(len(keys), null)
    for u, w in enumerate(uniques):
        idx = order[starts[u]:starts[u + 1]]
        if not idx.size:
            continue
        args = (geom.geometry_from_wkt(w), *(c[idx] for c in cols))
        v = kernel(*args)
        other = None if image is None else image(*args)
        if other is not None:
            v = combine(v, kernel(*other))
        out[idx] = v
    return out


def _unwrapped(g) -> bool:
    """An unwrapped antimeridian geometry: its bbox reaches past +180."""
    return g.bbox[2] > 180.0


def _point_wraps(g) -> bool:
    """The point refines also test lon + 360 against this geometry."""
    return _unwrapped(g) or g.is_box()


def _right_image(g, *lefts):
    return (geom.translate_lon(g, -360.0), *lefts) if _unwrapped(g) else None


def _udf(name: str, fn, rtype):
    """``fn`` as a pandas UDF named ``name``, the name plans show."""
    fn.__name__ = fn.__qualname__ = name
    return F.pandas_udf(fn, rtype)


def _point_udf(name: str, kernel, null, combine=None, wrap=None):
    """(wkt, lon, lat) UDF: ``kernel(g, lon, lat)`` per distinct geometry.
    When ``wrap(g)`` holds, each point's lon + 360 copy is tested too."""

    def image(g, x, y):
        return (g, x + 360.0, y) if wrap is not None and wrap(g) else None

    def st(wkts: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
        cols = (lon.to_numpy(dtype=np.float64), lat.to_numpy(dtype=np.float64))
        return pd.Series(_per_geometry(wkts, cols, kernel, null, image=image, combine=combine))

    return _udf(name, st, T.BooleanType() if null is False else T.DoubleType())


def _parsed(kernel):
    """Kernel over left WKTs from a kernel over their parsed geometries."""
    return lambda gb, left, *rest: kernel(gb, [geom.geometry_from_wkt(w) for w in left], *rest)


def _pairwise_udf(name: str, group, null, combine):
    """(wkt_a, wkt_b) UDF: ``group(b, lefts)`` per distinct right geometry,
    the -360 image of an unwrapped antimeridian right merged by
    ``combine``.  A NULL on either side keeps ``null``."""
    kernel = _parsed(group)

    def st(wkt_a: pd.Series, wkt_b: pd.Series) -> pd.Series:
        return pd.Series(_per_geometry(
            wkt_b, (wkt_a.to_numpy(),), kernel, null, skip=pd.isna(wkt_a).to_numpy(),
            image=_right_image, combine=combine,
        ))

    return _udf(name, st, T.BooleanType() if null is False else T.DoubleType())


# --- one box algebra ----------------------------------------------------------

def _box_covers(a, b, strict: bool = False):
    """Box a covers box b, or, ``strict``, b lies in a's open interior.

    Boxes are (x0, y0, x1, y1) of numpy arrays, floats or Spark Columns:
    every operator used here exists on all three, so the numpy fast paths
    and the JVM candidate filter share this one interval algebra."""
    lt = operator.lt if strict else operator.le
    return lt(a[0], b[0]) & lt(a[1], b[1]) & lt(b[2], a[2]) & lt(b[3], a[3])


def _box_meets(a, b, strict: bool = False):
    """Closed boxes a and b intersect, or, ``strict``, their interiors do."""
    lt = operator.lt if strict else operator.le
    return lt(a[0], b[2]) & lt(b[0], a[2]) & lt(a[1], b[3]) & lt(b[1], a[3])


def _box_relation(name: str, a, b):
    """Predicate ``name`` of box a against box b, exact when both are
    axis-aligned boxes (the geometry IS its bbox); None when ``name`` has no
    interval form.  For any geometries, the containment family (within,
    covers, contains, equals) gives NECESSARY envelope conditions."""
    if name == "intersects":
        return _box_meets(a, b)
    if name == "touches":
        return _box_meets(a, b) & ~_box_meets(a, b, strict=True)
    if name == "overlaps":
        return _box_meets(a, b, strict=True) & ~_box_covers(a, b) & ~_box_covers(b, a)
    if name == "within":
        return _box_covers(b, a)
    if name in ("covers", "contains"):  # positive-area boxes: covers == contains
        return _box_covers(a, b)
    if name == "equals":
        return _box_covers(a, b) & _box_covers(b, a)
    return None


# --- group kernels: vectorized fast paths over one right geometry -------------

def _is_box(g) -> bool:
    return isinstance(g, geom.Polygon) and g.is_box()


# left selections: (which lefts, the (k, 4) row each contributes)
_BOXES = (_is_box, lambda g: g.bbox)
_SEGMENTS = (
    lambda g: isinstance(g, geom.LineString) and len(g.coords) == 2,
    lambda g: g.coords.ravel(),
)
_ALL = (lambda g: True, lambda g: g.bbox)


def _group(scalar, null, fast=()):
    """Group kernel (right geometry gb, left geometries) -> results.  Each
    fast path ``(when, lefts, fn)`` applies when ``when`` is None or
    ``when(gb)``, and evaluates the lefts it selects with one vectorized
    ``fn(gb, rows, geometries)``; every other left takes ``scalar``."""

    def group(gb, gs):
        out = np.full(len(gs), null)
        todo = np.ones(len(gs), dtype=bool)
        for when, (pick, row), fn in fast:
            if when is not None and not when(gb):
                continue
            sel = [i for i in np.nonzero(todo)[0] if pick(gs[i])]
            if sel:
                rows = np.array([row(gs[i]) for i in sel], dtype=np.float64)
                out[sel] = fn(gb, rows, [gs[i] for i in sel])
                todo[sel] = False
        for i in np.nonzero(todo)[0]:
            out[i] = scalar(gs[i], gb)
        return out

    return group


def _box_left_intersects(gb, A, _gs):
    """intersects_pair's decomposition, vectorized over box lefts: box
    corners in gb, gb vertices in a box, box edges touching gb."""
    x0, y0, x1, y1 = A.T
    hit = np.zeros(len(A), dtype=bool)
    if geom._has_area(gb):  # mirrors intersects_pair's area-gated check
        for cx, cy in ((x0, y0), (x1, y0), (x1, y1), (x0, y1)):
            hit |= gb.contains(cx, cy)
    v = gb.vertices()
    hit |= _box_covers(tuple(A.T[:, :, None]), (v[:, 0], v[:, 1], v[:, 0], v[:, 1])).any(axis=1)
    ring = np.stack([x0, y0, x1, y0, x1, y1, x0, y1, x0, y0], axis=1).reshape(-1, 5, 2)
    edges = np.concatenate([ring[:, :-1], ring[:, 1:]], axis=2).reshape(-1, 4)
    return hit | geom.segments_touch_rowwise(edges, gb.segments()).reshape(-1, 4).any(axis=1)


def _segment_intersects(gb, A, _gs):
    """Single-segment lefts: row-wise segment touch plus endpoint
    containment, intersects_pair's decomposition for lines."""
    hit = geom.segments_touch_rowwise(A, gb.segments())
    if geom._has_area(gb):
        hit = hit | gb.contains(A[:, 0], A[:, 1]) | gb.contains(A[:, 2], A[:, 3])
    return hit


def _segment_distance(gb, A, gs):
    d = geom.segments_dist_rowwise(A, gb.segments())
    return np.where(_segment_intersects(gb, A, gs), 0.0, d)


def _within_box(gb, A, gs):
    """Every left against a box gb: coverage is one interval test.  JTS
    within also needs interior contact: a left bbox strictly inside the
    open box implies it (and a covered positive-area left has it), so only
    boundary-touching lower-dimension lefts take the scalar interiors
    refine, a measure-zero family on real data."""
    b, lb = gb.bbox, tuple(A.T)
    fits = _box_covers(b, lb)
    for i in np.nonzero(fits & ~_box_covers(b, lb, strict=True))[0]:
        if geom._dim(gs[i]) < 2:
            fits[i] = geom.interiors_intersect_pair(gs[i], gb)
    return fits


def _box_box(name: str):
    """Box lefts against a box gb: the exact interval algebra."""
    return lambda gb, A, _gs: _box_relation(name, tuple(A.T), gb.bbox)


def _segment_crosses_box(gb, A, _gs):
    """Single-segment lefts against a box gb: a proper edge crossing or a
    strictly-inside witness (an endpoint, the midpoint, or the midpoint of
    the Liang-Barsky clip, which sees a corner-to-corner diagonal), and not
    covered by the closed box — the scalar crosses_pair(line, area)
    decomposition."""
    b = gb.bbox
    x0, y0, x1, y1 = A.T
    proper = geom.segments_proper_cross_rowwise(A, gb.segments())
    strict = geom.segment_box_clip_mid_strict(A, *b)
    for px, py in ((x0, y0), (x1, y1), ((x0 + x1) / 2.0, (y0 + y1) / 2.0)):
        strict |= _box_covers(b, (px, py, px, py), strict=True)
    seg_box = (np.minimum(x0, x1), np.minimum(y0, y1), np.maximum(x0, x1), np.maximum(y0, y1))
    return (proper | strict) & ~_box_covers(b, seg_box)


# --- DE-9IM ---------------------------------------------------------------------

_DE9IM_PATTERN_RE = re.compile(r"[TF*012]{9}", re.IGNORECASE)


@lru_cache(maxsize=4096)
def _relate_match(matrix: str, pattern: str) -> bool:
    return georelate.relate_matches(matrix, pattern)


def _relate_matrices(gb, gs) -> np.ndarray:
    """DE-9IM matrix of each left against gb.  POINT lefts against an area
    take the vectorized classifier, which also places a point in an
    unwrapped antimeridian area's -360 image (the world-frame rule of the
    named predicates); every other left is one relate_pair call in plain
    coordinates."""
    out = np.empty(len(gs), dtype=object)
    pts = [i for i, g in enumerate(gs) if isinstance(g, geom.Point)] if geom._dim(gb) == 2 else []
    if pts:
        xy = np.array([(gs[i].x, gs[i].y) for i in pts], dtype=np.float64)
        out[pts] = georelate.point_vs_area_matrices(xy, gb)
    for i, g in enumerate(gs):
        if out[i] is None:
            out[i] = georelate.relate_pair(g, gb)
    return out


def _st_relate(wkt_a: pd.Series, wkt_b: pd.Series, pattern: pd.Series) -> pd.Series:
    """Arbitrary DE-9IM mask match (JTS RelateOp / GeoTools relate parity;
    CQLQueryFilter.java accepts any 9-char pattern).  The fidelity path,
    not a join hot path: the named predicates keep their group kernels."""
    # a NULL pattern answers NULL; a malformed one fails the batch ONCE,
    # naming the pattern, before any geometry work
    pnull = pd.isna(pattern).to_numpy()
    for p in set(pattern.to_numpy()[~pnull]):
        if not _DE9IM_PATTERN_RE.fullmatch(p):
            raise ValueError(
                f"st_relate: DE-9IM pattern must be 9 characters from "
                f"T, F, *, 0, 1, 2; got {p!r}"
            )

    def kernel(gb, gs, pats):
        mats = _relate_matrices(gb, gs)
        return np.array([_relate_match(m, p) for m, p in zip(mats, pats)], dtype=bool)

    got = _per_geometry(
        wkt_b, (wkt_a.to_numpy(), pattern.to_numpy()), _parsed(kernel), False,
        skip=pd.isna(wkt_a).to_numpy() | pnull,
    )
    return pd.Series(got).astype(object).where(~pnull, None)


def _st_relate_matrix(wkt_a: pd.Series, wkt_b: pd.Series) -> pd.Series:
    """The 9-char DE-9IM matrix itself (JTS Geometry.relate(g) analog)."""
    return pd.Series(_per_geometry(
        wkt_b, (wkt_a.to_numpy(),), _parsed(_relate_matrices), None,
        skip=pd.isna(wkt_a).to_numpy(),
    ))


# --- the predicate table ---------------------------------------------------------

class _Pred(NamedTuple):
    """One geometry function: SQL registers ``udf`` as ``st_<name>``."""

    name: str
    udf: Callable
    scalar: Callable | None = None  # per-pair kernel (left, right) -> value
    group: Callable | None = None  # (right geometry, left geometries) -> array
    null: object = False  # the result for a NULL geometry
    mask: str | None = None  # the DE-9IM pattern this predicate IS


def _pred(name: str, scalar, *fast, null=False, combine=np.logical_or, mask=None, group=None):
    """The row of the pairwise predicate ``name`` and its UDF
    ``st_<name>_wkt``; its group kernel is ``group``, or else ``fast``
    paths over ``scalar``."""
    group = group or _group(scalar, null, fast)
    return _Pred(
        name, _pairwise_udf(f"st_{name}_wkt", group, null, combine), scalar, group, null, mask
    )


_intersects = _group(
    geom.intersects_pair, False,
    [(None, _BOXES, _box_left_intersects), (None, _SEGMENTS, _segment_intersects)],
)


def _contains_pt(p, x, y):
    return p.contains(x, y)


def _distance_pt(p, x, y):
    return p.distance(x, y)


# The exact refine family: SpatialQueryFilter.accept (:259-302) plus the
# operations GeomFunctionRegistry registers (:26-42).  cql, spatial_join
# and sqlregistry look predicates up here.
PREDICATES: dict[str, _Pred] = {p.name: p for p in (
    # JTS-intersects (GeomIntersects.java:21), boundary inclusive
    _pred("intersects", geom.intersects_pair, group=_intersects),
    # planar JTS-distance (GeomDistance.java:14-23)
    _pred("distance", geom.distance_pair, (None, _SEGMENTS, _segment_distance),
          null=np.nan, combine=np.minimum),
    # JTS-strict within: covered by, with interior contact
    _pred("within", geom.within_pair, (_is_box, _ALL, _within_box), mask="T*F**F***"),
    # boundary-inclusive covers (GeomCovers)
    _pred("covers", geom.covers_pair, (None, _BOXES, _box_box("covers"))),
    # covers with interior contact (GeomContains)
    _pred("contains", geom.contains_pair, (_is_box, _BOXES, _box_box("contains")),
          mask="T*****FF*"),
    # boundary contact only (GeomTouches)
    _pred("touches", geom.touches_pair, (_is_box, _BOXES, _box_box("touches"))),
    # interiors meet in a lower-dimension set (GeomCrosses)
    _pred("crosses", geom.crosses_pair, (_is_box, _SEGMENTS, _segment_crosses_box)),
    # same-dimension interior overlap, neither covering the other
    _pred("overlaps", geom.overlaps_pair, (_is_box, _BOXES, _box_box("overlaps"))),
    # topological equality (GeomEquals)
    _pred("equals", geom.equals_pair, mask="T*F**FFF*"),
    # NOT intersects (GeomDisjoint): as a join, the anti-join output.  Both
    # seam images must be disjoint, and a NULL stays False: a null must not
    # read as disjoint from everything through the negation
    _pred("disjoint", geom.disjoint_pair, group=lambda gb, gs: ~_intersects(gb, gs),
          combine=np.logical_and, mask="FF*FF****"),
    # any DE-9IM mask; NULL for a NULL pattern
    _Pred("relate", _udf("st_relate_wkt", _st_relate, T.BooleanType())),
    _Pred("relate_matrix", _udf("st_relate_matrix_wkt", _st_relate_matrix, T.StringType()),
          georelate.relate_pair, _relate_matrices, None),
    # point × geometry, the point join's refine: an unwrapped antimeridian
    # geometry, and every box, also meets each point's lon + 360 copy — the
    # rule of the broadcast join's JVM box refine and of both DuckDB
    # oracles (a point at lon -180 lies in a box ending at 180; a point at
    # lon -179.8 is within 0.5 of a box ending at 179.99)
    _Pred("contains_point", _point_udf(
        "st_contains_point", _contains_pt, False, np.logical_or, _point_wraps)),
    _Pred("distance_point", _point_udf(
        "st_distance_point", _distance_pt, np.nan, np.minimum, _point_wraps), null=np.nan),
)}

st_intersects_wkt = PREDICATES["intersects"].udf
st_distance_wkt = PREDICATES["distance"].udf
st_within_wkt = PREDICATES["within"].udf
st_covers_wkt = PREDICATES["covers"].udf
st_contains_wkt = PREDICATES["contains"].udf
st_touches_wkt = PREDICATES["touches"].udf
st_crosses_wkt = PREDICATES["crosses"].udf
st_overlaps_wkt = PREDICATES["overlaps"].udf
st_equals_wkt = PREDICATES["equals"].udf
st_disjoint_wkt = PREDICATES["disjoint"].udf
st_relate_wkt = PREDICATES["relate"].udf
st_relate_matrix_wkt = PREDICATES["relate_matrix"].udf
st_contains_point = PREDICATES["contains_point"].udf
st_distance_point = PREDICATES["distance_point"].udf
# no-wrap twins for custom-bounds (projected CRS) frames, where the
# bbox x1 > 180 test would misread metre coordinates as unwrapped
# antimeridian geometry
st_contains_point_nowrap = _point_udf("st_contains_point_nowrap", _contains_pt, False)
st_distance_point_nowrap = _point_udf("st_distance_point_nowrap", _distance_pt, np.nan)


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
