"""General DE-9IM matrix evaluator (georelate.py) — r4 verdict ask #4.

Three layers:
* known-answer matrices (JTS-standard results for the textbook contacts);
* the pattern-matrix consistency family: on contact-heavy random pairs the
  OGC mask definitions evaluated over relate_pair must agree with every
  named predicate the kernel already certifies (touches / crosses /
  overlaps / within / contains / covers / equals / intersects / disjoint);
* structural identities (transpose symmetry, EE always 2, mask semantics).
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geowave_spark import geom, georelate
from tests.test_geom_differential import _rand_geom

W = geom.geometry_from_wkt
R = georelate.relate_wkt


KNOWN = [
    # (a, b, expected JTS matrix)
    ("POINT (1 1)", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", "0FFFFF212"),
    ("POINT (2 1)", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", "F0FFFF212"),
    ("POINT (5 5)", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", "FF0FFF212"),
    ("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",
     "POLYGON ((2 0, 3 0, 3 2, 2 2, 2 0))", "FF2F11212"),
    ("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
     "POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))", "212FF1FF2"),
    ("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",
     "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", "2FFF1FFF2"),
    ("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",
     "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))", "212101212"),
    ("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", "LINESTRING (-1 1, 3 1)",
     "1F20F1102"),
    ("LINESTRING (0 0, 4 0)", "LINESTRING (2 -1, 2 1)", "0F1FF0102"),
    ("LINESTRING (0 0, 4 0)", "LINESTRING (1 0, 3 0)", "101FF0FF2"),
    ("LINESTRING (0 0, 4 0)", "LINESTRING (4 0, 5 1)", "FF1F00102"),
    ("POINT (1 1)", "POINT (1 1)", "0FFFFFFF2"),
    ("POINT (1 1)", "POINT (2 2)", "FF0FFF0F2"),
]


@pytest.mark.parametrize("wa,wb,want", KNOWN, ids=[f"k{i}" for i in range(len(KNOWN))])
def test_known_matrices(wa, wb, want):
    assert R(wa, wb) == want


def test_transpose_symmetry_and_ee():
    rng = np.random.RandomState(7)
    for _ in range(150):
        wa, wb = _rand_geom(rng), _rand_geom(rng)
        ma = R(wa, wb)
        mb = R(wb, wa)
        # relate(b, a) is the transpose of relate(a, b)
        t = "".join(ma[3 * j + i] for i in range(3) for j in range(3))
        assert mb == t, (wa, wb, ma, mb)
        assert ma[8] == "2"


def _mask_any(m, *patterns):
    return any(georelate.relate_matches(m, p) for p in patterns)


def _ogc_preds_from_matrix(m, da, db):
    """Named predicates per the OGC SFS mask definitions over a matrix."""
    intersects = _mask_any(m, "T********", "*T*******", "***T*****", "****T****")
    out = {
        "intersects": intersects,
        "disjoint": not intersects,
        "within": georelate.relate_matches(m, "T*F**F***"),
        "contains": georelate.relate_matches(m, "T*****FF*"),
        "covers": _mask_any(m, "T*****FF*", "*T****FF*", "***T**FF*", "****T*FF*"),
        "equals": georelate.relate_matches(m, "T*F**FFF*"),
        "touches": m[0] == "F" and intersects,
    }
    if da < db:
        out["crosses"] = georelate.relate_matches(m, "T*T******")
    elif da > db:
        out["crosses"] = georelate.relate_matches(m, "T*****T**")
    elif da == 1:
        out["crosses"] = georelate.relate_matches(m, "0********")
    else:
        out["crosses"] = False
    if da == db and da in (0, 2):
        out["overlaps"] = georelate.relate_matches(m, "T*T***T**")
    elif da == db == 1:
        out["overlaps"] = georelate.relate_matches(m, "1*T***T**")
    else:
        out["overlaps"] = False
    return out


NAMED = {
    "intersects": geom.intersects_pair,
    "disjoint": geom.disjoint_pair,
    "within": geom.within_pair,
    "contains": geom.contains_pair,
    "covers": geom.covers_pair,
    "equals": geom.equals_pair,
    "touches": geom.touches_pair,
    "crosses": geom.crosses_pair,
    "overlaps": geom.overlaps_pair,
}


@pytest.mark.parametrize("seed", range(8))
def test_matrix_consistent_with_named_predicates(seed):
    rng = np.random.RandomState(1000 + seed)
    for _ in range(60):
        wa, wb = _rand_geom(rng), _rand_geom(rng)
        ga, gb = W(wa), W(wb)
        m = georelate.relate_pair(ga, gb)
        da, db = georelate._homo_dim(ga), georelate._homo_dim(gb)
        want = _ogc_preds_from_matrix(m, da, db)
        for name, fn in NAMED.items():
            assert fn(ga, gb) == want[name], (name, wa, wb, m)


def test_relate_matches_semantics():
    assert georelate.relate_matches("212101212", "T*T***T**")
    assert not georelate.relate_matches("FF2F11212", "T********")
    assert georelate.relate_matches("FF2F11212", "F***T****")
    assert not georelate.relate_matches("FF2F11212", "FT*******")
    assert georelate.relate_matches("0FFFFF212", "0********")
    assert not georelate.relate_matches("1F20F1102", "0********")
    with pytest.raises(ValueError):
        georelate.relate_matches("212", "T*T***T**")


def test_mixed_dimension_collection_raises():
    class Mixed:  # duck-typed stand-in: geom has no mixed constructor
        pass

    mg = geom.MultiGeometry([W("POINT (0 0)"), W("LINESTRING (0 0, 1 1)")])
    with pytest.raises(ValueError, match="mixed-dimension"):
        georelate.relate_pair(mg, W("POINT (0 0)"))


def test_spark_relate_udf(spark):
    from pyspark.sql import functions as F

    from geowave_spark.functions import geo_udfs

    rows = [("a", "POINT (1 1)"), ("b", "POINT (2 1)"), ("c", "POINT (5 5)")]
    df = spark.createDataFrame(rows, "id string, wkt string")
    poly = "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"
    got = {
        r["id"]: (r["m"], r["inside"])
        for r in df.select(
            "id",
            geo_udfs.st_relate_matrix_wkt(F.col("wkt"), F.lit(poly)).alias("m"),
            geo_udfs.st_relate_wkt(F.col("wkt"), F.lit(poly), F.lit("T********")).alias("inside"),
        ).collect()
    }
    assert got == {
        "a": ("0FFFFF212", True),
        "b": ("F0FFFF212", False),
        "c": ("FF0FFF212", False),
    }


def test_cql_general_relate(spark):
    from pyspark.sql import functions as F

    from geowave_spark.functions import cql

    rows = [(1, 1.0, 1.0), (2, 2.0, 1.0), (3, 5.0, 5.0)]
    df = spark.createDataFrame(rows, "id int, lon double, lat double")
    # interior-contact mask — NOT one of the canonical four, so this takes
    # the general evaluator path
    got = sorted(
        r["id"]
        for r in cql.cql_filter(
            df,
            "RELATE(geom, POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)), 'T********')",
            geometry=("lon", "lat"),
        ).collect()
    )
    assert got == [1]
    with pytest.raises(cql.CQLError):
        cql.cql_filter(
            df, "RELATE(geom, POINT (0 0), 'TT*')", geometry=("lon", "lat")
        )


def test_point_vs_area_fast_path_matches_scalar():
    """The vectorized point×area matrix classifier must agree with
    relate_pair on interior / exact-boundary / exterior points."""
    rng = np.random.RandomState(77)
    gb = W("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))")
    pts = rng.uniform(-1, 5, size=(300, 2))
    # plant exact-boundary and hole-edge contacts
    pts = np.vstack([pts, [[0.0, 2.0], [4.0, 4.0], [1.0, 1.5], [1.5, 1.5], [2.0, 2.0]]])
    mats = georelate.point_vs_area_matrices(pts, gb)
    for (x, y), m in zip(pts, mats):
        assert m == georelate.relate_pair(geom.Point(x, y), gb), (x, y)


def test_st_relate_udf_fast_path_consistency(spark):
    from pyspark.sql import functions as F

    from geowave_spark.functions import geo_udfs

    rng = np.random.RandomState(3)
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(rng.uniform(-1, 5, (200, 2)))]
    rows += [(900, 0.0, 2.0), (901, 4.0, 4.0), (902, 1.5, 1.5)]
    df = spark.createDataFrame(rows, "id int, lon double, lat double")
    poly = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))"
    wkt = F.concat(F.lit("POINT ("), F.col("lon").cast("string"), F.lit(" "),
                   F.col("lat").cast("string"), F.lit(")"))
    for pattern in ("T********", "*T*******", "FF*FF****", "0FFFFF212"):
        got = {
            r["id"]: r["m"]
            for r in df.select(
                "id", geo_udfs.st_relate_wkt(wkt, F.lit(poly), F.lit(pattern)).alias("m")
            ).collect()
        }
        for i, x, y in rows:
            want = georelate.relate_matches(
                georelate.relate_pair(geom.Point(x, y), W(poly)), pattern
            )
            assert got[i] == want, (i, x, y, pattern)


def test_transversal_crossing_at_segment_midpoint():
    """r5 review fix: a boundary crossing landing exactly at a line
    segment's own midpoint must stay a 0-dim contact (cell BI='0'), not
    be promoted to a collinear run ('1') by the plain-midpoint witness."""
    assert R("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",
             "LINESTRING (1 -1, 1 1)") == "1020F1102"
    # the grid-aligned family: crossings at t=0.5 in both axes
    assert R("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",
             "LINESTRING (-1 1, 1 1)") == "1020F1102"
    # an ACTUAL collinear run must still report '1' at BI
    assert R("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",
             "LINESTRING (0.5 0, 1.5 0)")[3] == "1"


def _box_matrix_oracle(a, b):
    """Closed-form DE-9IM matrix for two non-degenerate axis-aligned boxes
    — independent interval algebra, no kernel code, every cell derived
    from first principles (the one geometry class where full-matrix
    ground truth is computable another way)."""
    ax0, ay0, ax1, ay1 = a
    bx0, by0, bx1, by1 = b
    wx = min(ax1, bx1) - max(ax0, bx0)
    wy = min(ay1, by1) - max(ay0, by0)
    a_in_cb = bx0 <= ax0 and ax1 <= bx1 and by0 <= ay0 and ay1 <= by1
    b_in_ca = ax0 <= bx0 and bx1 <= ax1 and ay0 <= by0 and by1 <= ay1
    a_in_ob = bx0 < ax0 and ax1 < bx1 and by0 < ay0 and ay1 < by1
    b_in_oa = ax0 < bx0 and bx1 < ax1 and ay0 < by0 and by1 < ay1

    def edge_hits_interior(v_lines, v_lo, v_hi, o_lo, o_hi, e_lo, e_hi):
        # does a perpendicular-line edge at any v in v_lines pass through
        # the open interior (v_lo, v_hi) x (o_lo, o_hi) given the edge
        # spans [e_lo, e_hi]?
        return any(
            v_lo < v < v_hi and e_hi > o_lo and e_lo < o_hi for v in v_lines
        )

    ib = (
        edge_hits_interior((bx0, bx1), ax0, ax1, ay0, ay1, by0, by1)
        or edge_hits_interior((by0, by1), ay0, ay1, ax0, ax1, bx0, bx1)
    )
    bi = (
        edge_hits_interior((ax0, ax1), bx0, bx1, by0, by1, ay0, ay1)
        or edge_hits_interior((ay0, ay1), by0, by1, bx0, bx1, ax0, ax1)
    )
    shared_line = (
        (ax0 in (bx0, bx1) or ax1 in (bx0, bx1)) and min(ay1, by1) > max(ay0, by0)
    ) or (
        (ay0 in (by0, by1) or ay1 in (by0, by1)) and min(ax1, bx1) > max(ax0, bx0)
    )
    if shared_line:
        bb = "1"
    elif wx >= 0 and wy >= 0 and not a_in_ob and not b_in_oa:
        bb = "0"
    else:
        bb = "F"
    return "".join([
        "2" if wx > 0 and wy > 0 else "F",
        "1" if ib else "F",
        "F" if a_in_cb else "2",
        "1" if bi else "F",
        bb,
        "F" if a_in_cb else "1",
        "F" if b_in_ca else "2",
        "F" if b_in_ca else "1",
        "2",
    ])


@pytest.mark.parametrize("seed", range(6))
def test_box_matrix_vs_closed_form(seed):
    """All NINE matrix cells pinned independently on contact-heavy random
    box pairs (half-integer grid: shared edges/corners, nesting, equality
    and crossings all occur)."""
    rng = np.random.RandomState(500 + seed)

    def rbox():
        x0 = rng.randint(-8, 5) / 2.0
        y0 = rng.randint(-8, 5) / 2.0
        return (x0, y0, x0 + rng.randint(1, 6) / 2.0, y0 + rng.randint(1, 6) / 2.0)

    def wkt(b):
        x0, y0, x1, y1 = b
        return f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))"

    for _ in range(250):
        a, b = rbox(), rbox()
        assert R(wkt(a), wkt(b)) == _box_matrix_oracle(a, b), (a, b)


def _seg_box_matrix_oracle(seg, box):
    """Closed-form DE-9IM matrix for an axis-aligned 2-point segment vs a
    non-degenerate box — independent interval algebra for the LINE×AREA
    family (the family of the r5 midpoint-on-crossing fix)."""
    (p0, p1), (bx0, by0, bx1, by1) = seg, box
    horiz = p0[1] == p1[1]
    if horiz:
        c = p0[1]; s0, s1 = sorted((p0[0], p1[0]))
        plo, phi, blo, bhi = by0, by1, bx0, bx1   # perp range, along range
    else:
        c = p0[0]; s0, s1 = sorted((p0[1], p1[1]))
        plo, phi, blo, bhi = bx0, bx1, by0, by1
    along_open = min(s1, bhi) - max(s0, blo)      # open-overlap width
    ii = plo < c < phi and along_open > 0
    collinear = (c == plo or c == phi) and along_open > 0
    cross0 = any(s0 < v < s1 for v in (blo, bhi)) and plo <= c <= phi
    corner0 = (
        (c == plo or c == phi)
        and min(s1, bhi) == max(s0, blo)
        and s0 < min(s1, bhi) < s1
    )
    ib = "1" if collinear else ("0" if (plo <= c <= phi and (cross0 or corner0)) else "F")
    contained = plo <= c <= phi and blo <= s0 and s1 <= bhi
    ends = [p0, p1]

    def cls(pt):
        x, y = pt
        if bx0 < x < bx1 and by0 < y < by1:
            return "I"
        if bx0 <= x <= bx1 and by0 <= y <= by1:
            return "B"
        return "E"

    e = [cls(p) for p in ends]
    return "".join([
        "1" if ii else "F",
        ib,
        "F" if contained else "1",
        "0" if "I" in e else "F",
        "0" if "B" in e else "F",
        "0" if "E" in e else "F",
        "2",
        "1",
        "2",
    ])


@pytest.mark.parametrize("seed", range(6))
def test_segment_box_matrix_vs_closed_form(seed):
    """LINE×AREA matrix cells pinned independently: axis-aligned segments
    against boxes on the half-integer grid (collinear runs on edges,
    midpoint crossings, corner grazes, containment, endpoint contacts)."""
    rng = np.random.RandomState(900 + seed)
    for _ in range(250):
        bx0 = rng.randint(-8, 5) / 2.0
        by0 = rng.randint(-8, 5) / 2.0
        box = (bx0, by0, bx0 + rng.randint(1, 6) / 2.0, by0 + rng.randint(1, 6) / 2.0)
        if rng.randint(2):  # horizontal
            y = rng.randint(-8, 9) / 2.0
            x0 = rng.randint(-8, 5) / 2.0
            seg = ((x0, y), (x0 + rng.randint(1, 6) / 2.0, y))
        else:
            x = rng.randint(-8, 9) / 2.0
            y0 = rng.randint(-8, 5) / 2.0
            seg = ((x, y0), (x, y0 + rng.randint(1, 6) / 2.0))
        sw = f"LINESTRING ({seg[0][0]} {seg[0][1]}, {seg[1][0]} {seg[1][1]})"
        x0b, y0b, x1b, y1b = box
        bw = f"POLYGON (({x0b} {y0b}, {x1b} {y0b}, {x1b} {y1b}, {x0b} {y1b}, {x0b} {y0b}))"
        want = _seg_box_matrix_oracle(seg, box)
        got = R(sw, bw)
        assert got == want, (seg, box, got, want)


def test_matrix_translation_and_scale_invariance():
    """Metamorphic: the DE-9IM matrix is invariant under shared integer
    translation and positive scaling of both geometries."""
    rng = np.random.RandomState(4242)
    import re as _re

    def transform(w, dx, dy, s):
        def rep(m):
            return f"{float(m.group(1)) * s + dx:g} {float(m.group(2)) * s + dy:g}"
        return _re.sub(r"(-?[\d.]+)\s+(-?[\d.]+)", rep, w)

    for _ in range(120):
        wa, wb = _rand_geom(rng), _rand_geom(rng)
        base = R(wa, wb)
        dx, dy = float(rng.randint(-40, 40)), float(rng.randint(-40, 40))
        s = float(rng.choice([1.0, 2.0, 4.0]))
        assert R(transform(wa, dx, dy, s), transform(wb, dx, dy, s)) == base, (wa, wb, dx, dy, s)


def _seg_seg_matrix_oracle(A, B):
    """Closed-form DE-9IM for two axis-aligned 2-point segments — the
    LINE×LINE family from pure 1-D interval algebra + point classification."""
    def norm(s):
        (x0, y0), (x1, y1) = s
        if y0 == y1:
            return ("h", y0, min(x0, x1), max(x0, x1))
        return ("v", x0, min(y0, y1), max(y0, y1))

    (oa, ca, s0, s1), (ob, cb, t0, t1) = norm(A), norm(B)
    M = {c: "F" for c in ("II", "IB", "IE", "BI", "BB", "BE", "EI", "EB", "EE")}
    M["EE"] = "2"
    if oa == ob:
        if ca != cb:  # parallel, different lines
            M.update(IE="1", BE="0", EI="1", EB="0")
        else:  # collinear: interval algebra
            ov = min(s1, t1) - max(s0, t0)
            M["II"] = "1" if ov > 0 else "F"
            M["IB"] = "0" if any(s0 < t < s1 for t in (t0, t1)) else "F"
            M["IE"] = "F" if (t0 <= s0 and s1 <= t1) else "1"
            M["BI"] = "0" if any(t0 < s < t1 for s in (s0, s1)) else "F"
            M["BB"] = "0" if {s0, s1} & {t0, t1} else "F"
            M["BE"] = "0" if any(not (t0 <= s <= t1) for s in (s0, s1)) else "F"
            M["EI"] = "F" if (s0 <= t0 and t1 <= s1) else "1"
            M["EB"] = "0" if any(not (s0 <= t <= s1) for t in (t0, t1)) else "F"
    else:  # perpendicular: at most one shared point P = (cb, ca) axes-wise
        M.update(IE="1", EI="1", BE="0", EB="0")
        if s0 <= cb <= s1 and t0 <= ca <= t1:
            a_cls = "I" if s0 < cb < s1 else "B"
            b_cls = "I" if t0 < ca < t1 else "B"
            M[a_cls + b_cls] = "0"
    return "".join(M[c] for c in ("II", "IB", "IE", "BI", "BB", "BE", "EI", "EB", "EE"))


@pytest.mark.parametrize("seed", range(6))
def test_segment_segment_matrix_vs_closed_form(seed):
    """LINE×LINE matrix cells pinned independently: axis-aligned segment
    pairs on the half-integer grid (collinear overlaps, endpoint meets,
    T-junctions, proper crossings, containment, parallel offsets)."""
    rng = np.random.RandomState(1300 + seed)

    def rseg():
        if rng.randint(2):
            y = rng.randint(-6, 7) / 2.0
            x0 = rng.randint(-6, 4) / 2.0
            return ((x0, y), (x0 + rng.randint(1, 5) / 2.0, y))
        x = rng.randint(-6, 7) / 2.0
        y0 = rng.randint(-6, 4) / 2.0
        return ((x, y0), (x, y0 + rng.randint(1, 5) / 2.0))

    def wkt(s):
        return f"LINESTRING ({s[0][0]} {s[0][1]}, {s[1][0]} {s[1][1]})"

    for _ in range(300):
        A, B = rseg(), rseg()
        want = _seg_seg_matrix_oracle(A, B)
        got = R(wkt(A), wkt(B))
        assert got == want, (A, B, got, want)


def test_relate_point_seam_image_matches_named_predicates():
    """A POINT against an unwrapped antimeridian area (bbox x1 > 180) is
    classified against whichever image holds it — the rule of the named
    predicates — so RELATE with a canonical mask (routed to within) and a
    general mask agree on the same pair."""
    import pandas as pd

    from geowave_spark.functions import geo_udfs

    poly = "POLYGON ((170 0, 190 0, 190 10, 170 10, 170 0))"
    a = pd.Series(["POINT (-175 5)", "POINT (175 5)", "POINT (-170 5)", "POINT (0 5)"])
    b = pd.Series([poly] * len(a))
    mats = geo_udfs.st_relate_matrix_wkt.func(a, b).tolist()
    assert mats == ["0FFFFF212", "0FFFFF212", "F0FFFF212", "FF0FFF212"]
    within = geo_udfs.st_within_wkt.func(a, b).tolist()
    for pattern in ("T*F**F***", "T*F**F**2"):
        got = geo_udfs.st_relate_wkt.func(a, b, pd.Series([pattern] * len(a))).tolist()
        assert got == within == [True, True, False, False], pattern
    assert georelate.point_vs_area_matrices(np.array([[-175.0, 5.0]]), W(poly)).tolist() == ["0FFFFF212"]
