"""The SQL-text plan builders of the joins and the tiling.

* bit identity: the keys, tiers and tile coordinates the SQL text computes
  equal their numpy twins (cells.norm_lon / norm_lat / norm_lon_upper /
  grid_coord / interleave / pack_key, tiling.tile_assignment_oracle_numpy)
  on random and edge inputs — seam, pole, exact ±180, zero-span and
  world-span envelopes — over the world frame and a custom ``bounds``;
* build cost: building a join's plan crosses the driver→JVM boundary a
  bounded number of times (py4j commands), whatever its operator count.
"""

from __future__ import annotations

import gc
import math
import threading

import numpy as np
import pytest

from geowave_spark import cells
from geowave_spark.operators import spatial_join as sj
from geowave_spark.operators import tiling

B = (0.0, 0.0, 1_000_000.0, 2_000_000.0)  # projected frame, metres
PARTNER_TIERS = [0, 3, 9, 17]

WORLD_EDGES = [
    (170.0, 0.0, 190.0, 10.0),  # crosses +180 (unwrapped)
    (175.0, -5.0, 180.0, 5.0),  # ends exactly at +180
    (-180.0, 0.0, -170.0, 10.0),  # starts exactly at -180
    (179.5, 1.0, 180.5, 2.0),
    (10.0, 80.0, 20.0, 90.0),  # touches the north pole
    (-30.0, -90.0, -20.0, -85.0),  # touches the south pole
    (12.5, 7.25, 12.5, 7.25),  # zero span
    (180.0, 0.0, 180.0, 0.0),
    (-180.0, -90.0, -180.0, -90.0),
    (-180.0, -90.0, 180.0, 90.0),  # world span
]
BOUNDS_EDGES = [
    (0.0, 0.0, 0.0, 0.0),
    (1_000_000.0, 2_000_000.0, 1_000_000.0, 2_000_000.0),
    (0.0, 0.0, 1_000_000.0, 2_000_000.0),  # the whole frame
    (-5_000.0, 10.0, 3_000.0, 70_000.0),  # past the lower edge
    (999_000.0, 1_999_000.0, 1_000_500.0, 2_000_100.0),  # past the upper edge
]


def _extents(rng, n, bounds=None):
    if bounds is None:
        lo, span = np.array([-180.0, -90.0]), np.array([360.0, 180.0])
        edges = WORLD_EDGES
    else:
        lo, span = np.array(B[:2]), np.array([B[2] - B[0], B[3] - B[1]])
        edges = BOUNDS_EDGES
    c = lo + rng.random((n, 2)) * span
    half = span * 10.0 ** rng.uniform(-7, -0.5, (n, 1)) / 2
    rows = [tuple(map(float, (*(c[i] - half[i]), *(c[i] + half[i])))) for i in range(n)]
    return [(i, *r) for i, r in enumerate(edges + rows)]


def _np_extent_keys(extents, partner, bounds=None):
    """(id → own tier, sorted (id, key) rows) — the numpy twin of
    spatial_join._extent_multitier_keys."""
    wx = 360.0 if bounds is None else float(bounds[2] - bounds[0])
    wy = 180.0 if bounds is None else float(bounds[3] - bounds[1])
    own, rows = {}, []
    for i, x0, y0, x1, y1 in extents:
        span = max((x1 - x0) / wx, (y1 - y0) / wy, 0.0)
        te = cells.MAX_TIER
        if span > 0.0:  # Spark's log2 is log(x) / log(2)
            te = min(max(math.floor(-(math.log(span) / math.log(2.0))), 0), cells.MAX_TIER)
        own[i] = te
        for t in sorted({p for p in partner if p < te} | {te}):
            gx0 = cells.grid_coord(cells.norm_lon_upper(x0, bounds), t)
            gy0 = cells.grid_coord(cells.norm_lat(y0, bounds), t)
            gx1 = max(cells.grid_coord(cells.norm_lon_upper(x1, bounds), t), gx0)
            gy1 = max(cells.grid_coord(cells.norm_lat(y1, bounds), t), gy0)
            gx, gy = np.meshgrid(np.arange(gx0, gx1 + 1), np.arange(gy0, gy1 + 1))
            keys = cells.pack_key(t, cells.interleave(gx.ravel(), gy.ravel()))
            rows.extend((i, int(k)) for k in keys)
    return own, sorted(rows)


@pytest.mark.parametrize("bounds", [None, B], ids=["world", "bounds"])
def test_extent_keys_match_numpy_twin(spark, bounds):
    ext = _extents(np.random.default_rng(7), 150, bounds)
    df = spark.createDataFrame(ext, "id long, _lx0 double, _ly0 double, _lx1 double, _ly1 double")
    got = sj._extent_multitier_keys(df, "id", "_l", PARTNER_TIERS, bounds=bounds)
    got = got.select("id", "_lte", "key").collect()
    own, rows = _np_extent_keys(ext, PARTNER_TIERS, bounds)
    assert {r["id"]: r["_lte"] for r in got} == own
    assert sorted((r["id"], r["key"]) for r in got) == rows


def _points(rng, n, bounds=None):
    if bounds is None:
        edges = [(180.0, 0.0), (-180.0, 0.0), (179.999999, 89.999), (0.0, 90.0),
                 (0.0, -90.0), (-180.0, -90.0), (180.0, 90.0), (190.0, 5.0), (-0.0, 0.0)]
        lon, lat = rng.uniform(-180, 180, n), rng.uniform(-90, 90, n)
    else:
        edges = [(0.0, 0.0), (1_000_000.0, 2_000_000.0), (-10.0, 5.0), (2e6, 3e6)]
        lon, lat = rng.uniform(B[0], B[2], n), rng.uniform(B[1], B[3], n)
    pts = edges + list(zip(lon.tolist(), lat.tolist()))
    return [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)]


@pytest.mark.parametrize("bounds", [None, B], ids=["world", "bounds"])
def test_point_keys_match_numpy_twin(spark, bounds):
    pts = _points(np.random.default_rng(11), 300, bounds)
    df = spark.createDataFrame(pts, "image_id long, lon double, lat double")
    tiers = [0, 5, 13, 31]
    keyed = sj.add_point_cols(df, phash_col=None, bounds=bounds)
    got = sorted(tuple(r) for r in sj._point_keys(keyed, tiers, "image_id").collect())
    lon, lat = np.array([p[1] for p in pts]), np.array([p[2] for p in pts])
    cell = cells.latlon_to_cell(lon, lat, cells.MAX_TIER, bounds=bounds)
    want = sorted(
        (p[0], int(k))
        for t in tiers
        for p, k in zip(pts, cells.pack_key(t, cells.cell_at_tier(cell, cells.MAX_TIER, t)))
    )
    assert got == want


def test_tile_coords_match_numpy_twin(spark):
    pts = _points(np.random.default_rng(13), 300)
    df = spark.createDataFrame(pts, "image_id long, lon double, lat double")
    levels = [0, 4, 9]
    got = sorted(tuple(r) for r in tiling.assign_tiles(df, levels).collect())
    lon, lat = np.array([p[1] for p in pts]), np.array([p[2] for p in pts])
    want = []
    for lvl in levels:
        tx, ty = tiling.tile_assignment_oracle_numpy(lon, lat, lvl)
        want += [(p[0], lvl, int(x), int(y)) for p, x, y in zip(pts, tx, ty)]
    assert got == sorted(want)


def test_struct_field_column_names_resolve_as_fields(spark):
    """A dotted bbox column name names a struct field, as ``F.col`` reads
    it, and a backticked one a top-level column whose name holds a dot."""
    ext = _extents(np.random.default_rng(17), 40)
    flat = spark.createDataFrame(ext, "left_id long, x0 double, y0 double, x1 double, y1 double")
    nested = flat.selectExpr("left_id", "struct(x0, y0, x1, y1) AS bb")
    dotted = flat.toDF("left_id", "b.x0", "b.y0", "b.x1", "b.y1")
    right = flat.withColumnRenamed("left_id", "right_id")
    want = sorted(map(tuple, sj.tiered_extent_join_shuffle(flat, right).collect()))
    for df, names in ((nested, ("bb.x0", "bb.y0", "bb.x1", "bb.y1")),
                      (dotted, ("`b.x0`", "`b.y0`", "`b.x1`", "`b.y1`"))):
        got = sj.tiered_extent_join_shuffle(df, right, lcols=names)
        assert sorted(map(tuple, got.collect())) == want


# --- build cost ----------------------------------------------------------------


@pytest.fixture()
def py4j_calls(spark):
    """Counts the py4j commands the test's thread sends while the test
    runs (other threads, such as a streaming query's foreachBatch handler
    left running by an earlier test, share the client)."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    n = [0]

    def counting(*a, **kw):
        if threading.get_ident() == me:
            n[0] += 1
        return send(*a, **kw)

    client.send_command = counting
    try:
        yield n
    finally:
        del client.send_command


def _join_inputs(spark):
    pts = spark.createDataFrame(
        [(f"p{i}", -170.0 + i * 3.1, -60.0 + i * 1.3) for i in range(50)],
        "image_id string, lon double, lat double",
    )
    polys = spark.createDataFrame(
        [("a", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),
         ("b", "POLYGON ((170 0, 190 0, 190 10, 170 10, 170 0))"),
         ("c", "POLYGON ((-20 -20, -5 -20, -12 -3, -20 -20))")],
        "polygon_id string, wkt string",
    )
    ext = spark.createDataFrame(
        [(i, -170.0 + i * 3.0, -50.0 + i, -168.0 + i * 3.1, -49.0 + i * 1.2) for i in range(50)],
        "left_id int, x0 double, y0 double, x1 double, y1 double",
    )
    return pts, polys, ext


# Built from Column trees, one py4j command (or several) per operator,
# these plans cost about 5,600 commands for the extent join, 2,700 for the
# shuffle point join and 800 for the broadcast one; as SQL text about 510,
# 580 and 330.  The bounds leave room for the Spark jobs the builds run
# (polygon collect, localCheckpoint, tier aggregate), whose command counts
# vary with the session.
@pytest.mark.parametrize("build, bound", [
    (lambda pts, polys, ext: sj.tiered_extent_join_shuffle(
        ext, ext.withColumnRenamed("left_id", "right_id"), "left_id", "right_id"), 800),
    (lambda pts, polys, ext: sj.tiered_spatial_join(pts, polys, broadcast_polygons=True), 550),
    (lambda pts, polys, ext: sj.tiered_spatial_join(pts, polys, broadcast_polygons=False), 1000),
], ids=["extent_shuffle", "point_broadcast", "point_shuffle"])
def test_join_build_crosses_to_the_jvm_a_bounded_number_of_times(spark, py4j_calls, build, bound):
    inputs = _join_inputs(spark)
    build(*inputs)  # resolve the JVM classes once
    # releasing a Java object is a py4j command too: collect earlier
    # tests' garbage first, and keep the collector out of the build
    gc.collect()
    gc.disable()
    try:
        py4j_calls[0] = 0
        build(*inputs)
    finally:
        gc.enable()
    assert py4j_calls[0] <= bound, py4j_calls[0]
