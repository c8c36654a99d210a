"""Join placement: each join decides broadcast or shuffle itself, the
shuffle point join carries columns like the broadcast one, callers do not
probe, the extent join gives the same pairs on both placements, empty
results type like real ones, and the joins' builds keep their job counts;
plus the struct-field column names the keying and tiling read like
``F.col``."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from geowave_spark import geom
from geowave_spark.operators import spatial_join
from test_seam_round3 import _SEAM_POLYGONS, _seam_points


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _build_jobs(spark, group, build):
    """(result of ``build()``, Spark jobs it ran) counted by job group.
    A side's tier pass runs three: its localCheckpoint, and its aggregate's
    shuffle-map and result stages (AQE submits each as a job)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "build job count")
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


# --- the shuffle point join carries columns ----------------------------------

@pytest.mark.parametrize("salt", [0, 3])
def test_shuffle_join_carries_cols_like_broadcast(spark, salt):
    pts = _seam_points(spark).withColumn("ts", F.col("image_id") * 7)
    polys = spark.createDataFrame(_SEAM_POLYGONS, "polygon_id string, wkt string")
    cols = ("image_id", "polygon_id", "ts")
    bc = spatial_join.tiered_spatial_join(
        pts, polys, carry_cols=("ts",), broadcast_polygons=True, salt=salt
    )
    sh = spatial_join.tiered_spatial_join(
        pts, polys, carry_cols=("ts",), broadcast_polygons=False, salt=salt
    )
    assert sh.columns == bc.columns == list(cols)
    want = _rows(bc, *cols)
    assert want and _rows(sh, *cols) == want
    assert all(ts == pid * 7 for pid, _, ts in want)


def test_shuffle_join_empty_polygons_keeps_carry_cols(spark):
    pts = spark.createDataFrame(
        [(1, 0.0, 0.0, 7)], "image_id long, lon double, lat double, ts long"
    )
    polys = spark.createDataFrame([], "polygon_id string, wkt string")
    out = spatial_join.tiered_spatial_join(
        pts, polys, carry_cols=("ts",), broadcast_polygons=False
    )
    assert out.columns == ["image_id", "polygon_id", "ts"]
    assert out.count() == 0


# --- the extent join on both placements ---------------------------------------

# unwrapped antimeridian polygons (x1 > 180) beside a west-edge box
_AM_POLYGONS = [
    ("am_east", "POLYGON ((176.5 -20, 183.5 -20, 183.5 -10, 176.5 -10, 176.5 -20))"),
    ("am_north", "POLYGON ((178 55, 190 55, 190 70, 178 70, 178 55))"),
    ("seam_tri", "POLYGON ((175 40, 185 40, 180 50, 175 40))"),
    ("west_box", "POLYGON ((-180 -30, -176 -30, -176 -20, -180 -20, -180 -30))"),
]


def _am_extents():
    """Random extents on both sides of +-180, plus hand-placed ones: west
    of -180 inside am_east's -360 image (no plain overlap), east of it up
    to x1 = 180, and one touching am_north's west edge."""
    rng = np.random.RandomState(20261020)
    x0 = np.concatenate([rng.uniform(170, 180, 300), rng.uniform(-180, -170, 300)])
    y0 = rng.uniform(-40, 75, x0.size)
    w, h = rng.uniform(0, 6, x0.size), rng.uniform(0, 8, x0.size)
    rows = [
        (i, float(a), float(b), float(min(a + c, 180.0)), float(min(b + d, 90.0)))
        for i, (a, b, c, d) in enumerate(zip(x0, y0, w, h))
    ]
    return rows + [(10_000, -179.0, -15.0, -178.0, -12.0), (10_001, 179.0, -15.0, 180.0, -12.0),
                   (10_002, 176.0, 60.0, 178.0, 61.0)]


@pytest.mark.parametrize("broadcast", [True, False])
def test_extent_join_antimeridian_polygons_on_both_placements(spark, monkeypatch, broadcast):
    """Both placements compare envelopes in plain coordinates: the pairs
    are exactly the brute-force bbox overlaps."""
    rows = _am_extents()
    boxes = {pid: geom.geometry_from_wkt(wkt).bbox for pid, wkt in _AM_POLYGONS}
    want = sorted(
        (e, pid) for e, x0, y0, x1, y1 in rows for pid, (px0, py0, px1, py1) in boxes.items()
        if x0 <= px1 and x1 >= px0 and y0 <= py1 and y1 >= py0
    )
    assert {(10_001, "am_east"), (10_002, "am_north")} <= set(want)
    assert not any(e == 10_000 for e, _ in want)
    ext = spark.createDataFrame(rows, "extent_id long, x0 double, y0 double, x1 double, y1 double")
    polys = spark.createDataFrame(_AM_POLYGONS, "polygon_id string, wkt string")
    if not broadcast:
        monkeypatch.setattr(spatial_join, "probe_broadcastable", lambda *a, **k: False)
    got = _rows(spatial_join.tiered_extent_join(ext, polys), "extent_id", "polygon_id")
    assert got == want


# --- empty results ----------------------------------------------------------------

@pytest.mark.parametrize("broadcast", [True, False])
def test_empty_right_side_types_like_a_real_result(spark, monkeypatch, broadcast):
    """An empty right side gives each join's result schema: the right id
    is a string on the broadcast paths (the ids pass through the driver's
    cover table) and keeps its own type on the shuffle paths."""
    schema = "polygon_id long, wkt string"
    full = spark.createDataFrame([(7, "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")], schema)
    empty = spark.createDataFrame([], schema)
    ext = spark.createDataFrame(
        [(1, 0.0, 0.0, 1.0, 1.0)], "extent_id long, x0 double, y0 double, x1 double, y1 double"
    )
    left = spark.createDataFrame([(1, "POINT (1 1)")], "extent_id long, wkt string")
    pts = spark.createDataFrame([(1, 1.0, 1.0)], "extent_id long, lon double, lat double")
    if not broadcast:
        monkeypatch.setattr(spatial_join, "probe_broadcastable", lambda *a, **k: False)
    joins = {
        "extent": lambda r: spatial_join.tiered_extent_join(ext, r),
        "geometry": lambda r: spatial_join.geometry_join(
            left, r, left_id="extent_id", right_id="polygon_id"),
        "point": lambda r: spatial_join.tiered_spatial_join(pts, r, point_id="extent_id"),
    }
    for name, join in joins.items():
        want = join(full)
        assert want.count() == 1, name
        got = join(empty)
        assert got.dtypes == want.dtypes, name
        assert got.count() == 0, name


# --- callers leave the decision to the join ------------------------------------

def test_st_join_shuffle_path_carries_time(spark, monkeypatch):
    """The same pairs as test_st_join_broadcast_carries_time, with the
    join pushed onto its shuffle path."""
    from geowave_spark.operators import spatiotemporal as st

    pts = spark.createDataFrame(
        [(1, 5.0, 5.0, "2021-06-01 00:00:00"), (2, 5.0, 5.0, "2023-06-01 00:00:00")],
        "event_id long, lon double, lat double, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    polys = spark.createDataFrame(
        [("z", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
          1_600_000_000 * 10**6, 1_650_000_000 * 10**6)],
        "polygon_id string, wkt string, t0_us long, t1_us long",
    )
    monkeypatch.setattr(spatial_join, "probe_broadcastable", lambda *a, **k: False)
    got = st.st_join(pts, polys).collect()
    assert [(r["event_id"], r["polygon_id"]) for r in got] == [(1, "z")]


def test_knn_geometry_shuffle_path_matches_broadcast(spark, monkeypatch):
    from geowave_spark.operators import knn

    pts = _seam_points(spark)
    queries = spark.createDataFrame(
        [("line", "LINESTRING (170 0, 179 5)"), ("box", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")],
        "query_id string, wkt string",
    )
    cols = ("query_id", "image_id", "dist", "rank")
    want = _rows(knn.knn_geometry(pts, queries, k=3), *cols)
    monkeypatch.setattr(spatial_join, "probe_broadcastable", lambda *a, **k: False)
    assert _rows(knn.knn_geometry(pts, queries, k=3), *cols) == want
    assert len(want) == 6


def test_geometry_frame_join_probes_once(spark, monkeypatch):
    from geowave_spark.api import GeometryFrame

    left = spark.createDataFrame(
        [(1, "POINT (0.5 0.5)"), (2, "POINT (5 5)")], "lid long, wkt string"
    )
    right = spark.createDataFrame(
        [("r", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")], "rid string, wkt string"
    )
    calls = []
    probe = spatial_join.probe_broadcastable

    def counted(*a, **k):
        calls.append(1)
        return probe(*a, **k)

    monkeypatch.setattr(spatial_join, "probe_broadcastable", counted)
    got = GeometryFrame(left, "lid").join(right, "rid")
    assert len(calls) == 1
    assert _rows(got, "lid", "rid") == [(1, "r")]


# --- the builds keep their job counts ----------------------------------------

def test_geometry_join_rejects_unknown_predicate_before_probing(spark):
    left = spark.createDataFrame([("l", "POINT (1 1)")], "left_id string, wkt string")
    right = spark.createDataFrame(
        [("r", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")], "right_id string, wkt string"
    )

    def build():
        with pytest.raises(ValueError, match="unknown predicate"):
            spatial_join.geometry_join(left, right, predicate="nearest")

    _, n_jobs = _build_jobs(spark, "geometry-join-unknown-predicate", build)
    assert n_jobs == 0, n_jobs


# 20 boxes and a triangle: both refine routes of the broadcast geometry join
_BUILD_POLYGONS = [
    (f"p{i}", f"POLYGON (({i} 0, {i}.5 0, {i}.5 1, {i} 1, {i} 0))") for i in range(20)
] + [("tri", "POLYGON ((0 0, 5 0, 2 3, 0 0))")]


def test_extent_join_broadcast_build_runs_at_most_three_jobs(spark):
    """The probe (a limit and an aggregate) and the polygon collect."""
    ext = spark.createDataFrame(
        [(i, float(i), 0.0, i + 1.5, 1.0) for i in range(30)],
        "extent_id long, x0 double, y0 double, x1 double, y1 double",
    )
    polys = spark.createDataFrame(_BUILD_POLYGONS, "polygon_id string, wkt string")
    out, n_jobs = _build_jobs(
        spark, "extent-join-broadcast-build", lambda: spatial_join.tiered_extent_join(ext, polys)
    )
    assert n_jobs <= 3, n_jobs
    assert out.count() > 0


@pytest.mark.parametrize("exactly_once", [False, True])
def test_geometry_join_broadcast_build_runs_at_most_three_jobs(spark, exactly_once):
    """The probe (a limit and an aggregate) and the right-side collect."""
    left = spark.createDataFrame(
        [(f"l{i}", f"LINESTRING ({i}.0 0.0, {i}.5 0.5)") for i in range(20)],
        "left_id string, wkt string",
    )
    right = spark.createDataFrame(_BUILD_POLYGONS, "right_id string, wkt string")
    out, n_jobs = _build_jobs(
        spark, f"geometry-join-broadcast-build-{exactly_once}",
        lambda: spatial_join.geometry_join(left, right, exactly_once=exactly_once),
    )
    assert n_jobs <= 3, n_jobs
    assert out.count() > 0


def test_extent_join_shuffle_build_runs_at_most_six_jobs(spark):
    """One localCheckpoint and one aggregate per side."""
    left = spark.createDataFrame(
        [(i, float(i), 0.0, i + 1.5, 1.0) for i in range(30)],
        "left_id long, x0 double, y0 double, x1 double, y1 double",
    )
    right = spark.createDataFrame(
        [(i, i + 0.2, 0.5, i + 0.4, 3.0) for i in range(30)],
        "right_id long, x0 double, y0 double, x1 double, y1 double",
    )
    out, n_jobs = _build_jobs(
        spark, "extent-join-shuffle-build",
        lambda: spatial_join.tiered_extent_join_shuffle(left, right),
    )
    assert n_jobs <= 6, n_jobs
    assert out.count() > 0


def test_geometry_join_shuffle_build_runs_at_most_six_jobs(spark):
    """One localCheckpoint and one aggregate per side."""
    left = spark.createDataFrame(
        [(f"l{i}", f"LINESTRING ({i}.0 0.0, {i}.5 0.5)") for i in range(20)],
        "left_id string, wkt string",
    )
    right = spark.createDataFrame(
        [(f"r{i}", f"LINESTRING ({i}.2 0.1, {i}.7 0.6)") for i in range(20)] + _SEAM_POLYGONS,
        "right_id string, wkt string",
    )
    out, n_jobs = _build_jobs(
        spark, "geometry-join-shuffle-build",
        lambda: spatial_join.geometry_join_shuffle(left, right, predicate="dwithin", radius=3.0),
    )
    assert n_jobs <= 6, n_jobs
    assert out.count() > 0


# --- struct-field column names -----------------------------------------------

def _nested(flat):
    return flat.select("image_id", F.struct("lon", "lat").alias("p"))


def test_assign_tiles_reads_struct_fields(spark):
    from geowave_spark.operators import tiling

    flat = _seam_points(spark)
    cols = ("image_id", "level", "tile_x", "tile_y")
    want = _rows(tiling.assign_tiles(flat, [0, 6]), *cols)
    got = tiling.assign_tiles(_nested(flat), [0, 6], lon_col="p.lon", lat_col="p.lat")
    assert _rows(got, *cols) == want


@pytest.mark.parametrize("broadcast", [True, False])
def test_spatial_join_reads_struct_fields(spark, broadcast):
    flat = _seam_points(spark)
    polys = spark.createDataFrame(_SEAM_POLYGONS, "polygon_id string, wkt string")
    cols = ("image_id", "polygon_id")
    want = _rows(spatial_join.tiered_spatial_join(
        flat, polys, broadcast_polygons=broadcast), *cols)
    got = spatial_join.tiered_spatial_join(
        _nested(flat), polys, lon_col="p.lon", lat_col="p.lat", broadcast_polygons=broadcast
    )
    assert want and _rows(got, *cols) == want


# --- the streaming joins' one broadcast guard ----------------------------------

def _rate_stream(spark, *cols):
    return spark.readStream.format("rate").option("rowsPerSecond", 1).load().select(*cols)


def test_streaming_geometry_join_rejects_unbroadcastable_right(spark, monkeypatch):
    from geowave_spark.streaming import ingest as singest

    stream = _rate_stream(spark, F.col("value").alias("left_id"), F.lit("POINT (1 1)").alias("wkt"))
    right = spark.createDataFrame(
        [("r", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")], "right_id string, wkt string"
    )
    monkeypatch.setattr(spatial_join, "probe_broadcastable", lambda *a, **k: False)
    with pytest.raises(ValueError, match="too large to broadcast"):
        singest.streaming_geometry_join(stream, right)



def test_streaming_geometry_join_probes_once(spark, monkeypatch):
    """The streaming guard's probe is the only one: the broadcast build
    behind it does not probe the right side again."""
    from geowave_spark.streaming import ingest as singest

    stream = _rate_stream(spark, F.col("value").alias("left_id"), F.lit("POINT (1 1)").alias("wkt"))
    right = spark.createDataFrame(
        [("r", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")], "right_id string, wkt string"
    )
    calls = []
    probe = spatial_join.probe_broadcastable

    def counted(*a, **k):
        calls.append(1)
        return probe(*a, **k)

    monkeypatch.setattr(spatial_join, "probe_broadcastable", counted)
    out = singest.streaming_geometry_join(stream, right)
    assert out.isStreaming and out.columns == ["left_id", "right_id"]
    assert len(calls) == 1


def test_streaming_zone_counts_rejects_unbroadcastable_polygons(spark, monkeypatch):
    from geowave_spark.streaming import ingest as singest

    stream = _rate_stream(
        spark, F.col("value").alias("image_id"), F.lit(1.0).alias("lon"),
        F.lit(1.0).alias("lat"), F.col("timestamp").alias("ts"),
    )
    polys = spark.createDataFrame(
        [("p", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")], "polygon_id string, wkt string"
    )
    monkeypatch.setattr(spatial_join, "probe_broadcastable", lambda *a, **k: False)
    with pytest.raises(ValueError, match="too large to broadcast"):
        singest.streaming_zone_counts(stream, polys)
