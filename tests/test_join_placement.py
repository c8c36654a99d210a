"""Join placement: each join decides broadcast or shuffle itself, the
shuffle point join carries columns like the broadcast one, callers do not
probe, and the shuffle joins' side builds keep their job counts; plus the
struct-field column names the keying and tiling read like ``F.col``."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

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


# --- the shared shuffle-side builder keeps its job count --------------------

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
