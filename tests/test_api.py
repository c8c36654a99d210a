"""SpatialFrame facade smoke tests — each builder method produces the same
result as the underlying operator call."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from geowave_spark import entry_queries as eq
from geowave_spark.api import SpatialFrame
from geowave_spark.operators import spatial_join


def test_from_keyed_matches_entry_queries(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sf = SpatialFrame.from_keyed(ev, "event_id")
    direct = eq._events(spark, sf_dir)
    assert sorted(map(tuple, sf.df.select("event_id", "lon", "lat").collect())) == sorted(
        map(tuple, direct.select("event_id", "lon", "lat").collect())
    )


def test_spatial_join_and_bbox(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sf = SpatialFrame.from_keyed(ev, "event_id")
    polys = eq._poly_df(spark, [p for p in eq.PIP_POLYGONS if p[0].startswith("big")])
    got = sf.spatial_join(polys)
    want = spatial_join.tiered_spatial_join(sf.df, polys, point_id="event_id")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    n_box = sf.within_bbox((-30.0, 10.0, 45.0, 55.0)).count()
    assert n_box > 0


def test_knn_and_tiles_and_kde(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sf = SpatialFrame.from_keyed(ev, "event_id")
    qs = sf.df.filter(F.col("event_id") < 4).select(
        F.col("event_id").alias("query_id"), "lon", "lat"
    )
    knn = sf.knn(qs, k=3, max_distance=5.0)
    assert knn.groupBy("query_id").count().agg(F.max("count")).collect()[0][0] <= 3
    assert sf.tile_counts([5]).count() > 0
    assert sf.kde(level=5, exact=True).count() > 0
    assert sf.subsample(tier=6).count() > 0


def test_from_images_phash_points(spark):
    from geowave_spark.sources import images as img

    sf = SpatialFrame.from_images(img.generate_images(spark, 50))
    rows = sf.df.select("lon", "lat").collect()
    assert all(-180 <= r["lon"] <= 180 and -90 <= r["lat"] <= 90 for r in rows)


def test_geometry_frame_join_paths(spark):
    """GeometryFrame facade: both build-side paths give identical pairs."""
    from geowave_spark.api import GeometryFrame
    from geowave_spark import entry_queries as eq

    segs = eq._event_seg_df(spark, "/root/testdata/sf0.001").withColumnRenamed(
        "event_id", "seg_id"
    )
    tracks = eq._tracks_df(spark).withColumnRenamed("polygon_id", "track_id")
    gf = GeometryFrame(segs, "seg_id")
    bc = sorted(map(tuple, gf.join(tracks, "track_id").collect()))
    sh = sorted(map(tuple, gf.join(tracks, "track_id", broadcast=False).collect()))
    auto = sorted(map(tuple, gf.join(tracks, "track_id", broadcast=None).collect()))
    assert bc == sh == auto and len(bc) > 0


def test_geometry_frame_within_predicate(spark):
    from geowave_spark.api import GeometryFrame
    from geowave_spark import entry_queries as eq

    ext = eq._event_box_wkt_df(spark, "/root/testdata/sf0.001").withColumnRenamed(
        "event_id", "ext_id"
    )
    polys = spark.createDataFrame(eq.GEOM_POLYGONS, ["poly_id", "wkt"])
    gf = GeometryFrame(ext, "ext_id", bbox_cols=("bx0", "by0", "bx1", "by1"))
    got = gf.join(polys, "poly_id", predicate="within")
    n = got.count()
    # every within pair must also be an intersects pair
    inter = {tuple(r) for r in gf.join(polys, "poly_id").collect()}
    w = {tuple(r) for r in got.collect()}
    assert n > 0 and w <= inter


def test_spatialframe_write_store_roundtrip(spark, sf_dir, tmp_path):
    from geowave_spark.sources import maintenance as mt

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").limit(2000)
    sf = SpatialFrame.from_keyed(ev, "event_id")
    root = str(tmp_path / "api_store")
    m = sf.write_store(root, n_files=4)
    assert m["generation"] == 0
    bbox = (-30.0, 10.0, 45.0, 55.0)
    want = sorted(r["event_id"] for r in sf.within_bbox(bbox).select("event_id").collect())
    got = sorted(r["event_id"] for r in mt.lookup_store(spark, root, bbox).select("event_id").collect())
    assert got == want


# equator-band rows on both sides of the antimeridian, one far away, and
# one on each of the two +-180 meridian spellings
SEAM_ROWS = [
    (1, 175.0, 0.0), (2, -179.0, 0.0), (3, 0.0, 0.0), (4, -175.0, 0.0),
    (5, 180.0, 5.0), (6, -180.0, -5.0),
]
SEAM_BOXES = [
    (170.0, -10.0, 190.0, 10.0),    # unwrapped above +180
    (170.0, -10.0, -170.0, 10.0),   # wrapped (lon0 > lon1)
    (-190.0, -10.0, -170.0, 10.0),  # unwrapped below -180
    (-10.0, -10.0, 10.0, 10.0),     # plain
]


def _in_box(lon, lat, box):
    """Closed-form oracle: the box's longitude arc on the circle, edges
    inclusive, in any of its three spellings."""
    x0, y0, x1, y1 = box
    if not y0 <= lat <= y1:
        return False
    if x0 > x1:
        return lon >= x0 or lon <= x1
    return any(x0 <= lon + k <= x1 for k in (-360.0, 0.0, 360.0))


def test_stored_lookups_agree_across_the_seam(spark, tmp_path):
    """Every stored-cell point lookup — the maintained store, the facade
    store, stats.range_lookup on an indexed and an unindexed frame, and
    within_bbox — answers each antimeridian box form like the oracle."""
    from geowave_spark.operators import stats
    from geowave_spark.sources import indexed
    from geowave_spark.sources import maintenance as mt
    from geowave_spark.sources.iceberg import IndexedStore

    df = spark.createDataFrame(SEAM_ROWS, ["event_id", "lon", "lat"])
    root = str(tmp_path / "seam_store")
    mt.write_store(df.filter("event_id <= 3"), root, n_files=2, phash_col=None)
    mt.append_store(df.filter("event_id > 3"), root, n_files=1)  # base + one delta
    path = str(tmp_path / "seam_idx")
    indexed.write_indexed(df, path, n_files=2, phash_col=None)
    store = IndexedStore(spark, str(tmp_path / "seam_facade"), force_parquet=True)
    store.write(df, n_files=2, phash_col=None)
    sf = SpatialFrame.from_points(df, "event_id")

    def ids(frame):
        return sorted(r["event_id"] for r in frame.select("event_id").collect())

    for box in SEAM_BOXES:
        want = sorted(i for i, lon, lat in SEAM_ROWS if _in_box(lon, lat, box))
        got = {
            "lookup_store": ids(mt.lookup_store(spark, root, box)),
            "range_lookup_indexed": ids(stats.range_lookup(spark.read.parquet(path), box)),
            "range_lookup_unindexed": ids(stats.range_lookup(df, box)),
            "IndexedStore": ids(store.range_lookup(box)),
            "within_bbox": ids(sf.within_bbox(box)),
        }
        assert got == {k: want for k in got}, box


def test_custom_bounds_store_keeps_plain_interval(spark, tmp_path):
    """A store keyed over custom (projected) bounds has no seam: its
    lookup is the plain closed interval, edges included."""
    from geowave_spark.sources import indexed
    from geowave_spark.sources import maintenance as mt

    bounds = (0.0, 0.0, 1000.0, 1000.0)
    rows = [(1, 100.0, 100.0), (2, 900.0, 900.0), (3, 600.0, 50.0), (4, 1000.0, 0.0),
            (5, 0.0, 1000.0)]
    df = spark.createDataFrame(rows, ["event_id", "x", "y"])
    root = str(tmp_path / "proj_store")
    mt.write_store(df, root, n_files=2, lon_col="x", lat_col="y", phash_col=None, bounds=bounds)
    path = str(tmp_path / "proj_idx")
    indexed.write_indexed(df, path, n_files=2, lon_col="x", lat_col="y", phash_col=None,
                          bounds=bounds)
    for box in [(50.0, 50.0, 600.0, 600.0), (600.0, 0.0, 1000.0, 900.0),
                (0.0, 0.0, 1000.0, 1000.0)]:
        want = sorted(i for i, x, y in rows
                      if box[0] <= x <= box[2] and box[1] <= y <= box[3])
        got = sorted(r["event_id"] for r in mt.lookup_store(spark, root, box).collect())
        direct = indexed.range_lookup_indexed(spark, path, box, "x", "y", bounds=bounds)
        assert got == want == sorted(r["event_id"] for r in direct.collect()), box
