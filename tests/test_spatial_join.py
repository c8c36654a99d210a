"""Oracle-equivalence tests for the tiered spatial join — the same design as
the reference's GeoWaveSparkSpatialJoinIT (tiered vs brute-force cross join,
equal counts + symmetric set difference empty, :97-175,227-254)."""

import pytest
from pyspark.sql import functions as F

from geowave_spark.operators import spatial_join as sj
from geowave_spark.sources import images as src

N_IMAGES = 2000
N_POLYGONS = 36  # covers all 6 fixture classes, 6× each


@pytest.fixture(scope="module")
def tables(spark):
    imgs = src.generate_images(spark, N_IMAGES).select("image_id", "phash").cache()
    polys = spark.createDataFrame(
        __import__("pandas").DataFrame([src.polygon_row(j) for j in range(N_POLYGONS)])
    ).cache()
    imgs.count()
    polys.count()
    return imgs, polys


def assert_same_pairs(a, b):
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_pip_join_matches_oracle(tables):
    imgs, polys = tables
    got = sj.tiered_spatial_join(imgs, polys)
    want = sj.brute_force_join(imgs, polys)
    assert_same_pairs(got, want)
    assert want.count() > 0  # non-degenerate (world polygons match everything)


def test_pip_join_shuffle_path_matches_oracle(tables):
    """Same join forced down the non-broadcast (shuffle + salt) path."""
    imgs, polys = tables
    got = sj.tiered_spatial_join(imgs, polys, broadcast_polygons=False, salt=4)
    want = sj.brute_force_join(imgs, polys)
    assert_same_pairs(got, want)


def test_distance_join_matches_oracle(tables):
    imgs, polys = tables
    small = polys.filter(F.col("class").isin("small_box", "cell_exact", "concave"))
    got = sj.tiered_spatial_join(imgs, small, predicate="dwithin", radius=2.0)
    want = sj.brute_force_join(imgs, small, predicate="dwithin", radius=2.0)
    assert_same_pairs(got, want)
    # dwithin is a superset of intersects matches
    pip = sj.brute_force_join(imgs, small)
    assert got.count() >= pip.count()


def test_semi_and_anti_outputs(tables):
    """Semi/anti join-back semantics (TieredSpatialJoin.java:357-373)."""
    imgs, polys = tables
    small = polys.filter(F.col("class") == "large_box")
    pairs = sj.tiered_spatial_join(imgs, small)
    semi = sj.semi_join_matches(imgs, pairs)
    anti = sj.anti_join_matches(imgs, pairs)
    assert semi.count() + anti.count() == imgs.count()
    assert semi.count() == pairs.select("image_id").distinct().count()
    # caption/payload columns survive untouched through the operator
    assert set(semi.columns) == set(imgs.columns)


def test_loose_join_superset(tables):
    """loose=True (IndexOnlySpatialQuery) returns a superset of exact."""
    imgs, polys = tables
    concave = polys.filter(F.col("class") == "concave")
    loose = sj.tiered_spatial_join(imgs, concave, loose=True)
    exact = sj.tiered_spatial_join(imgs, concave)
    assert loose.count() >= exact.count()
    assert exact.exceptAll(loose).count() == 0


def test_antimeridian_polygon_matches(tables):
    imgs, polys = tables
    am = polys.filter(F.col("class") == "antimeridian")
    got = sj.tiered_spatial_join(imgs, am)
    want = sj.brute_force_join(imgs, am)
    assert_same_pairs(got, want)


def test_box_ending_at_the_seam_meets_points_at_lon_180_on_every_path(spark):
    """A box ending exactly at +180 holds the points at lon +180 and (by
    its lon + 360 retest, the JVM box refine's and the oracles' rule) at
    lon -180: the broadcast path, the shuffle path and the brute-force
    oracle agree.  The triangle touches +180 at one vertex only."""
    pts = spark.createDataFrame(
        [("p", -180.0, 5.0), ("q", 175.0, 5.0), ("r", 180.0, 5.0), ("s", -179.0, 5.0)],
        "image_id string, lon double, lat double",
    )
    polys = spark.createDataFrame(
        [("a", "POLYGON ((170 0, 180 0, 180 10, 170 10, 170 0))"),
         ("b", "POLYGON ((170 0, 180 0, 175 10, 170 0))")],
        "polygon_id string, wkt string",
    )
    want = [("p", "a"), ("q", "a"), ("q", "b"), ("r", "a")]
    for got in (
        sj.tiered_spatial_join(pts, polys, broadcast_polygons=True),
        sj.tiered_spatial_join(pts, polys, broadcast_polygons=False),
        sj.brute_force_join(pts, polys),
    ):
        assert sorted(map(tuple, got.collect())) == want


def test_numeric_ids_read_as_string_ids_on_the_broadcast_paths(spark):
    """A polygon side keyed by a BIGINT id (a SQL table's first column, say)
    joins on every driver-built broadcast side — the box cells, the
    general-polygon cells and WKTs, the extent join's cover and
    geometry_join's cells and WKTs — and the id comes back as its string."""
    from geowave_spark.operators.spatial_join import geometry_join, tiered_extent_join

    pts = spark.createDataFrame(
        [("p", 5.0, 5.0), ("q", 25.0, 2.0), ("r", 60.0, 60.0)],
        "image_id string, lon double, lat double",
    )
    rows = [(1, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),
            (2, "POLYGON ((20 0, 30 0, 25 10, 20 0))")]
    polys = spark.createDataFrame(rows, "polygon_id long, wkt string")
    got = sj.tiered_spatial_join(pts, polys, broadcast_polygons=True)
    assert dict(got.dtypes)["polygon_id"] == "string"
    assert sorted(map(tuple, got.collect())) == [("p", "1"), ("q", "2")]

    ext = spark.createDataFrame(
        [("a", 1.0, 1.0, 2.0, 2.0), ("b", 24.0, 1.0, 26.0, 3.0), ("c", 50.0, 50.0, 51.0, 51.0)],
        "extent_id string, x0 double, y0 double, x1 double, y1 double",
    )
    got = tiered_extent_join(ext, polys)
    assert sorted(map(tuple, got.collect())) == [("a", "1"), ("b", "2")]

    left = spark.createDataFrame(
        [("a", "POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))"),
         ("b", "POLYGON ((24 1, 26 1, 26 3, 24 3, 24 1))")],
        "left_id string, wkt string",
    )
    right = polys.withColumnRenamed("polygon_id", "right_id")
    for left_is_box in (False, True):
        got = geometry_join(left, right, left_is_box=left_is_box)
        assert sorted(map(tuple, got.collect())) == [("a", "1"), ("b", "2")]


def test_loose_mode_is_cover_superset(spark, tables):
    """loose=True (IndexOnlySpatialQuery semantics) returns every exact
    match plus only cover-level false positives."""
    imgs, polys = tables
    box_polys = polys.filter(F.col("class").isin("small_box", "large_box")).select(
        "polygon_id", "wkt"
    )
    exact = sj.tiered_spatial_join(imgs, box_polys)
    loose = sj.tiered_spatial_join(imgs, box_polys, loose=True)
    e = {tuple(r) for r in exact.collect()}
    l = {tuple(r) for r in loose.collect()}
    assert e <= l


def test_empty_polygon_side(spark, tables):
    imgs, _ = tables
    empty = spark.createDataFrame([], "polygon_id string, wkt string")
    out = sj.tiered_spatial_join(imgs, empty)
    assert out.count() == 0
    assert set(out.columns) == {"image_id", "polygon_id"}


def test_empty_point_side(spark, tables):
    _, polys = tables
    empty_pts = spark.createDataFrame([], "image_id string, phash long")
    out = sj.tiered_spatial_join(empty_pts, polys.select("polygon_id", "wkt"))
    assert out.count() == 0


def test_big_big_extent_join_matches_brute_force(spark):
    """Shuffle extent×extent join (neither side broadcast) vs cross join."""
    from geowave_spark import entry_queries as eq

    ev = eq._events(spark, "/root/testdata/sf0.001")
    left = ev.filter(F.col("event_id") % 2 == 0).select(
        F.col("event_id").alias("left_id"),
        F.col("lon").alias("x0"), F.col("lat").alias("y0"),
        F.least(F.col("lon") + 0.5 + F.col("value") / 20.0, F.lit(180.0)).alias("x1"),
        F.least(F.col("lat") + 0.3 + F.col("value") / 40.0, F.lit(90.0)).alias("y1"),
    )
    right = ev.filter(F.col("event_id") % 2 == 1).select(
        F.col("event_id").alias("right_id"),
        F.col("lon").alias("x0"), F.col("lat").alias("y0"),
        F.least(F.col("lon") + 2.0, F.lit(180.0)).alias("x1"),
        F.least(F.col("lat") + 1.0, F.lit(90.0)).alias("y1"),
    )
    got = sj.tiered_extent_join_shuffle(left, right)
    l = left.select("left_id", F.col("x0").alias("lx0"), F.col("y0").alias("ly0"),
                    F.col("x1").alias("lx1"), F.col("y1").alias("ly1"))
    r = right.select("right_id", F.col("x0").alias("rx0"), F.col("y0").alias("ry0"),
                     F.col("x1").alias("rx1"), F.col("y1").alias("ry1"))
    want = l.crossJoin(r).filter(
        (F.col("lx0") <= F.col("rx1")) & (F.col("lx1") >= F.col("rx0"))
        & (F.col("ly0") <= F.col("ry1")) & (F.col("ly1") >= F.col("ry0"))
    ).select("left_id", "right_id")
    assert_same_pairs(got.withColumnRenamed("left_id", "image_id"),
                      want.withColumnRenamed("left_id", "image_id"))
    assert want.count() > 0


@pytest.mark.parametrize("seed", [7, 123, 999])
def test_join_fuzz_random_workloads(spark, seed):
    """Randomized polygon workloads (all six fixture classes, fresh seeds)
    vs brute force — the randomized flavor of the oracle IT."""
    imgs = src.generate_images(spark, 600, seed=seed).select("image_id", "phash")
    polys = spark.createDataFrame(
        __import__("pandas").DataFrame([src.polygon_row(j, seed) for j in range(18)])
    ).select("polygon_id", "wkt")
    got = sj.tiered_spatial_join(imgs, polys)
    want = sj.brute_force_join(imgs, polys)
    assert_same_pairs(got, want)
