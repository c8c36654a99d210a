"""Round-3 eighth-batch review regressions: run_spatial_sql rewrite
guards, API column wiring, CQL BBOX wrap, sampling determinism under
NULL/duplicate keys, visibility strictness."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geowave_spark.functions import cql, sqlregistry, visibility
from geowave_spark.operators import sampling


@pytest.fixture()
def _sql_views(spark):
    sqlregistry.register_sql_udfs(spark)
    spark.createDataFrame(
        [(1, 5.0, 5.0), (2, 50.0, 50.0)], "event_id long, lon double, lat double"
    ).createOrReplaceTempView("pts_v")
    spark.createDataFrame(
        [("z", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")],
        "polygon_id string, wkt string",
    ).createOrReplaceTempView("polys_v")


def test_run_spatial_sql_not_predicate_unmodified(spark, _sql_views):
    sql = (
        "SELECT p.event_id, g.polygon_id FROM pts_v p, polys_v g "
        "WHERE NOT st_contains_point(g.wkt, p.lon, p.lat)"
    )
    got = sorted(r["event_id"] for r in sqlregistry.run_spatial_sql(spark, sql).collect())
    want = sorted(r["event_id"] for r in spark.sql(sql).collect())
    assert got == want == [2]


def test_run_spatial_sql_or_predicate_unmodified(spark, _sql_views):
    sql = (
        "SELECT p.event_id, g.polygon_id FROM pts_v p, polys_v g "
        "WHERE st_contains_point(g.wkt, p.lon, p.lat) OR p.event_id = 2"
    )
    got = sorted(r["event_id"] for r in sqlregistry.run_spatial_sql(spark, sql).collect())
    want = sorted(r["event_id"] for r in spark.sql(sql).collect())
    assert got == want == [1, 2]


def test_run_spatial_sql_select_star_schema_matches(spark, _sql_views):
    sql = (
        "SELECT * FROM pts_v p, polys_v g "
        "WHERE st_contains_point(g.wkt, p.lon, p.lat)"
    )
    acc = sqlregistry.run_spatial_sql(spark, sql)
    ref = spark.sql(sql)
    assert acc.columns == ref.columns
    assert sorted(map(tuple, acc.collect())) == sorted(map(tuple, ref.collect()))


def test_spatialframe_tile_counts_custom_cols(spark):
    from geowave_spark.api import SpatialFrame

    df = spark.createDataFrame(
        [("a", 10.0, 10.0), ("b", 10.0, 10.0)], "id string, x double, y double"
    )
    sf = SpatialFrame(df, "id", lon_col="x", lat_col="y")
    rows = sf.tile_counts([3]).collect()
    assert len(rows) == 1 and rows[0]["n_images"] == 2


def test_cql_bbox_tuple_path_antimeridian(spark):
    """Every x0 <= x1 seam form of BBOX selects the same rows on the
    (lon, lat) path, on the WKT path and in a world-frame oracle: a point
    matches when some 360° image of its lon lies in [x0, x1]."""
    pts = [(1, -179.0, 5.0), (2, -172.0, 5.0), (3, 175.0, 5.0), (4, 0.0, 5.0), (5, -175.0, 0.0)]
    df = spark.createDataFrame(
        [(i, x, y, f"POINT ({x} {y})") for i, x, y in pts],
        "id long, lon double, lat double, wkt string",
    )
    for box in (
        (170.0, -10.0, 190.0, 10.0),  # straddles +180
        (185.0, 0.0, 190.0, 10.0),  # wholly past +180
        (-190.0, 0.0, -170.0, 10.0),  # straddles -180
        (-195.0, 0.0, -185.0, 10.0),  # wholly below -180
    ):
        x0, y0, x1, y1 = box
        expr = f"BBOX(wkt, {x0}, {y0}, {x1}, {y1})"
        want = [
            i for i, x, y in pts
            if y0 <= y <= y1 and any(x0 <= x + k * 360.0 <= x1 for k in (-1, 0, 1))
        ]
        lonlat = sorted(r["id"] for r in cql.cql_filter(df, expr, geometry=("lon", "lat")).collect())
        wkt = sorted(r["id"] for r in cql.cql_filter(df, expr, geometry="wkt").collect())
        assert lonlat == wkt == want, (box, lonlat, wkt, want)


def test_hash_sample_rate1_keeps_null_keys(spark):
    df = spark.createDataFrame([("a",), (None,), ("b",)], "k string")
    assert sampling.hash_sample(df, 1.0, "k").count() == 3


def test_sample_exact_k_deterministic_under_duplicates(spark):
    rows = [("s", None, i) for i in range(6)] + [("s", "dup", i) for i in range(6)]
    df = spark.createDataFrame(rows, "st string, k string, payload int")
    a = sorted(map(tuple, sampling.sample_exact_k(df.repartition(1), 5, "st", "k").collect()))
    b = sorted(map(tuple, sampling.sample_exact_k(df.repartition(7), 5, "st", "k").collect()))
    assert a == b and len(a) == 5


def test_visibility_malformed_is_strict_and_fails_closed(spark):
    with pytest.raises(ValueError):
        visibility.evaluate_expression("a|)", {"a"})
    with pytest.raises(ValueError):
        visibility.evaluate_expression("a&&b", {"a", "b"})
    df = spark.createDataFrame(
        [(1, "a"), (2, "a|)"), (3, "a,b")], "id long, visibility string"
    )
    got = sorted(r["id"] for r in visibility.visibility_filter(df, {"a"}).collect())
    assert got == [1]  # malformed rows denied, scan not killed
