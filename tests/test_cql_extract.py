"""CQL constraint extraction (ExtractGeometryFilterVisitor analog) and
the index-routed CQL query (OptimalCQLQuery analog).

Extraction must be SOUND (never excludes a matching row) — equivalence
tests compare the index-routed query against the full-scan cql_filter on
the same data; unit tests pin the combination algebra (AND intersect,
OR hull, NOT unconstrained, DISJOINT/BEYOND unconstrained, DWITHIN
expansion, temporal windows on the designated time column).
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geowave_spark.functions import cql
from geowave_spark.sources import indexed
import geowave_spark.entry_queries as eq

INF = float("inf")


@pytest.fixture(scope="module", autouse=True)
def _need_session(spark):
    # the parser emits Catalyst Columns while extracting, so even the
    # pure-extraction unit tests need an active SparkContext
    yield


def ext(expr, **kw):
    return cql.extract_constraints(expr, geometry=("lon", "lat"), **kw)


def test_bbox_literal():
    c = ext("BBOX(geom, -30, 10, 45, 55)")
    assert c.bbox == (-30.0, 10.0, 45.0, 55.0)
    assert c.trange is None and not c.is_empty()


def test_and_intersects():
    c = ext("BBOX(geom, -30, 10, 45, 55) AND BBOX(geom, 0, 0, 90, 90)")
    assert c.bbox == (0.0, 10.0, 45.0, 55.0)


def test_and_with_attribute_pred_keeps_box():
    c = ext("BBOX(geom, -30, 10, 45, 55) AND value > 100")
    assert c.bbox == (-30.0, 10.0, 45.0, 55.0)


def test_or_hull_and_unconstrained_side():
    c = ext("BBOX(geom, 0, 0, 10, 10) OR BBOX(geom, 20, 20, 30, 30)")
    assert c.bbox == (0.0, 0.0, 30.0, 30.0)
    # OR with a non-spatial side can match anywhere
    c = ext("BBOX(geom, 0, 0, 10, 10) OR value > 100")
    assert c.bbox is None


def test_not_unconstrained():
    assert ext("NOT BBOX(geom, 0, 0, 10, 10)").bbox is None
    # but AND with a NOT keeps the other side
    c = ext("BBOX(geom, 0, 0, 10, 10) AND NOT BBOX(geom, 2, 2, 4, 4)")
    assert c.bbox == (0.0, 0.0, 10.0, 10.0)


def test_empty_intersection_detected():
    c = ext("BBOX(geom, 0, 0, 10, 10) AND BBOX(geom, 20, 20, 30, 30)")
    assert c.is_empty()


def test_geom_predicates_envelope():
    c = ext("INTERSECTS(geom, POLYGON ((0 0, 4 0, 4 6, 0 6, 0 0)))")
    assert c.bbox == (0.0, 0.0, 4.0, 6.0)
    assert ext("DISJOINT(geom, POLYGON ((0 0, 4 0, 4 6, 0 6, 0 0)))").bbox is None


def test_dwithin_expansion_and_beyond():
    c = ext("DWITHIN(geom, POINT (10 20), 2.5, degrees)")
    assert c.bbox == (7.5, 17.5, 12.5, 22.5)
    assert ext("BEYOND(geom, POINT (10 20), 2.5, degrees)").bbox is None


def test_antimeridian_straddle_unconstrained():
    assert ext("BBOX(geom, 170, -10, 190, 10)").bbox is None


def test_temporal_window_only_on_time_col():
    e = "ts DURING 2024-03-01T00:00:00/2024-03-08T00:00:00 AND BBOX(geom, 0, 0, 10, 10)"
    c = ext(e, time_col="ts")
    t0 = 1709251200000000  # 2024-03-01T00:00:00Z epoch micros
    assert c.trange == (t0, t0 + 7 * 86400 * 1_000_000)
    assert c.bbox == (0.0, 0.0, 10.0, 10.0)
    # a temporal pred on a different column must not constrain the index
    assert ext(e, time_col="other").trange is None


def test_temporal_half_open_and_compound():
    c = ext("ts AFTER 2024-03-01T00:00:00", time_col="ts")
    assert c.trange == (1709251200000000, INF)
    c = ext("ts BEFORE 2024-03-01T00:00:00", time_col="ts")
    assert c.trange == (-INF, 1709251200000000)
    c = ext(
        "ts BEFORE OR DURING 2024-03-01T00:00:00/2024-03-02T00:00:00",
        time_col="ts",
    )
    assert c.trange == (-INF, 1709251200000000 + 86400 * 1_000_000)


@pytest.fixture(scope="module")
def ev_store(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("cqlidx") / "ev.parquet")
    ev = eq._events(spark, "/root/testdata/sf0.001")
    indexed.write_indexed(ev, path, n_files=16, phash_col=None)
    return path


def _sorted_ids(df):
    return [r[0] for r in df.select("event_id").orderBy("event_id").collect()]


def test_cql_query_indexed_matches_full_scan(spark, ev_store):
    expr = (
        "BBOX(geom, -30, 10, 45, 55) AND value BETWEEN 50 AND 900 "
        "AND event_type LIKE 'c%'"
    )
    routed = indexed.cql_query_indexed(spark, ev_store, expr)
    full = cql.cql_filter(
        spark.read.parquet(ev_store), expr, geometry=("lon", "lat")
    )
    assert _sorted_ids(routed) == _sorted_ids(full)
    assert routed.count() > 0


def test_cql_query_indexed_pushes_cell_ranges(spark, ev_store):
    out = indexed.cql_query_indexed(
        spark, ev_store, "BBOX(geom, -30, 10, 45, 55) AND value > 100"
    )
    out.sparkSession.conf.set("spark.sql.maxMetadataStringLength", "100000")
    try:
        plan = out._jdf.queryExecution().toString()
    finally:
        out.sparkSession.conf.set("spark.sql.maxMetadataStringLength", "100")
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in pushed, f"cell ranges not pushed: {pushed[:200]}"


def test_cql_query_indexed_no_spatial_degrades(spark, ev_store):
    expr = "value > 990"
    routed = indexed.cql_query_indexed(spark, ev_store, expr)
    full = cql.cql_filter(
        spark.read.parquet(ev_store), expr, geometry=("lon", "lat")
    )
    assert _sorted_ids(routed) == _sorted_ids(full)


def test_cql_query_indexed_empty_short_circuits(spark, ev_store):
    out = indexed.cql_query_indexed(
        spark,
        ev_store,
        "BBOX(geom, 0, 0, 10, 10) AND BBOX(geom, 20, 20, 30, 30)",
    )
    assert out.count() == 0


def test_cql_query_indexed_st_matches_full_scan(spark, tmp_path):
    path = str(tmp_path / "ev_st.parquet")
    ev = eq._events(spark, "/root/testdata/sf0.001")
    indexed.write_indexed_st(ev, path, n_files=8)
    expr = (
        "BBOX(geom, -30, 10, 45, 55) "
        "AND ts DURING 2024-01-05T00:00:00/2024-01-12T00:00:00 "
        "AND value > 10"
    )
    routed = indexed.cql_query_indexed_st(spark, path, expr, time_col="ts")
    full = cql.cql_filter(spark.read.parquet(path), expr, geometry=("lon", "lat"))
    assert _sorted_ids(routed) == _sorted_ids(full)
    assert routed.count() > 0


def test_reversed_bbox_reads_as_one_wrapped_box(spark, tmp_path):
    """A reversed BBOX (x0 > x1) is the wrapped box from x0 east to x1:
    the (lon, lat) path, the WKT path and the index-routed query select
    the same rows as a Python oracle."""
    pts = [(1, 175.0, 5.0), (2, -175.0, 5.0), (3, 0.0, 5.0), (4, 175.0, 20.0)]
    df = spark.createDataFrame(
        [(i, x, y, f"POINT ({x} {y})") for i, x, y in pts],
        "id long, lon double, lat double, wkt string",
    )
    x0, y0, x1, y1 = 170.0, 0.0, -170.0, 10.0
    expr = f"BBOX(wkt, {x0}, {y0}, {x1}, {y1})"
    want = [i for i, x, y in pts if y0 <= y <= y1 and (x >= x0 or x <= x1)]
    assert want == [1, 2]

    def ids(frame):
        return sorted(r["id"] for r in frame.collect())

    path = str(tmp_path / "rev.parquet")
    indexed.write_indexed(df.drop("wkt"), path, n_files=2, phash_col=None)
    assert ids(cql.cql_filter(df, expr, geometry=("lon", "lat"))) == want
    assert ids(cql.cql_filter(df, expr, geometry="wkt")) == want
    assert ids(indexed.cql_query_indexed(spark, path, expr)) == want
