"""CQL filter → Catalyst Column (CQLQueryFilter analog, r2 'missing' #4).

Every case is checked against the equivalent hand-written DataFrame
filter on the same data — the translation must be semantics-preserving,
and attribute-only filters must stay pushdown-eligible (no Python in the
plan).
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geowave_spark.functions import cql

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    from geowave_spark import entry_queries as eq

    ev = eq._events(spark, SF_DIR).cache()
    yield ev
    ev.unpersist()


def _ids(df):
    return sorted(r["event_id"] for r in df.select("event_id").collect())


CASES = [
    ("value > 400", lambda c: c.value > 400),
    ("value >= 400 AND value <= 450", lambda c: (c.value >= 400) & (c.value <= 450)),
    ("value BETWEEN 100 AND 200", lambda c: c.value.between(100, 200)),
    ("value NOT BETWEEN 100 AND 480", lambda c: ~c.value.between(100, 480)),
    ("event_type = 'click'", lambda c: c.event_type == "click"),
    ("event_type <> 'click'", lambda c: c.event_type != "click"),
    ("event_type IN ('click', 'error')", lambda c: c.event_type.isin("click", "error")),
    ("event_type NOT IN ('click', 'error')", lambda c: ~c.event_type.isin("click", "error")),
    ("event_type LIKE 'c%'", lambda c: c.event_type.like("c%")),
    ("event_type IS NOT NULL", lambda c: c.event_type.isNotNull()),
    (
        "NOT (event_type = 'click' OR value < 250)",
        lambda c: ~((c.event_type == "click") | (c.value < 250)),
    ),
    (
        "event_type = 'click' AND (value < 50 OR value > 450)",
        lambda c: (c.event_type == "click") & ((c.value < 50) | (c.value > 450)),
    ),
]


@pytest.mark.parametrize("expr,want_fn", CASES, ids=[c[0][:40] for c in CASES])
def test_attribute_predicates(spark, events, expr, want_fn):
    got = cql.cql_filter(events, expr, geometry=("lon", "lat"))
    want = events.filter(want_fn(events))
    assert _ids(got) == _ids(want)


def test_bbox_on_point_features(spark, events):
    got = cql.cql_filter(events, "BBOX(geom, -30, 10, 45, 55)", geometry=("lon", "lat"))
    want = events.filter(
        (F.col("lon") >= -30) & (F.col("lon") <= 45)
        & (F.col("lat") >= 10) & (F.col("lat") <= 55)
    )
    assert _ids(got) == _ids(want)
    # pure interval algebra -> no Python in the plan
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


@pytest.mark.parametrize(
    "box",
    [(160.0, -20.0, 200.0, 20.0), (-200.0, -20.0, -160.0, 20.0)],
    ids=["x1_gt_180", "x0_lt_-180"],
)
def test_bbox_antimeridian_paths_agree(spark, events, box):
    """Both unwrapped-box spellings (x1 > 180 and its x0 < -180 mirror)
    select the same rows through the point-pair path AND the WKT path —
    the WKT path canonicalizes to the engine's x1 > 180 convention before
    hitting the kernel's -360 retest."""
    x0, y0, x1, y1 = box
    expr = f"BBOX(geom, {x0}, {y0}, {x1}, {y1})"
    got_pts = cql.cql_filter(events, expr, geometry=("lon", "lat"))
    wkts = events.withColumn(
        "gwkt",
        F.concat(F.lit("POINT ("), F.col("lon").cast("string"), F.lit(" "),
                 F.col("lat").cast("string"), F.lit(")")),
    )
    got_wkt = cql.cql_filter(wkts, expr.replace("geom", "gwkt"), geometry="gwkt")
    want = events.filter(
        ((F.col("lon") >= 160) | (F.col("lon") <= -160))
        & (F.col("lat") >= y0) & (F.col("lat") <= y1)
    )
    assert _ids(got_pts) == _ids(got_wkt) == _ids(want)
    assert _ids(want)  # non-vacuous: the fixture has rows in the band


def test_bbox_entirely_below_range_is_plus360_image(spark, events):
    """A box ENTIRELY below -180 (x1 < -180) is exactly its +360 image —
    both paths select [x0+360, x1+360], never the over-selection up to
    lon 180 the old straddle branch produced."""
    expr = "BBOX(geom, -200, -20, -185, 20)"
    got_pts = cql.cql_filter(events, expr, geometry=("lon", "lat"))
    wkts = events.withColumn(
        "gwkt",
        F.concat(F.lit("POINT ("), F.col("lon").cast("string"), F.lit(" "),
                 F.col("lat").cast("string"), F.lit(")")),
    )
    got_wkt = cql.cql_filter(wkts, expr.replace("geom", "gwkt"), geometry="gwkt")
    want = events.filter(
        (F.col("lon") >= 160) & (F.col("lon") <= 175)
        & (F.col("lat") >= -20) & (F.col("lat") <= 20)
    )
    assert _ids(got_pts) == _ids(got_wkt) == _ids(want)
    assert _ids(want)
    # a point OUTSIDE the image but inside the old over-selection
    probe = events.filter((F.col("lon") > 176) & (F.col("lat").between(-20, 20)))
    if probe.take(1):
        assert not set(_ids(probe)) & set(_ids(got_pts))


def test_bbox_combines_with_attributes(spark, events):
    got = cql.cql_filter(
        events,
        "BBOX(geom, -30, 10, 45, 55) AND event_type IN ('click','view') AND value > 100",
        geometry=("lon", "lat"),
    )
    want = events.filter(
        (F.col("lon") >= -30) & (F.col("lon") <= 45)
        & (F.col("lat") >= 10) & (F.col("lat") <= 55)
        & F.col("event_type").isin("click", "view") & (F.col("value") > 100)
    )
    assert _ids(got) == _ids(want)


def test_intersects_point_in_polygon(spark, events):
    from geowave_spark import geom

    wkt = "POLYGON ((-30 10, 45 10, 45 55, -30 55, -30 10))"
    got = cql.cql_filter(events, f"INTERSECTS(geom, {wkt})", geometry=("lon", "lat"))
    g = geom.geometry_from_wkt(wkt)
    rows = events.select("event_id", "lon", "lat").collect()
    import numpy as np

    want = sorted(
        r["event_id"] for r in rows
        if bool(g.contains(np.array([r["lon"]]), np.array([r["lat"]]))[0])
    )
    assert _ids(got) == want and want


def test_geometry_ops_on_wkt_column(spark):
    boxes = spark.createDataFrame(
        [
            ("a", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"),
            ("b", "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))"),
            ("c", "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))"),
        ],
        ["id", "geom"],
    )
    probe = "POLYGON ((1.5 1.5, 4 1.5, 4 4, 1.5 4, 1.5 1.5))"
    got = cql.cql_filter(boxes, f"INTERSECTS(geom, {probe})", geometry="geom")
    assert sorted(r["id"] for r in got.collect()) == ["a", "c"]
    got2 = cql.cql_filter(boxes, f"WITHIN(geom, POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0)))",
                          geometry="geom")
    assert sorted(r["id"] for r in got2.collect()) == ["a", "c"]
    got3 = cql.cql_filter(
        boxes, "DWITHIN(geom, POINT (7 5.5), 1.5)", geometry="geom"
    )
    assert sorted(r["id"] for r in got3.collect()) == ["b"]
    got4 = cql.cql_filter(
        boxes, "DISJOINT(geom, POINT (1.5 1.5)) AND id <> 'b'", geometry="geom"
    )
    assert sorted(r["id"] for r in got4.collect()) == []


def test_parse_errors():
    for bad in ("value >", "BBOX(geom, 1, 2)", "value BETWEEN 1", "IN (1,2)",
                "value = 'unterminated"):
        with pytest.raises(cql.CQLError):
            cql.cql_to_column(bad, geometry=("lon", "lat"))


def test_wkt_literal_reassembly():
    toks = cql._tokenize("INTERSECTS(g, MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5))))")
    p = cql._Parser(toks, "g")
    p.take("word")
    p.take("lp")
    p.take("word")
    p.take("comma")
    wkt = p.wkt_literal()
    from geowave_spark import geom

    g = geom.geometry_from_wkt(wkt)  # must parse through the engine kernel
    assert wkt.startswith("MULTIPOLYGON ((") and g.bbox == (0.0, 0.0, 6.0, 6.0)


def test_temporal_predicates(spark, sf_dir):
    """OGC temporal ECQL: BEFORE/AFTER strict, DURING open interval,
    TEQUALS instant equality — against hand-written Column filters on the
    TIMESTAMP_NTZ events table (timezone-independent)."""
    from geowave_spark import entry_queries as eq

    ev = eq._events(spark, sf_dir)
    got = cql.cql_filter(
        ev, "ts DURING 2024-01-05T00:00:00Z/2024-01-12T00:00:00Z AND event_type = 'click'"
    ).count()
    want = ev.filter(
        (F.col("ts") > "2024-01-05 00:00:00")
        & (F.col("ts") < "2024-01-12 00:00:00")
        & (F.col("event_type") == "click")
    ).count()
    assert got == want and got > 0
    assert (
        cql.cql_filter(ev, "ts BEFORE 2024-01-03T12:00:00Z").count()
        == ev.filter(F.col("ts") < "2024-01-03 12:00:00").count()
    )
    assert (
        cql.cql_filter(ev, "ts AFTER 2024-01-28T00:00:00Z").count()
        == ev.filter(F.col("ts") > "2024-01-28 00:00:00").count()
    )
    one = ev.select("ts").first()[0]
    iso = one.strftime("%Y-%m-%dT%H:%M:%S") + (f".{one.microsecond:06d}" if one.microsecond else "")
    assert cql.cql_filter(ev, f"ts TEQUALS {iso}Z").count() >= 1
    # spatial + temporal in one filter (SpatialTemporalQuery analog)
    g = cql.cql_filter(
        ev, "BBOX(geom, -50, -20, 50, 40) AND ts AFTER 2024-01-15T00:00:00Z",
        geometry=("lon", "lat"),
    ).count()
    w = ev.filter(
        (F.col("lon") >= -50) & (F.col("lon") <= 50)
        & (F.col("lat") >= -20) & (F.col("lat") <= 40)
        & (F.col("ts") > "2024-01-15 00:00:00")
    ).count()
    assert g == w and g > 0


def test_not_is_null_rejected(spark):
    """'x NOT IS NULL' must raise, not silently invert to IS NULL
    (round-3 review finding): ECQL spells the negation 'x IS NOT NULL'."""
    df = spark.createDataFrame([(1, None), (2, "a")], "id long, v string")
    with pytest.raises(cql.CQLError):
        cql.cql_filter(df, "v NOT IS NULL")
    # the correct spellings still work
    assert cql.cql_filter(df, "v IS NOT NULL").count() == 1
    assert cql.cql_filter(df, "v IS NULL").count() == 1


def test_temporal_z_honored_for_ltz_columns(spark):
    """A Z-suffixed instant on a true TIMESTAMP (LTZ) column compares as
    an absolute UTC instant regardless of session timezone; NTZ columns
    keep the wall-time (UTC-convention) comparison."""
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        df = spark.createDataFrame(
            [("2024-01-05 06:00:00",), ("2024-01-05 08:00:00",)], "s string"
        ).select(
            F.col("s").cast("timestamp").alias("lt"),     # NY wall time -> instant
            F.col("s").cast("timestamp_ntz").alias("nt"),  # zone-less wall time
        )
        # rows are 11:00Z and 13:00Z as instants; BEFORE 2024-01-05T12:00:00Z
        # must keep exactly the first row — with the old Z-stripping both
        # rows passed (06:00/08:00 NY wall < 12:00 wall)
        assert cql.cql_filter(df, "lt BEFORE 2024-01-05T12:00:00Z").count() == 1
        # NTZ: wall-time semantics unchanged (both wall times < 12:00)
        assert cql.cql_filter(df, "nt BEFORE 2024-01-05T12:00:00Z").count() == 2
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


# ---------------------------------------------------------------------------
# r4 grammar growth: arithmetic expressions + GeoTools property functions
# ---------------------------------------------------------------------------

def test_arithmetic_comparison(spark):
    df = spark.createDataFrame(
        [(1, 10.0, "click"), (2, 40.0, "view"), (3, 100.0, " purchase ")],
        ["id", "value", "event_type"],
    )
    got = {r.id for r in cql.cql_filter(df, "value * 2 + 5 > 60", geometry="g").collect()}
    assert got == {2, 3}
    got = {r.id for r in cql.cql_filter(df, "100 - value <= 60", geometry="g").collect()}
    assert got == {2, 3}
    got = {r.id for r in cql.cql_filter(df, "value / 10 = 4", geometry="g").collect()}
    assert got == {2}


def test_arithmetic_between_and_functions(spark):
    df = spark.createDataFrame(
        [(1, 10.0, "click"), (2, 40.0, "view"), (3, 100.0, " purchase ")],
        ["id", "value", "event_type"],
    )
    got = {r.id for r in cql.cql_filter(df, "floor(value / 10) BETWEEN 3 AND 9", geometry="g").collect()}
    assert got == {2}
    got = {r.id for r in cql.cql_filter(df, "abs(value - 50) < 15", geometry="g").collect()}
    assert got == {2}
    got = {r.id for r in cql.cql_filter(df, "strLength(strTrim(event_type)) > 5", geometry="g").collect()}
    assert got == {3}
    got = {r.id for r in cql.cql_filter(df, "strToLowerCase(strTrim(event_type)) = 'purchase'", geometry="g").collect()}
    assert got == {3}
    got = {r.id for r in cql.cql_filter(df, "min(value, 50) = 50 AND max(value, 99) > 99", geometry="g").collect()}
    assert got == {3}


def test_arithmetic_negative_literals_still_parse(spark):
    df = spark.createDataFrame([(1, -10.0), (2, 40.0)], ["id", "value"])
    got = {r.id for r in cql.cql_filter(df, "value > -20 AND value < -5", geometry="g").collect()}
    assert got == {1}
    got = {r.id for r in cql.cql_filter(df, "value BETWEEN -15 AND -5", geometry="g").collect()}
    assert got == {1}
    # unary minus on expressions
    got = {r.id for r in cql.cql_filter(df, "-value = 10", geometry="g").collect()}
    assert got == {1}


def test_arith_filter_is_one_catalyst_column(spark):
    df = spark.createDataFrame([(1, 10.0)], ["id", "value"])
    out = cql.cql_filter(df, "floor(value / 10) + 1 > 0 AND abs(value) < 1e9", geometry="g")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "pythonUDF" not in plan and "PythonUDF" not in plan


def test_bare_id_filter(spark):
    df = spark.createDataFrame(
        [("states.1", 1.0), ("states.5", 2.0), ("states.9", 3.0)], ["fid", "v"]
    )
    got = {r.fid for r in cql.cql_filter(df, "IN ('states.1', 'states.9')", geometry="g", id_col="fid").collect()}
    assert got == {"states.1", "states.9"}
    got = {r.fid for r in cql.cql_filter(df, "NOT IN ('states.1')", geometry="g", id_col="fid").collect()}
    assert got == {"states.5", "states.9"}
    # combinable with attribute predicates
    got = {r.fid for r in cql.cql_filter(df, "IN ('states.1', 'states.5') AND v > 1.5", geometry="g", id_col="fid").collect()}
    assert got == {"states.5"}
    with pytest.raises(cql.CQLError):
        cql.cql_to_column("IN ('a')", geometry="g")  # no id_col configured


def test_include_exclude_ilike_exists(spark):
    df = spark.createDataFrame(
        [(1, "Madrid"), (2, "MADRID"), (3, "Paris"), (4, None)], ["id", "city"]
    )
    f = lambda e: {r.id for r in cql.cql_filter(df, e, geometry="g").collect()}
    assert f("INCLUDE") == {1, 2, 3, 4}
    assert f("EXCLUDE") == set()
    assert f("INCLUDE AND id > 2") == {3, 4}
    # ILIKE: case-insensitive; LIKE stays case-sensitive
    assert f("city LIKE 'Mad%'") == {1}
    assert f("city ILIKE 'mad%'") == {1, 2}
    assert f("city NOT ILIKE 'mad%'") == {3}  # NULL never matches NOT ILIKE
    # EXISTS / DOES-NOT-EXIST are static schema tests
    assert f("city EXISTS") == {1, 2, 3, 4}
    assert f("phone EXISTS") == set()
    assert f("phone DOES-NOT-EXIST") == {1, 2, 3, 4}
    assert f("city DOES-NOT-EXIST") == set()
    with pytest.raises(cql.CQLError, match="schema"):
        cql.cql_to_column("city EXISTS", geometry="g")


def test_beyond_and_relate(spark):
    df = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 3.0, 0.0), (3, 10.0, 0.0)], ["id", "lon", "lat"]
    )
    f = lambda e: {
        r.id for r in cql.cql_filter(df, e, geometry=("lon", "lat")).collect()
    }
    assert f("DWITHIN(geom, POINT (0 0), 4, degrees)") == {1, 2}
    assert f("BEYOND(geom, POINT (0 0), 4, degrees)") == {3}
    # BEYOND is the exact complement
    assert f("DWITHIN(geom, POINT (0 0), 3, degrees) OR BEYOND(geom, POINT (0 0), 3, degrees)") == {1, 2, 3}
    # RELATE with canonical patterns maps to the named kernel predicates
    assert f("RELATE(geom, POLYGON ((-1 -1, 4 -1, 4 1, -1 1, -1 -1)), 'T*F**F***')") == {1, 2}
    assert f("RELATE(geom, POLYGON ((-1 -1, 4 -1, 4 1, -1 1, -1 -1)), 'FF*FF****')") == {3}
    # r5: arbitrary masks evaluate through the general matrix evaluator
    # (point strictly inside -> interior-contact mask matches)
    assert f("RELATE(geom, POLYGON ((-1 -1, 4 -1, 4 1, -1 1, -1 -1)), 'T********')") == {1, 2}
    # points ON the polygon edge are boundary contact ('*T...'), and the
    # interior mask excludes exactly them
    assert f("RELATE(geom, POLYGON ((0 0, 3 0, 3 1, 0 1, 0 0)), '*T*******')") == {1, 2}
    assert f("RELATE(geom, POLYGON ((0 0, 3 0, 3 1, 0 1, 0 0)), 'T********')") == set()
    # malformed masks (wrong length / alphabet) still raise
    with pytest.raises(cql.CQLError, match="9-char"):
        cql.cql_to_column("RELATE(geom, POINT (0 0), 'TT*')", geometry="wkt")
    with pytest.raises(cql.CQLError, match="9-char"):
        cql.cql_to_column("RELATE(geom, POINT (0 0), 'T*X**F***')", geometry="wkt")


def test_compound_temporal(spark):
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1)),
        (2, dt.datetime(2024, 3, 15)),
        (3, dt.datetime(2024, 6, 1)),
        (4, dt.datetime(2024, 9, 1)),
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp_ntz")
    f = lambda e: {r.id for r in cql.cql_filter(df, e, geometry="g").collect()}
    p = "2024-03-01T00:00:00/2024-06-01T00:00:00"
    assert f(f"ts DURING {p}") == {2}
    assert f(f"ts BEFORE OR DURING {p}") == {1, 2}
    assert f(f"ts DURING OR AFTER {p}") == {2, 4}
    # plain BEFORE with a following boolean OR still parses
    assert f("ts BEFORE 2024-02-01T00:00:00 OR id = 4") == {1, 4}
