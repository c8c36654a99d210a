"""SQL geometry UDFs + spatial SQL runner: plain-SQL cross-join query
equals the tiered-join fast path (the reference's SqlQueryRunner IT
design)."""

from __future__ import annotations

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geowave_spark import entry_queries as eq
from geowave_spark.functions import sqlregistry


def test_sql_udf_cross_join_matches_tiered(spark, sf_dir):
    sqlregistry.register_sql_udfs(spark)
    ev = eq._events(spark, sf_dir)
    polys = eq._poly_df(spark, [p for p in eq.PIP_POLYGONS if p[0].startswith(("big", "small"))])
    ev.createOrReplaceTempView("ev_pts")
    polys.createOrReplaceTempView("ev_polys")

    naive = spark.sql(
        "SELECT p.event_id, g.polygon_id FROM ev_pts p, ev_polys g "
        "WHERE st_contains_point(g.wkt, p.lon, p.lat)"
    )
    fast = sqlregistry.spatial_join_sql(spark, "ev_pts", "ev_polys", result_view="matches")
    assert sorted(map(tuple, naive.collect())) == sorted(map(tuple, fast.collect()))

    # follow-up SQL over the registered result view (replace-and-rerun step)
    n = spark.sql("SELECT count(*) AS n FROM matches").collect()[0]["n"]
    assert n == fast.count()


def test_sql_dwithin_udf(spark, sf_dir):
    sqlregistry.register_sql_udfs(spark)
    ev = eq._events(spark, sf_dir)
    polys = eq._poly_df(spark, eq.DWITHIN_POLYGONS)
    ev.createOrReplaceTempView("ev_pts2")
    polys.createOrReplaceTempView("ev_polys2")
    naive = spark.sql(
        "SELECT p.event_id, g.polygon_id FROM ev_pts2 p, ev_polys2 g "
        f"WHERE st_dwithin_point(g.wkt, p.lon, p.lat, {eq.DWITHIN_RADIUS})"
    )
    from geowave_spark.operators import spatial_join

    fast = spatial_join.tiered_spatial_join(
        ev, polys, predicate="dwithin", radius=eq.DWITHIN_RADIUS, point_id="event_id"
    )
    assert sorted(map(tuple, naive.collect())) == sorted(map(tuple, fast.collect()))


def test_run_spatial_sql_rewrites_to_tiered(spark, sf_dir):
    """run_spatial_sql: same rows as the naive SQL, no CartesianProduct."""
    sqlregistry.register_sql_udfs(spark)
    ev = eq._events(spark, sf_dir)
    polys = eq._poly_df(spark, [p for p in eq.PIP_POLYGONS if p[0].startswith("mid")])
    ev.createOrReplaceTempView("rs_pts")
    polys.createOrReplaceTempView("rs_polys")
    sql = (
        "SELECT p.event_id, g.polygon_id, p.value FROM rs_pts p, rs_polys g "
        "WHERE st_contains_point(g.wkt, p.lon, p.lat)"
    )
    naive = spark.sql(sql)
    fast = sqlregistry.run_spatial_sql(spark, sql)
    assert sorted(map(tuple, naive.collect())) == sorted(map(tuple, fast.collect()))
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_run_spatial_sql_falls_back_on_unsupported(spark, sf_dir):
    """Subquery shape: runs unmodified (the reference rejects these too)."""
    sqlregistry.register_sql_udfs(spark)
    eq._events(spark, sf_dir).createOrReplaceTempView("rs_pts3")
    out = sqlregistry.run_spatial_sql(
        spark, "SELECT count(*) AS n FROM (SELECT * FROM rs_pts3 WHERE event_id < 10)"
    )
    assert out.collect()[0]["n"] == 10


def test_geometry_pair_sql_functions(spark):
    """st_intersects / st_distance / st_dwithin over two WKT columns are
    callable from plain Spark SQL (GeomFunctionRegistry parity for the
    general geometry family)."""
    from geowave_spark.functions.sqlregistry import register_sql_udfs

    register_sql_udfs(spark)
    rows = spark.sql(
        "SELECT st_intersects('LINESTRING (0 0, 10 10)', "
        "'POLYGON ((4 0, 8 0, 8 9, 4 9, 4 0))') AS i, "
        "st_distance('POINT (0 3)', 'LINESTRING (4 3, 9 3)') AS d, "
        "st_dwithin('POINT (0 3)', 'LINESTRING (4 3, 9 3)', 4.5) AS w"
    ).collect()[0]
    assert rows["i"] is True and rows["d"] == 4.0 and rows["w"] is True


def test_covers_within_equals_sql_functions(spark):
    from geowave_spark.functions.sqlregistry import register_sql_udfs

    register_sql_udfs(spark)
    r = spark.sql(
        "SELECT st_within('POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))', "
        "'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))') AS w, "
        "st_covers('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))', 'POINT (2 2)') AS c, "
        "st_equals('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))', "
        "'POLYGON ((4 0, 4 4, 0 4, 0 0, 4 0))') AS e"
    ).collect()[0]
    assert r["w"] is True and r["c"] is True and r["e"] is True


def test_relate_sql_functions(spark):
    from geowave_spark.functions.sqlregistry import register_sql_udfs

    register_sql_udfs(spark)
    r = spark.sql(
        "SELECT st_relate('POINT (1 1)', "
        "'POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))', 'T********') AS m, "
        "st_relate_matrix('POINT (2 1)', "
        "'POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))') AS x"
    ).collect()[0]
    assert r["m"] is True and r["x"] == "F0FFFF212"


def test_relate_null_and_malformed_pattern(spark):
    """A NULL DE-9IM pattern answers NULL (not a len(None) crash in the
    Arrow worker); a wrong-length or foreign-letter pattern fails with an
    error that names it."""
    from geowave_spark.functions.sqlregistry import register_sql_udfs

    register_sql_udfs(spark)
    poly = "'POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))'"
    rows = spark.sql(
        f"SELECT id, st_relate('POINT (1 1)', {poly}, p) AS m FROM VALUES "
        "(1, CAST(NULL AS STRING)), (2, 't********') AS t(id, p)"
    ).collect()
    assert {r["id"]: r["m"] for r in rows} == {1: None, 2: True}
    for bad in ("T*F", "TXF**F***"):
        with pytest.raises(Exception, match="DE-9IM pattern must be 9 characters"):
            spark.sql(f"SELECT st_relate('POINT (1 1)', {poly}, '{bad}') AS m").collect()


def test_parse_points_rejects_malformed_numbers():
    """POINT parsing takes only well-formed numbers: a token like ``1-2``
    or ``1e`` raises a ValueError naming the text, never a bare float()
    error or a silently different point."""
    from geowave_spark import geom

    got = [geom.geometry_from_wkt(w) for w in ("POINT (1.5 -2e3)", " POINT(+.5 3.)")]
    assert [(g.x, g.y) for g in got] == [(1.5, -2000.0), (0.5, 3.0)]
    for bad in ("POINT (1-2 3)", "POINT (1e 2)"):
        with pytest.raises(ValueError, match=re.escape(bad)):
            geom.geometry_from_wkt(bad)


# every registered SQL function's arguments: w = WKT, n = number,
# p = DE-9IM pattern (two WKTs unless listed)
_SQL_ARGS = {
    "st_contains_point": "wnn",
    "st_distance_point": "wnn",
    "st_dwithin_point": "wnnn",
    "st_dwithin": "wwn",
    "st_relate": "wwp",
}
_VALID = {"n": "1.0", "p": "'T********'"}
_VALID_WKT = ("'POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))'", "'POINT (1 1)'")
_GARBAGE_WKT = (
    "NOT WKT", "POINT (1-2 3)", "POINT (1)", "POLYGON ((0 0, 1 0, 1x1, 0 1, 0 0))",
)
# the valid call: the (0 0)-(2 2) box against POINT (1 1), radius 1
_VALID_RESULT = {
    "st_intersects": True, "st_distance": 0.0, "st_dwithin": True, "st_within": False,
    "st_covers": True, "st_contains": True, "st_touches": False, "st_crosses": False,
    "st_overlaps": False, "st_equals": False, "st_disjoint": False, "st_relate": True,
    "st_relate_matrix": "0F2FF1FF2", "st_contains_point": True, "st_distance_point": 0.0,
    "st_dwithin_point": True,
}


def _null_rule(name: str, kind: str):
    """The documented result of a NULL argument: the predicate table's
    NULL value (False for predicates, NULL for distances and matrices);
    dwithin compares a NULL distance or radius as False; a NULL pattern
    makes st_relate NULL."""
    from geowave_spark.functions import geo_udfs

    if name == "st_relate" and kind == "p":
        return None
    if name.startswith("st_dwithin"):
        return False
    null = geo_udfs.PREDICATES[name[len("st_"):]].null
    return null if null is False else None


@pytest.mark.parametrize("name", sorted(sqlregistry.SQL_UDFS))
def test_sql_surface_null_and_garbage(spark, name):
    """Every function register_sql_udfs registers, called with NULL in
    each argument, gives its NULL rule; called with malformed WKT in each
    WKT argument, it fails with an error naming the input — never a bare
    TypeError or IndexError from an Arrow worker."""
    sqlregistry.register_sql_udfs(spark)
    kinds = _SQL_ARGS.get(name, "ww")
    wkts = iter(_VALID_WKT)
    valid = [next(wkts) if k == "w" else _VALID[k] for k in kinds]

    def with_arg(i, v):
        return f"{name}({', '.join(valid[:i] + [v] + valid[i + 1:])})"

    nulls = [
        with_arg(i, f"CAST(NULL AS {'DOUBLE' if k == 'n' else 'STRING'})")
        for i, k in enumerate(kinds)
    ]
    row = spark.sql(
        f"SELECT {name}({', '.join(valid)}) AS ok, "
        + ", ".join(f"{c} AS n{i}" for i, c in enumerate(nulls))
    ).first()
    assert row["ok"] == _VALID_RESULT[name]
    for i, k in enumerate(kinds):
        assert row[f"n{i}"] is _null_rule(name, k), (name, i)
    for i, k in enumerate(kinds):
        if k != "w":
            continue
        for bad in _GARBAGE_WKT:
            with pytest.raises(Exception) as err:
                spark.sql(f"SELECT {with_arg(i, repr(bad))} AS v").collect()
            text = str(err.value)
            assert bad in text, (name, i, bad)
            assert "TypeError" not in text and "IndexError" not in text, (name, i, bad)
