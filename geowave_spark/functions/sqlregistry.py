"""Spark SQL geometry-function registry + spatial SQL runner.

The reference registers its geometry UDFs into Spark SQL
(GeomFunctionRegistry.registerGeometryFunctions,
analytics/spark/.../udf/GeomFunctionRegistry.java:26-42) so users write

    SELECT ... FROM points, polys WHERE GeomContains(poly, point)

and its SqlQueryRunner swaps the naive cross-join plan for the tiered join
(SqlQueryRunner.java:90-303 — via logical-plan regex surgery).  Our
equivalents:

* :func:`register_sql_udfs` — every row of the predicate table
  (``geo_udfs.PREDICATES``) as ``st_<name>``: the named predicates,
  ``st_distance``, ``st_relate`` / ``st_relate_matrix`` over two WKT
  columns, ``st_contains_point`` / ``st_distance_point`` over
  (wkt, lon, lat); plus ``st_dwithin`` and ``st_dwithin_point``, the
  table's distance kernels compared with a radius.  Any Spark SQL string
  can use them (the honest cross-join path — correct, O(n·m), the test
  oracle).  :data:`SQL_UDFS` lists each name with its SQL result type;
  a NULL geometry gives the table's NULL result (False, or NULL for
  distances and matrices), a malformed WKT an error naming the text;
* :func:`spatial_join_sql` — the structured fast path: the caller names
  the two views and the predicate and gets the tiered-join plan, instead
  of regex-rewriting SQL text (which the reference itself documents as
  fragile: it rejects subqueries and compound WHERE clauses).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import spatial_join
from . import geo_udfs

# SQL numeric literals arrive as DECIMAL objects, and NaN <= Decimal raises
# decimal.InvalidOperation: both dwithin forms compare in float64, where a
# NULL geometry's NaN distance (never 0.0, which would make a NULL
# geometry "within distance" of everything) compares False


@F.pandas_udf(T.BooleanType())
def _dwithin(wkt: pd.Series, lon: pd.Series, lat: pd.Series, radius: pd.Series) -> pd.Series:
    d = geo_udfs.st_distance_point.func(wkt, lon, lat).to_numpy()
    return pd.Series(d <= radius.astype("float64").to_numpy())


@F.pandas_udf(T.BooleanType())
def _dwithin_wkt(wa: pd.Series, wb: pd.Series, radius: pd.Series) -> pd.Series:
    d = geo_udfs.st_distance_wkt.func(wa, wb).to_numpy()
    return pd.Series(d <= radius.astype("float64").to_numpy())


_UDFS = {
    **{f"st_{name}": p.udf for name, p in geo_udfs.PREDICATES.items()},
    "st_dwithin": _dwithin_wkt,
    "st_dwithin_point": _dwithin,
}
SQL_UDFS = {name: udf.returnType.simpleString() for name, udf in _UDFS.items()}


def register_sql_udfs(spark: SparkSession) -> None:
    """Register the geometry function family (:data:`SQL_UDFS`) for SQL
    use."""
    for name, udf in _UDFS.items():
        spark.udf.register(name, udf)


_SPATIAL_SQL_RE = (
    r"st_(?P<fn>contains_point|dwithin_point)\(\s*"
    r"(?P<g>\w+)\.(?P<wkt>\w+)\s*,\s*"
    r"(?P<p>\w+)\.(?P<lon>\w+)\s*,\s*"
    r"(?P=p)\.(?P<lat>\w+)\s*"
    r"(?:,\s*(?P<radius>[\d.eE+-]+)\s*)?\)"
)


def run_spatial_sql(spark: SparkSession, sql: str) -> DataFrame:
    """SqlQueryRunner.run() equivalent: detect a single geometry predicate
    in a two-table SQL query and execute it via the tiered join instead of
    the naive cross join, then re-run the original SQL against the matched
    subsets (SqlQueryRunner.java:90-303).

    Faithfully restricted like the reference (:98-109,166-190): exactly one
    st_* predicate, two FROM relations, no subqueries — anything else runs
    unmodified through spark.sql (correct, just not accelerated).
    """
    import re

    m = re.search(_SPATIAL_SQL_RE, sql, re.IGNORECASE)
    frm = re.search(
        r"FROM\s+(\w+)\s+(?:AS\s+)?(\w+)\s*,\s*(\w+)\s+(?:AS\s+)?(\w+)", sql, re.IGNORECASE
    )
    if not m or not frm or sql.upper().count("SELECT") > 1:
        return spark.sql(sql)

    # the rewrite (predicate → (1=1), FROM → matched-pairs join) is only
    # equivalent when the predicate is a POSITIVE top-level WHERE conjunct:
    # a NOT/OR context, or the predicate in the SELECT list, would return
    # silently wrong rows — run those unmodified (correct, not accelerated)
    where_m = re.search(r"\bWHERE\b", sql, re.IGNORECASE)
    if not where_m or m.start() < where_m.end():
        return spark.sql(sql)  # predicate outside WHERE (e.g. SELECT list)
    if re.search(r"\bNOT\s*\(?\s*$", sql[: m.start()], re.IGNORECASE):
        return spark.sql(sql)  # negated predicate
    if re.search(r"\bOR\b", sql[where_m.end():], re.IGNORECASE):
        return spark.sql(sql)  # disjunctive WHERE — conjunct rewrite invalid

    t1, a1, t2, a2 = frm.groups()
    alias_to_table = {a1: t1, a2: t2}
    p_table = alias_to_table.get(m.group("p"))
    g_table = alias_to_table.get(m.group("g"))
    if not p_table or not g_table:
        return spark.sql(sql)

    pts = spark.table(p_table)
    polys = spark.table(g_table)
    predicate = "dwithin" if m.group("fn").lower() == "dwithin_point" else "intersects"
    radius = float(m.group("radius")) if m.group("radius") else 0.0
    # semi-join each side down to its matched subset, re-register under
    # shadow names, re-run the original SQL with the predicate removed.
    # The join-back keys on each table's FIRST column, which must be a
    # unique row id AND distinct between the two tables — a non-key first
    # column would silently change row multiplicity, and a shared name
    # makes `_sp.<id>` ambiguous.  When either precondition fails, run the
    # original SQL unaccelerated (correct, just not fast) instead.
    id_p = pts.columns[0]
    id_g = polys.columns[0]
    if id_p == id_g:
        return spark.sql(sql)
    for side, idc in ((pts, id_p), (polys, id_g)):
        chk = side.agg(
            F.count(F.lit(1)).alias("n"), F.count_distinct(F.col(idc)).alias("d")
        ).first()
        if chk["n"] != chk["d"]:
            return spark.sql(sql)
    pairs = spatial_join.tiered_spatial_join(
        pts, polys, predicate=predicate, radius=radius,
        point_id=id_p, polygon_id=id_g,
        lon_col=m.group("lon"), lat_col=m.group("lat"), wkt_col=m.group("wkt"),
    )
    pairs.createOrReplaceTempView("_spatial_pairs")
    p_alias = m.group("p")
    g_alias = m.group("g")
    rewritten = re.sub(_SPATIAL_SQL_RE, "(1=1)", sql, count=1, flags=re.IGNORECASE)
    # a bare SELECT * would now also surface _sp's two id columns — expand
    # it to the two original relations so the schema matches spark.sql(sql)
    rewritten = re.sub(
        r"^(\s*SELECT\s+)\*",
        rf"\g<1>{p_alias}.*, {g_alias}.*",
        rewritten,
        count=1,
        flags=re.IGNORECASE,
    )
    rewritten = re.sub(
        rf"FROM\s+{t1}\s+(?:AS\s+)?{a1}\s*,\s*{t2}\s+(?:AS\s+)?{a2}",
        f"FROM _spatial_pairs _sp "
        f"JOIN {p_table} {p_alias} ON _sp.{id_p} = {p_alias}.{id_p} "
        f"JOIN {g_table} {g_alias} ON _sp.{id_g} = {g_alias}.{id_g}",
        rewritten,
        count=1,
        flags=re.IGNORECASE,
    )
    return spark.sql(rewritten)


def spatial_join_sql(
    spark: SparkSession,
    points_view: str,
    polygons_view: str,
    predicate: str = "intersects",
    radius: float = 0.0,
    point_id: str = "event_id",
    polygon_id: str = "polygon_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    result_view: str | None = None,
) -> DataFrame:
    """SqlQueryRunner equivalent: run the tiered join between two
    registered temp views and (optionally) register the matched pairs as a
    view for follow-up SQL — the reference's replace-views-and-rerun step
    (SqlQueryRunner.java:285-302) without plan surgery."""
    pts = spark.table(points_view)
    polys = spark.table(polygons_view)
    pairs = spatial_join.tiered_spatial_join(
        pts, polys, predicate=predicate, radius=radius,
        point_id=point_id, polygon_id=polygon_id,
        lon_col=lon_col, lat_col=lat_col,
    )
    if result_view:
        pairs.createOrReplaceTempView(result_view)
    return pairs
