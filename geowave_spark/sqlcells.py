"""Pure Spark-Column builders for the cell-index hot path.

The reference computes SFC keys per feature in JVM code inside its RDD
flatMap (GeoWaveIndexedRDD.java:148-223).  We go one better for Spark: the
POINT side of every operator (the 10^12-row image table) computes its Morton
cell id entirely with built-in Column bit arithmetic — shiftleft / AND / OR
chains — so the whole key-generation stage stays inside Tungsten whole-stage
codegen.  No Python is involved for points at any scale; pandas UDFs are
reserved for the (small) polygon side and for exact geometry refinement.

Mirrors cells.py exactly (property-tested against it in tests/test_cells.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .cells import MAX_TIER

_M16 = 0x0000FFFF0000FFFF
_M8 = 0x00FF00FF00FF00FF
_M4 = 0x0F0F0F0F0F0F0F0F
_M2 = 0x3333333333333333
_M1 = 0x5555555555555555


def part1by1(col: Column) -> Column:
    """Spread the low 32 bits into even bit positions (JVM-side Morton half)."""
    x = col.cast("long").bitwiseAND(F.lit(0xFFFFFFFF))
    x = (x.bitwiseOR(F.shiftleft(x, 16))).bitwiseAND(F.lit(_M16))
    x = (x.bitwiseOR(F.shiftleft(x, 8))).bitwiseAND(F.lit(_M8))
    x = (x.bitwiseOR(F.shiftleft(x, 4))).bitwiseAND(F.lit(_M4))
    x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(_M2))
    x = (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(_M1))
    return x


def interleave(x: Column, y: Column) -> Column:
    return part1by1(x).bitwiseOR(F.shiftleft(part1by1(y), 1))


def compact1by1(col: Column) -> Column:
    """Inverse of :func:`part1by1` — gather the even bits (JVM-side).

    NOTE on codegen size: the expression doubles its operand per step, so
    pass an ATTRIBUTE (e.g. ``F.col("_cell")``), never a large expression;
    inverting an equality against a large interleave operand this way is
    how the extent joins keep their reference-point predicate inside the
    JVM's 64KB generated-method limit (see _ref_point_filter)."""
    x = col.bitwiseAND(F.lit(_M1))
    x = (x.bitwiseOR(F.shiftrightunsigned(x, 1))).bitwiseAND(F.lit(_M2))
    x = (x.bitwiseOR(F.shiftrightunsigned(x, 2))).bitwiseAND(F.lit(_M4))
    x = (x.bitwiseOR(F.shiftrightunsigned(x, 4))).bitwiseAND(F.lit(_M8))
    x = (x.bitwiseOR(F.shiftrightunsigned(x, 8))).bitwiseAND(F.lit(_M16))
    x = (x.bitwiseOR(F.shiftrightunsigned(x, 16))).bitwiseAND(F.lit(0xFFFFFFFF))
    return x


def compact_x(cell: Column) -> Column:
    """Morton cell → x grid coordinate (even bits)."""
    return compact1by1(cell)


def compact_y(cell: Column) -> Column:
    """Morton cell → y grid coordinate (odd bits)."""
    return compact1by1(F.shiftrightunsigned(cell, 1))


def norm_lon(lon: Column, bounds=None) -> Column:
    """x normalization Column twin: world frame wraps (LongitudeDefinition
    .java:52-67); custom ``bounds`` clamp — BasicDimensionDefinition, the
    reference's custom-CRS index math (see cells.norm_lon)."""
    if bounds is not None:
        x = (lon - F.lit(float(bounds[0]))) / F.lit(float(bounds[2] - bounds[0]))
        return F.least(F.greatest(x, F.lit(0.0)), F.lit(1.0))
    x = (lon + F.lit(180.0)) / F.lit(360.0)
    return x - F.floor(x)  # antimeridian wrap (LongitudeDefinition.java:52-67)


def norm_lat(lat: Column, bounds=None) -> Column:
    if bounds is not None:
        x = (lat - F.lit(float(bounds[1]))) / F.lit(float(bounds[3] - bounds[1]))
        return F.least(F.greatest(x, F.lit(0.0)), F.lit(1.0))
    x = (lat + F.lit(90.0)) / F.lit(180.0)
    return F.least(F.greatest(x, F.lit(0.0)), F.lit(1.0))  # clamp


def norm_lon_upper(lon: Column, bounds=None) -> Column:
    """Upper-bound lon normalization: +180 maps to 1.0, not wrapped to 0
    (twin of cells.norm_lon_upper); clamped custom bounds have no seam."""
    if bounds is not None:
        return norm_lon(lon, bounds)
    return F.when(lon == 180.0, F.lit(1.0)).otherwise(norm_lon(lon))


def grid_coord(norm: Column, tier: int) -> Column:
    r = 1 << tier
    g = F.floor(norm * F.lit(float(r))).cast("long")
    return F.least(F.greatest(g, F.lit(0)), F.lit(r - 1))


def cell_expr(lon: Column, lat: Column, tier: int = MAX_TIER, bounds=None) -> Column:
    """Point → Z-order cell id at ``tier`` — pure Column arithmetic.

    NOTE: as a single expression this duplicates its input subtree 32×
    (each spread step references its operand twice), which can push
    generated code past the JVM 64KB method limit when lon/lat are
    themselves complex expressions.  Hot paths should use
    :func:`add_cell_column`, which materializes each step as a named
    column (linear-size codegen).
    """
    return interleave(
        grid_coord(norm_lon(lon, bounds), tier), grid_coord(norm_lat(lat, bounds), tier)
    )


_SPREAD_STEPS = [(16, _M16), (8, _M8), (4, _M4), (2, _M2), (1, _M1)]


def _dbl(v: float) -> str:
    """A double literal as SQL text (a bare ``180.0`` would be DECIMAL)."""
    return f"({float(v)!r}D)"


def _norm_sql(c: str, lo: float, span: float, wrap: bool) -> str:
    """SQL twin of norm_lon / norm_lat: wrapped (world lon) or clamped."""
    x = f"(({c} - {_dbl(lo)}) / {_dbl(span)})"
    if wrap:
        return f"({x} - FLOOR({x}))"
    return f"LEAST(GREATEST({x}, {_dbl(0.0)}), {_dbl(1.0)})"


def add_cell_column(
    df, lon_col: str = "lon", lat_col: str = "lat", tier: int = MAX_TIER,
    out: str = "_cell31", bounds=None,
):
    """Stepwise Morton cell computation, one projection per spread step.

    Each spread step references the PREVIOUS step's attribute instead of
    copying its expression subtree, so whole-stage codegen sees a linear
    chain (Catalyst's CollapseProject keeps non-cheap multi-referenced
    aliases un-inlined).  This is what keeps the 10^12-row key-generation
    stage inside a single compiled WholeStageCodegen span.  The steps are
    SQL text, six projections in all — a few driver→JVM calls where a
    Column per operator costs hundreds.  Bit-identical to
    ``cell_expr`` / ``cells.latlon_to_cell``.
    """
    if bounds is None:
        nx = _norm_sql(sql_ident(lon_col), -180.0, 360.0, wrap=True)
        ny = _norm_sql(sql_ident(lat_col), -90.0, 180.0, wrap=False)
    else:
        nx = _norm_sql(sql_ident(lon_col), bounds[0], float(bounds[2] - bounds[0]), wrap=False)
        ny = _norm_sql(sql_ident(lat_col), bounds[1], float(bounds[3] - bounds[1]), wrap=False)
    r = 1 << tier

    def grid(n):
        g = f"CAST(FLOOR({n} * {_dbl(r)}) AS BIGINT)"
        return f"(LEAST(GREATEST({g}, 0), {r - 1}) & {0xFFFFFFFF})"

    def spread(c, sh, m):
        return f"(({c} | shiftleft({c}, {sh})) & {m})"

    # temp names carry the output name so the helper is re-entrant and can
    # never clobber a caller's column that happens to be called _gx etc.
    px, py = f"_{out}_px", f"_{out}_py"
    qx, qy = sql_ident(px), sql_ident(py)
    df = df.withColumns({px: F.expr(grid(nx)), py: F.expr(grid(ny))})
    for sh, m in _SPREAD_STEPS[:-1]:
        df = df.withColumns({px: F.expr(spread(qx, sh, m)), py: F.expr(spread(qy, sh, m))})
    sh, m = _SPREAD_STEPS[-1]
    df = df.withColumns({out: F.expr(f"{spread(qx, sh, m)} | shiftleft({spread(qy, sh, m)}, 1)")})
    return df.drop(px, py)


def cell_at_tier_expr(cell31: Column, to_tier: int, from_tier: int = MAX_TIER) -> Column:
    """Reproject a finest-tier cell to a coarser tier (prefix shift) —
    the Column twin of TieredSFCIndexStrategy.reprojectToTier."""
    return F.shiftrightunsigned(cell31, 2 * (from_tier - to_tier))


def bbox_refine_pred(lon: Column, lat: Column, bbox) -> Column:
    """Boundary-inclusive point-in-bbox predicate, antimeridian-aware.

    Accepts every bbox form split_bbox_antimeridian does (reference
    LongitudeDefinition.java:52-67): plain, wrapped (lon0 > lon1),
    unwrapped above (lon1 > 180), unwrapped below (lon0 < -180), and
    full-wrap (span >= 360).
    """
    from .cells import split_bbox_antimeridian

    lon0, lat0, lon1, lat1 = (float(v) for v in bbox)
    pred = (lat >= F.lit(lat0)) & (lat <= F.lit(lat1))
    if lon1 - lon0 >= 360.0 and lon0 <= lon1:
        return pred
    # exact per-interval test over the canonical in-range sub-boxes — a
    # half-open OR (the old form) wrongly admitted every lon beyond one
    # bound for boxes lying wholly past a seam, e.g. (185, .., 190)
    # matched lon=-179 (round-3 review)
    lon_pred = F.lit(False)
    for bx0, _by0, bx1, _by1 in split_bbox_antimeridian((lon0, lat0, lon1, lat1)):
        lon_pred = lon_pred | ((lon >= F.lit(bx0)) & (lon <= F.lit(bx1)))
    return pred & lon_pred


def extent_intersects_pred(x0: Column, y0: Column, x1: Column, y1: Column, bbox) -> Column:
    """Boundary-inclusive bbox-intersects predicate for stored extents
    (x0 <= x1 normalized), antimeridian-aware via the same sub-box split
    the cover generation uses (cells.split_bbox_antimeridian)."""
    from .cells import split_bbox_antimeridian

    pred = F.lit(False)
    for bx0, by0, bx1, by1 in split_bbox_antimeridian(tuple(float(v) for v in bbox)):
        pred = pred | (
            (x0 <= F.lit(bx1)) & (x1 >= F.lit(bx0)) & (y0 <= F.lit(by1)) & (y1 >= F.lit(by0))
        )
    return pred


def sql_ident(name: str) -> str:
    """A column name as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def or_sql(terms: list[str]) -> str:
    """Balanced OR of SQL predicate texts.  Log-depth parentheses keep the
    parsed tree shallow for any term count: a left-deep chain of a few
    hundred ORs overflows the Column-node converter stack."""
    if not terms:
        return "false"
    while len(terms) > 1:
        nxt = [f"({a} OR {b})" for a, b in zip(terms[::2], terms[1::2])]
        if len(terms) % 2:
            nxt.append(terms[-1])
        terms = nxt
    return terms[0]


def ranges_sql(col: str, ranges) -> str:
    """``col`` inside any inclusive (lo, hi) range, as SQL text."""
    c = sql_ident(col)
    return or_sql([f"{c} BETWEEN {int(lo)}L AND {int(hi)}L" for lo, hi in ranges])


def ranges_pred(col: str, ranges) -> Column:
    """Sargable any-of-ranges predicate built as ONE SQL expression — one
    driver→JVM call however many ranges, where a Column-per-range OR
    costs several calls per range (tens of thousands for a budgeted
    spatio-temporal cover)."""
    return F.expr(ranges_sql(col, ranges))


def tier_of_key(key: Column) -> Column:
    """Tier of a packed key (Column twin of cells.unpack_key's tier part).

    Exact integer when-chain over the 32 tier offsets — used for
    distributed tier discovery without collecting keys to the driver
    (TieredSpatialJoin.java:173-207's tier pre-pass)."""
    from .cells import TIER_OFFSETS

    expr = F.lit(0)
    for t in range(1, MAX_TIER + 1):
        expr = F.when(key >= F.lit(int(TIER_OFFSETS[t])), F.lit(t)).otherwise(expr)
    return expr


# ---------------------------------------------------------------------------
# phash → deterministic lon/lat (FIXTURES.md §1), JVM-side
# ---------------------------------------------------------------------------

def lon_from_phash(phash: Column) -> Column:
    hi = F.shiftrightunsigned(phash, 32).bitwiseAND(F.lit(0xFFFFFFFF))
    return hi.cast("double") / F.lit(4294967296.0) * F.lit(360.0) - F.lit(180.0)


def lat_from_phash(phash: Column) -> Column:
    lo = phash.bitwiseAND(F.lit(0xFFFFFFFF))
    return lo.cast("double") / F.lit(4294967296.0) * F.lit(180.0) - F.lit(90.0)


def _with_phash_coords(
    df, lon_col: str = "lon", lat_col: str = "lat", phash_col: str | None = "phash"
):
    """``df`` with lon/lat derived from ``phash_col`` when ``lon_col`` is
    absent — the one place the point layouts and joins fill in image
    coordinates; a frame that already has ``lon_col`` (or no phash column
    to derive from) passes through unchanged."""
    if lon_col in df.columns or not phash_col:
        return df
    return df.withColumn(lon_col, lon_from_phash(F.col(phash_col))).withColumn(
        lat_col, lat_from_phash(F.col(phash_col))
    )


# ---------------------------------------------------------------------------
# Tile pyramid math (KDE grid convention: level ℓ → 2^(ℓ+1) × 2^ℓ grid,
# KDERunner.java:234-238) — JVM-side
# ---------------------------------------------------------------------------

def tile_x_expr(lon: Column, level: int) -> Column:
    nx = 1 << (level + 1)
    t = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(nx))).cast("long")
    return F.least(F.greatest(t, F.lit(0)), F.lit(nx - 1))


def tile_y_expr(lat: Column, level: int) -> Column:
    ny = 1 << level
    t = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(ny))).cast("long")
    return F.least(F.greatest(t, F.lit(0)), F.lit(ny - 1))


# ---------------------------------------------------------------------------
# Cross-engine deterministic hash + derived point coordinates
# ---------------------------------------------------------------------------

def h60_expr(col: Column) -> Column:
    """60-bit md5-derived hash; DuckDB twin:
    ``('0x' || substr(md5(x),1,15))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def derived_lon(id_col: Column) -> Column:
    """Deterministic lon from an integer id (1e-4° grid) — gives any keyed
    table a synthetic point geometry, identically in Spark and DuckDB
    (oracle: ``(h60('lon:' || id) % 3600000)/10000.0 - 180.0``)."""
    h = h60_expr(F.concat(F.lit("lon:"), id_col.cast("string")))
    return F.pmod(h, F.lit(3_600_000)).cast("double") / F.lit(10_000.0) - F.lit(180.0)


def derived_lat(id_col: Column) -> Column:
    h = h60_expr(F.concat(F.lit("lat:"), id_col.cast("string")))
    return F.pmod(h, F.lit(1_800_000)).cast("double") / F.lit(10_000.0) - F.lit(90.0)


def salt_expr(cell: Column, n_salts: int) -> Column:
    """Hot-cell salting prefix — our analog of RoundRobinKeyIndexStrategy /
    HashKeyIndexStrategy partition prefixes (SURVEY.md §1.2)."""
    return F.pmod(F.xxhash64(cell), F.lit(n_salts))
