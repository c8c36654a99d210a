"""SQL-text builders for the cell-index hot path.

The reference computes SFC keys per feature in JVM code inside its RDD
flatMap (GeoWaveIndexedRDD.java:148-223).  We go one better for Spark: the
POINT side of every operator (the 10^12-row image table) computes its Morton
cell id entirely with built-in bit arithmetic — shiftleft / AND / OR
chains — so the whole key-generation stage stays inside Tungsten whole-stage
codegen.  No Python is involved for points at any scale; pandas UDFs are
reserved for the (small) polygon side and for exact geometry refinement.

Every cell, grid, tile and phash formula here is written ONCE, as SQL
text → SQL text: operands are SQL expressions (a quoted column name, or
another helper's output) and callers wrap each derived column in one
``F.expr``.  Building a Column tree costs a driver→JVM round trip per
operator node; parsing one SQL string costs a few per projection.

Mirrors cells.py exactly (property-tested against it in
tests/test_cells.py and tests/test_sql_builders.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .cells import MAX_TIER, TIER_OFFSETS

_M16 = 0x0000FFFF0000FFFF
_M8 = 0x00FF00FF00FF00FF
_M4 = 0x0F0F0F0F0F0F0F0F
_M2 = 0x3333333333333333
_M1 = 0x5555555555555555
_M32 = 0xFFFFFFFF

_SPREAD_STEPS = [(16, _M16), (8, _M8), (4, _M4), (2, _M2), (1, _M1)]


def _dbl(v: float) -> str:
    """A double literal as SQL text (a bare ``180.0`` would be DECIMAL)."""
    return f"({float(v)!r}D)"


def _low32(c: str) -> str:
    return f"(CAST({c} AS BIGINT) & {_M32})"


def _spread(c: str, sh: int, m: int) -> str:
    """One Morton spread step: ``(c | c << sh) & m``."""
    return f"(({c} | shiftleft({c}, {sh})) & {m})"


def part1by1(c: str) -> str:
    """Spread the low 32 bits into even bit positions (JVM-side Morton half).

    The text copies its operand 32 times (each step references its input
    twice): pass a column name, not a large expression."""
    x = _low32(c)
    for sh, m in _SPREAD_STEPS:
        x = _spread(x, sh, m)
    return x


def interleave(x: str, y: str) -> str:
    return f"({part1by1(x)} | shiftleft({part1by1(y)}, 1))"


def compact1by1(c: str) -> str:
    """Inverse of :func:`part1by1` — gather the even bits (JVM-side).

    NOTE on codegen size: the expression doubles its operand per step, so
    pass an ATTRIBUTE (e.g. ``"`_cell`"``), never a large expression;
    inverting an equality against a large interleave operand this way is
    how the extent joins keep their reference-point predicate inside the
    JVM's 64KB generated-method limit (see _ref_point_filter)."""
    x = f"({c} & {_M1})"
    for sh, m in ((1, _M2), (2, _M4), (4, _M8), (8, _M16), (16, _M32)):
        x = f"(({x} | shiftrightunsigned({x}, {sh})) & {m})"
    return x


def compact_x(cell: str) -> str:
    """Morton cell → x grid coordinate (even bits)."""
    return compact1by1(cell)


def compact_y(cell: str) -> str:
    """Morton cell → y grid coordinate (odd bits)."""
    return compact1by1(f"shiftrightunsigned({cell}, 1)")


def _lin(c: str, lo: float, span: float) -> str:
    return f"(({c} - {_dbl(lo)}) / {_dbl(span)})"


def _clamp01(x: str) -> str:
    return f"LEAST(GREATEST({x}, {_dbl(0.0)}), {_dbl(1.0)})"


def norm_lon(lon: str, bounds=None) -> str:
    """x normalization: world frame wraps (LongitudeDefinition.java:52-67);
    custom ``bounds`` clamp — BasicDimensionDefinition, the reference's
    custom-CRS index math (see cells.norm_lon)."""
    if bounds is not None:
        return _clamp01(_lin(lon, bounds[0], float(bounds[2] - bounds[0])))
    x = _lin(lon, -180.0, 360.0)
    return f"({x} - FLOOR({x}))"  # antimeridian wrap


def norm_lat(lat: str, bounds=None) -> str:
    if bounds is not None:
        return _clamp01(_lin(lat, bounds[1], float(bounds[3] - bounds[1])))
    return _clamp01(_lin(lat, -90.0, 180.0))


def norm_lon_upper(lon: str, bounds=None) -> str:
    """Upper-bound lon normalization: +180 maps to 1.0, not wrapped to 0
    (twin of cells.norm_lon_upper); clamped custom bounds have no seam."""
    if bounds is not None:
        return norm_lon(lon, bounds)
    return f"(CASE WHEN {lon} = {_dbl(180.0)} THEN {_dbl(1.0)} ELSE {norm_lon(lon)} END)"


def grid_coord(norm: str, tier: int) -> str:
    """Cell index of a normalized position on the 2^tier grid, clamped."""
    return _grid_at(norm, f"{1 << tier}L")


def _grid_at(norm: str, r: str, lo: str = "0") -> str:
    """Cell index of a normalized position on a grid of ``r`` (SQL text,
    a BIGINT that may vary per row) cells a side, clamped to [lo, r - 1]."""
    return f"LEAST(GREATEST(CAST(FLOOR({norm} * CAST({r} AS DOUBLE)) AS BIGINT), {lo}), {r} - 1)"


def cell_expr(lon: str, lat: str, tier: int = MAX_TIER, bounds=None) -> str:
    """Point → Z-order cell id at ``tier`` as one expression.

    NOTE: this copies each grid coordinate 32× (each spread step
    references its operand twice), which can push generated code past the
    JVM 64KB method limit when lon/lat are themselves complex expressions.
    Hot paths should use :func:`add_cell_column`, which materializes each
    step as a named column (linear-size codegen).
    """
    return interleave(
        grid_coord(norm_lon(lon, bounds), tier), grid_coord(norm_lat(lat, bounds), tier)
    )


def add_cell_column(
    df, lon_col: str = "lon", lat_col: str = "lat", tier: int = MAX_TIER,
    out: str = "_cell31", bounds=None,
):
    """Stepwise Morton cell computation, one projection per spread step.

    Each spread step references the PREVIOUS step's attribute instead of
    copying its expression subtree, so whole-stage codegen sees a linear
    chain (Catalyst's CollapseProject keeps non-cheap multi-referenced
    aliases un-inlined).  This is what keeps the 10^12-row key-generation
    stage inside a single compiled WholeStageCodegen span.  Six
    projections in all.  Bit-identical to ``cell_expr`` /
    ``cells.latlon_to_cell``.
    """
    nx = norm_lon(_col_ref(lon_col), bounds)
    ny = norm_lat(_col_ref(lat_col), bounds)
    # temp names carry the output name so the helper is re-entrant and can
    # never clobber a caller's column that happens to be called _gx etc.
    px, py = f"_{out}_px", f"_{out}_py"
    qx, qy = sql_ident(px), sql_ident(py)
    df = df.withColumns({
        px: F.expr(_low32(grid_coord(nx, tier))), py: F.expr(_low32(grid_coord(ny, tier))),
    })
    for sh, m in _SPREAD_STEPS[:-1]:
        df = df.withColumns({px: F.expr(_spread(qx, sh, m)), py: F.expr(_spread(qy, sh, m))})
    sh, m = _SPREAD_STEPS[-1]
    df = df.withColumns({out: F.expr(f"{_spread(qx, sh, m)} | shiftleft({_spread(qy, sh, m)}, 1)")})
    return df.drop(px, py)


def cell_at_tier_expr(cell31: str, to_tier: int, from_tier: int = MAX_TIER) -> str:
    """Reproject a finest-tier cell to a coarser tier (prefix shift) —
    the twin of TieredSFCIndexStrategy.reprojectToTier."""
    return f"shiftrightunsigned({cell31}, {2 * (from_tier - to_tier)})"


def _tier_key(tier: str, cell: str) -> str:
    """Tier-packed key of ``cell`` at the per-row ``tier`` (twin of
    cells.pack_key)."""
    offs = ", ".join(f"{int(o)}L" for o in TIER_OFFSETS[: MAX_TIER + 1])
    return f"CAST(element_at(array({offs}), {tier} + 1) + {cell} AS BIGINT)"


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


def _col_parts(name: str) -> list[str]:
    """A caller's column name split the way ``F.col`` reads it: dots
    outside backticks separate struct-field parts (``"bb.x0"`` is field x0
    of struct bb) and backticks quote a part, ```` `` ```` inside them a
    literal backtick."""
    parts, cur, quoted, i = [], [], False, 0
    while i < len(name):
        ch = name[i]
        if ch == "`" and quoted and name[i + 1:i + 2] == "`":
            cur.append("`")
            i += 1
        elif ch == "`":
            quoted = not quoted
        elif ch == "." and not quoted:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    parts.append("".join(cur))
    return parts


def _col_ref(name: str) -> str:
    """A caller's column name as SQL text, read the way ``F.col`` reads it
    (see :func:`_col_parts`)."""
    return ".".join(sql_ident(p) for p in _col_parts(name))


def _has_col(df, name: str) -> bool:
    """Whether ``name`` resolves in ``df``, read the way ``F.col`` reads it
    (a dotted name through struct fields) — from the schema alone, no job."""
    dtype = df.schema
    for part in _col_parts(name):
        if not isinstance(dtype, StructType) or part not in dtype.fieldNames():
            return False
        dtype = dtype[part].dataType
    return True


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


# ---------------------------------------------------------------------------
# phash → deterministic lon/lat (FIXTURES.md §1), JVM-side
# ---------------------------------------------------------------------------

def lon_from_phash(phash: str) -> str:
    hi = f"CAST((shiftrightunsigned({phash}, 32) & {_M32}) AS DOUBLE)"
    return f"({hi} / {_dbl(4294967296.0)} * {_dbl(360.0)} - {_dbl(180.0)})"


def lat_from_phash(phash: str) -> str:
    lo = f"CAST(({phash} & {_M32}) AS DOUBLE)"
    return f"({lo} / {_dbl(4294967296.0)} * {_dbl(180.0)} - {_dbl(90.0)})"


def _with_phash_coords(
    df, lon_col: str = "lon", lat_col: str = "lat", phash_col: str | None = "phash"
):
    """``df`` with lon/lat derived from ``phash_col`` when ``lon_col`` is
    absent — the one place the point layouts and joins fill in image
    coordinates; a frame that already has ``lon_col`` (or no phash column
    to derive from) passes through unchanged."""
    if _has_col(df, lon_col) or not phash_col:
        return df
    p = _col_ref(phash_col)
    return df.withColumns(
        {lon_col: F.expr(lon_from_phash(p)), lat_col: F.expr(lat_from_phash(p))}
    )


# ---------------------------------------------------------------------------
# Tile pyramid math (KDE grid convention: level ℓ → 2^(ℓ+1) × 2^ℓ grid,
# KDERunner.java:234-238) — JVM-side
# ---------------------------------------------------------------------------

def tile_x_expr(lon: str, level: int) -> str:
    return grid_coord(_lin(lon, -180.0, 360.0), level + 1)


def tile_y_expr(lat: str, level: int) -> str:
    return grid_coord(_lin(lat, -90.0, 180.0), level)


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
