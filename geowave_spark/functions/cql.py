"""(E)CQL filter → Catalyst Column translation.

The reference accepts OGC CQL/ECQL filter strings everywhere a query can
be expressed (core/geotime/.../query/filter/CQLQueryFilter.java;
OptimalCQLQuery / ExtractGeometryFilterVisitor plan the spatial part into
index ranges).  Round 2 scoped this out as "rewrite your CQL as SQL";
this module closes the migration gap: a recursive-descent parser for the
practically-used ECQL subset, emitting a single Catalyst ``Column`` so
the filter participates in predicate pushdown / partition pruning exactly
like a hand-written ``df.filter``.

Supported grammar (case-insensitive keywords):

    expr        := and_expr (OR and_expr)*
    and_expr    := not_expr (AND not_expr)*
    not_expr    := NOT not_expr | '(' expr ')' | predicate
    predicate   := prop (= | <> | != | < | <= | > | >=) literal
                 | prop [NOT] BETWEEN literal AND literal
                 | prop BEFORE datetime | prop AFTER datetime
                 | prop DURING datetime '/' datetime | prop TEQUALS datetime
                 | prop BEFORE OR DURING period | prop DURING OR AFTER period
                 | prop [NOT] IN '(' literal (',' literal)* ')'
                 | prop [NOT] (LIKE | ILIKE) 'pattern'   (% / _ wildcards)
                 | prop IS [NOT] NULL
                 | prop EXISTS | prop DOES-NOT-EXIST      (static schema test)
                 | INCLUDE | EXCLUDE
                 | BBOX '(' prop ',' n ',' n ',' n ',' n ')'
                 | <geomop> '(' prop ',' wkt-literal ')'
                 | DWITHIN '(' prop ',' wkt-literal ',' n [',' units] ')'
                 | BEYOND  '(' prop ',' wkt-literal ',' n [',' units] ')'
                 | RELATE  '(' prop ',' wkt-literal ',' 'DE-9IM' ')'
                   (canonical single-predicate patterns only)
    geomop      := INTERSECTS | DISJOINT | WITHIN | CONTAINS | TOUCHES
                 | CROSSES | OVERLAPS | EQUALS
    literal     := number | 'string' | TRUE | FALSE
    datetime    := ISO-8601 instant (2020-01-05T06:30:00[.ffffff][Z])

Arithmetic expressions and the GeoTools property functions are accepted on
BOTH sides of comparisons and as BETWEEN bounds (CQLQueryFilter accepts
arbitrary GeoTools ECQL expressions; this covers the arithmetic/function
family, still compiling to ONE Catalyst Column):

    aexpr  := aterm (('+'|'-') aterm)*
    aterm  := afact (('*'|'/') afact)*
    afact  := number | 'string' | property | '-' afact | '(' aexpr ')'
            | func '(' aexpr (',' aexpr)* ')'
    func   := abs | ceil | floor | min | max | strToLowerCase
            | strToUpperCase | strLength | strTrim | strConcat

Temporal predicates follow OGC filter semantics (GeoTools ECQL,
modules/library/cql): BEFORE/AFTER are strict, DURING is the open
interval (start, end), TEQUALS is instant equality.  Zone handling: on
TIMESTAMP_NTZ columns (the engine's tables; wall times are UTC by
convention) instants compare as wall times — timezone-independent; on
true TIMESTAMP (LTZ) columns a ``Z``-suffixed instant is honored as an
absolute UTC instant (``cql_filter`` passes the DataFrame schema so the
parser knows the column type).

Geometry properties resolve through the ``geometry`` argument: either the
name of a WKT column, or a ``(lon_col, lat_col)`` pair (point features) —
in the pair case BBOX becomes pure JVM interval algebra and the other
geometry ops run on an on-the-fly ``POINT (lon lat)`` WKT.  Spatial
predicates evaluate through the engine's exact geometry kernel
(functions/geo_udfs), i.e. the same refine used by the joins.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import sqlcells
from . import geo_udfs

# the ECQL geometry operations: each is the predicate-table row of the
# same name (functions/geo_udfs.PREDICATES)
_GEOM_OPS = (
    "INTERSECTS", "DISJOINT", "WITHIN", "CONTAINS", "TOUCHES", "CROSSES",
    "OVERLAPS", "EQUALS",
)

# GeoTools property functions (modules/library/main filter functions) the
# parser accepts inside arithmetic expressions — each maps to one Catalyst
# function, so the whole filter stays a single pushdown-eligible Column
_CQL_FUNCS = {
    "ABS": lambda a: F.abs(a[0]),
    "CEIL": lambda a: F.ceil(a[0]).cast("double"),
    "FLOOR": lambda a: F.floor(a[0]).cast("double"),
    "MIN": lambda a: F.least(*a),
    "MAX": lambda a: F.greatest(*a),
    "STRTOLOWERCASE": lambda a: F.lower(a[0]),
    "STRTOUPPERCASE": lambda a: F.upper(a[0]),
    "STRLENGTH": lambda a: F.length(a[0]).cast("double"),
    "STRTRIM": lambda a: F.trim(a[0]),
    "STRCONCAT": lambda a: F.concat(*a),
}

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<str>'(?:[^']|'')*')
      | (?P<dt>\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(?:\.\d+)?Z?)
      | (?P<num>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
      | (?P<op><=|>=|<>|!=|=|<|>)
      | (?P<lp>\()
      | (?P<rp>\))
      | (?P<comma>,)
      | (?P<slash>/)
      | (?P<arith>[+*-])
      | (?P<word>[A-Za-z_][A-Za-z0-9_.]*)
    )""",
    re.VERBOSE,
)


class CQLError(ValueError):
    pass


def _tokenize(s: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(s):
        m = _TOKEN_RE.match(s, pos)
        if not m or m.end() == m.start():
            rest = s[pos:].strip()
            if not rest:
                break
            raise CQLError(f"unexpected input at: {rest[:40]!r}")
        pos = m.end()
        for kind in ("str", "dt", "num", "op", "lp", "rp", "comma", "slash", "arith", "word"):
            v = m.group(kind)
            if v is not None:
                out.append((kind, v))
                break
    return out


class _Parser:
    def __init__(
        self, tokens: list[tuple[str, str]], geometry, schema=None, id_col=None,
        time_col=None,
    ):
        self.toks = tokens
        self.i = 0
        self.geometry = geometry
        self.schema = schema  # optional StructType for type-aware literals
        self.id_col = id_col  # feature-id column for bare ID filters
        self.time_col = time_col  # column whose temporal preds constrain the index
        # constraint of the most recently parsed sub-expression:
        # (bbox | None, (t0_us, t1_us) | None) — None = unconstrained (TOP).
        # The ExtractGeometryFilterVisitor / ExtractTimeBoundsVisitor analog,
        # computed inline during the single recursive-descent pass.
        self._con = (None, None)

    # -- token helpers ------------------------------------------------------
    def peek(self, kind=None, value=None):
        if self.i >= len(self.toks):
            return None
        k, v = self.toks[self.i]
        if kind and k != kind:
            return None
        if value and v.upper() != value:
            return None
        return v

    def take(self, kind=None, value=None) -> str:
        v = self.peek(kind, value)
        if v is None:
            got = self.toks[self.i] if self.i < len(self.toks) else ("eof", "")
            raise CQLError(f"expected {value or kind}, got {got[1]!r}")
        self.i += 1
        return v

    def at_word(self, *words: str) -> bool:
        v = self.peek("word")
        return v is not None and v.upper() in words

    def peek2_word(self) -> str | None:
        """The word token AFTER the current one (compound-temporal
        lookahead), or None."""
        j = self.i + 1
        if j < len(self.toks) and self.toks[j][0] == "word":
            return self.toks[j][1].upper()
        return None

    # -- grammar ------------------------------------------------------------
    def parse(self) -> Column:
        c = self.expr()
        if self.i != len(self.toks):
            raise CQLError(f"trailing input at {self.toks[self.i][1]!r}")
        return c

    def expr(self) -> Column:
        c = self.and_expr()
        con = self._con
        while self.at_word("OR"):
            self.take("word")
            c = c | self.and_expr()
            con = _con_or(con, self._con)
        self._con = con
        return c

    def and_expr(self) -> Column:
        c = self.not_expr()
        con = self._con
        while self.at_word("AND"):
            self.take("word")
            c = c & self.not_expr()
            con = _con_and(con, self._con)
        self._con = con
        return c

    def not_expr(self) -> Column:
        if self.at_word("NOT"):
            self.take("word")
            c = ~self.not_expr()
            # NOT inverts row membership but never tightens a range — the
            # complement of a bbox is unbounded (ExtractGeometryFilterVisitor
            # returns infinity for negations)
            self._con = (None, None)
            return c
        if self.peek("lp"):
            # could be a parenthesized expr — predicates never start with (
            self.take("lp")
            c = self.expr()
            self.take("rp")
            return c
        return self.predicate()

    # -- literals -----------------------------------------------------------
    def literal(self):
        if self.peek("str") is not None:
            raw = self.take("str")
            return raw[1:-1].replace("''", "'")
        if self.peek("num") is not None or self.peek("arith") in ("-", "+"):
            neg = False
            while self.peek("arith") in ("-", "+"):
                neg ^= self.take("arith") == "-"
            raw = self.take("num")
            v = float(raw) if any(c in raw for c in ".eE") else int(raw)
            return -v if neg else v
        if self.at_word("TRUE"):
            self.take("word")
            return True
        if self.at_word("FALSE"):
            self.take("word")
            return False
        raise CQLError(f"expected literal near {self.toks[self.i:][:1]!r}")

    def number(self) -> float:
        neg = False
        while self.peek("arith") in ("-", "+"):
            neg ^= self.take("arith") == "-"
        v = float(self.take("num"))
        return -v if neg else v

    # -- geometry plumbing --------------------------------------------------
    def geom_column(self, prop: str) -> Column:
        g = self.geometry
        if isinstance(g, tuple):
            lon, lat = g
            return F.concat(
                F.lit("POINT ("), F.col(lon).cast("string"), F.lit(" "),
                F.col(lat).cast("string"), F.lit(")"),
            )
        return F.col(prop)

    # -- arithmetic expressions ----------------------------------------------
    def arith_expr(self) -> Column:
        c = self.arith_term()
        while self.peek("arith") in ("+", "-"):
            if self.take("arith") == "+":
                c = c + self.arith_term()
            else:
                c = c - self.arith_term()
        return c

    def arith_term(self) -> Column:
        c = self.arith_factor()
        while self.peek("arith") == "*" or self.peek("slash"):
            if self.peek("slash"):
                self.take("slash")
                c = c / self.arith_factor()
            else:
                self.take("arith")
                c = c * self.arith_factor()
        return c

    def arith_factor(self) -> Column:
        if self.peek("arith") in ("-", "+"):
            if self.take("arith") == "-":
                return -self.arith_factor()
            return self.arith_factor()
        if self.peek("lp"):
            self.take("lp")
            c = self.arith_expr()
            self.take("rp")
            return c
        if self.peek("num") is not None:
            raw = self.take("num")
            v = float(raw) if any(ch in raw for ch in ".eE") else int(raw)
            return F.lit(v)
        if self.peek("str") is not None:
            raw = self.take("str")
            return F.lit(raw[1:-1].replace("''", "'"))
        w = self.take("word")
        return self.word_factor(w)

    def word_factor(self, w: str) -> Column:
        """A property reference or a function call, given its leading word."""
        if self.peek("lp") is not None and w.upper() in _CQL_FUNCS:
            self.take("lp")
            args = [self.arith_expr()]
            while self.peek("comma"):
                self.take("comma")
                args.append(self.arith_expr())
            self.take("rp")
            return _CQL_FUNCS[w.upper()](args)
        return F.col(w)

    def arith_continue(self, c: Column) -> Column:
        """Continue term/expr parsing when the LHS's first factor is already
        parsed (property-led predicates)."""
        while self.peek("arith") == "*" or self.peek("slash"):
            if self.peek("slash"):
                self.take("slash")
                c = c / self.arith_factor()
            else:
                self.take("arith")
                c = c * self.arith_factor()
        while self.peek("arith") in ("+", "-"):
            if self.take("arith") == "+":
                c = c + self.arith_term()
            else:
                c = c - self.arith_term()
        return c

    def compare(self, lhs: Column) -> Column:
        neg = False
        if self.at_word("NOT"):
            self.take("word")
            neg = True
        if self.at_word("BETWEEN"):
            self.take("word")
            lo = self.arith_expr()
            self.take("word", "AND")
            hi = self.arith_expr()
            c = lhs.between(lo, hi)
            return ~c if neg else c
        if neg:
            raise CQLError("NOT on an expression must precede BETWEEN")
        op = self.take("op")
        rhs = self.arith_expr()
        if op == "=":
            return lhs == rhs
        if op in ("<>", "!="):
            return lhs != rhs
        if op == "<":
            return lhs < rhs
        if op == "<=":
            return lhs <= rhs
        if op == ">":
            return lhs > rhs
        return lhs >= rhs

    # -- predicates ---------------------------------------------------------
    def predicate(self) -> Column:
        # default: a predicate constrains neither space nor time; the
        # spatial/temporal branches overwrite this before returning
        self._con = (None, None)
        if self.peek("num") is not None or self.peek("arith") is not None:
            return self.compare(self.arith_expr())
        w = self.take("word")
        up = w.upper()
        if up == "IN" and self.peek("lp") is not None:
            # bare ID filter (GeoTools ECQL: ``IN ('states.1', 'states.5')``
            # selects by feature id) — resolves against the caller's id_col.
            # NOT IN needs no branch here: not_expr consumes every leading
            # NOT before predicate() runs, so it arrives as ~(this path)
            return self.id_filter()
        if up == "INCLUDE":  # GeoTools Filter.INCLUDE: match everything
            return F.lit(True)
        if up == "EXCLUDE":  # Filter.EXCLUDE: match nothing
            return F.lit(False)
        if up == "BBOX":
            return self.bbox_pred()
        if up in _GEOM_OPS:
            return self.geom_pred(up)
        if up == "DWITHIN":
            return self.dwithin_pred(beyond=False)
        if up == "BEYOND":
            return self.dwithin_pred(beyond=True)
        if up == "RELATE":
            return self.relate_pred()
        if self.peek("lp") is not None and up in _CQL_FUNCS:
            return self.compare(self.arith_continue(self.word_factor(w)))
        return self.attr_pred(w)

    def id_filter(self) -> Column:
        if self.id_col is None:
            raise CQLError(
                "bare ID filter (IN (...)) needs an id_col — pass one to "
                "cql_filter/cql_to_column"
            )
        self.take("lp")
        vals = [self.literal()]
        while self.peek("comma"):
            self.take("comma")
            vals.append(self.literal())
        self.take("rp")
        return F.col(self.id_col).isin(*vals)

    def bbox_pred(self) -> Column:
        self.take("lp")
        prop = self.take("word")
        self.take("comma")
        x0 = self.number()
        self.take("comma")
        y0 = self.number()
        self.take("comma")
        x1 = self.number()
        self.take("comma")
        y1 = self.number()
        self.take("rp")
        if x0 > x1:
            # a reversed box is the wrapped box from x0 east to x1: read it
            # as its x1 + 360 unwrapped form, so the (lon, lat) path, the
            # WKT path and the index constraint all see one box
            x1 += 360.0
        if x1 < -180.0 or (x0 < -180.0 <= x1):
            # canonicalize the x0 < -180 unwrapped form into the engine's
            # x1 > 180 convention (the pairwise kernel only retests the
            # -360 image of x1 > 180 geometries), so both BBOX paths and
            # the join refine agree on antimeridian boxes
            x0, x1 = x0 + 360.0, x1 + 360.0
        if x1 <= 180.0:  # straddle boxes stay unconstrained (index-safe)
            self._con = ((x0, y0, x1, y1), None)
        if isinstance(self.geometry, tuple):
            # the stored-cell refine's point-in-bbox rule: exact per-interval
            # tests over the box's in-range images
            lon, lat = self.geometry
            return sqlcells.bbox_refine_pred(F.col(lon), F.col(lat), (x0, y0, x1, y1))
        wkt = (
            f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))"
        )
        return geo_udfs.st_intersects_wkt(self.geom_column(prop), F.lit(wkt))

    def geom_pred(self, op: str) -> Column:
        self.take("lp")
        prop = self.take("word")
        self.take("comma")
        wkt = self.wkt_literal()
        self.take("rp")
        if op != "DISJOINT":  # a DISJOINT match can lie anywhere
            self._con = (_wkt_envelope(wkt), None)
        fn = geo_udfs.PREDICATES[op.lower()].udf
        return fn(self.geom_column(prop), F.lit(wkt))

    def dwithin_pred(self, beyond: bool = False) -> Column:
        """DWITHIN (distance <= d) and its ECQL complement BEYOND
        (distance > d) — same argument shape."""
        self.take("lp")
        prop = self.take("word")
        self.take("comma")
        wkt = self.wkt_literal()
        self.take("comma")
        dist = self.number()
        if self.peek("comma"):
            self.take("comma")
            units = self.take("word").lower()
            if units not in ("meters", "m", "degrees"):
                raise CQLError(f"unsupported DWITHIN units {units!r}")
            if units in ("meters", "m"):
                dist = dist / 111_320.0  # equatorial degrees (planar engine)
        self.take("rp")
        if not beyond:  # BEYOND matches can lie anywhere
            env = _wkt_envelope(wkt)
            if env is not None:
                self._con = (
                    (env[0] - dist, env[1] - dist, env[2] + dist, env[3] + dist),
                    None,
                )
        d = geo_udfs.st_distance_wkt(self.geom_column(prop), F.lit(wkt))
        return (d > F.lit(dist)) if beyond else (d <= F.lit(dist))

    def relate_pred(self) -> Column:
        """RELATE(prop, wkt, 'DE-9IM'): full GeoTools parity.  A pattern
        that IS a named predicate (the predicate table's DE-9IM masks: the
        canonical four, JTS RelateOp docs) runs that predicate's vectorized
        UDF; every OTHER 9-char mask evaluates through the general matrix
        evaluator (georelate.relate_pair via geo_udfs.st_relate_wkt — the
        JTS RelateOp analog CQLQueryFilter.java reaches for arbitrary
        patterns).

        A pattern demanding interior-interior contact ('T'/'0'/'1'/'2' at
        cell [0,0]) yields the envelope constraint — interiors can only
        meet inside both envelopes — so the index planner prunes for the
        common masks too."""
        self.take("lp")
        prop = self.take("word")
        self.take("comma")
        wkt = self.wkt_literal()
        self.take("comma")
        pat = self.take("str")[1:-1].upper()
        self.take("rp")
        if len(pat) != 9 or any(c not in "TF*012" for c in pat):
            raise CQLError(
                f"RELATE pattern {pat!r} is not a valid 9-char DE-9IM mask"
            )
        if pat[0] in "T012":
            self._con = (_wkt_envelope(wkt), None)
        args = (self.geom_column(prop), F.lit(wkt))
        for p in geo_udfs.PREDICATES.values():
            if p.mask == pat:
                return p.udf(*args)
        return geo_udfs.st_relate_wkt(*args, F.lit(pat))

    def wkt_literal(self) -> str:
        """WKT inside CQL is unquoted: TYPE ( ... ) — consume tokens
        through the balanced parens and reassemble."""
        if self.peek("str") is not None:
            return self.take("str")[1:-1]
        typ = self.take("word").upper()
        if not self.peek("lp"):
            raise CQLError(f"expected WKT after {typ}")
        parts = [typ, " "]
        depth = 0
        while True:
            if self.peek("lp"):
                self.take("lp")
                depth += 1
                parts.append("(")
            elif self.peek("rp"):
                if depth == 0:
                    raise CQLError("unbalanced WKT parens")
                self.take("rp")
                depth -= 1
                parts.append(")")
                if depth == 0:
                    return "".join(parts)
            elif self.peek("comma"):
                self.take("comma")
                parts.append(", ")
            elif self.peek("num") is not None or self.peek("arith") in ("-", "+"):
                sign = ""
                while self.peek("arith") in ("-", "+"):
                    if self.take("arith") == "-":
                        sign = "" if sign == "-" else "-"
                n = sign + self.take("num")
                if parts[-1] not in ("(", ", ", " ") and not parts[-1].endswith(" "):
                    parts.append(" ")
                parts.append(n)
            elif self.peek("word") is not None:  # e.g. MULTIPOLYGON EMPTY
                parts.append(self.take("word").upper())
            else:
                raise CQLError("unterminated WKT literal")

    def attr_pred(self, prop: str) -> Column:
        col = F.col(prop)
        neg = False
        if self.at_word("NOT"):
            self.take("word")
            neg = True
        if self.at_word("BETWEEN"):
            self.take("word")
            lo = self.arith_expr()
            self.take("word", "AND")
            hi = self.arith_expr()
            c = col.between(lo, hi)
            return ~c if neg else c
        if self.at_word("IN"):
            self.take("word")
            self.take("lp")
            vals = [self.literal()]
            while self.peek("comma"):
                self.take("comma")
                vals.append(self.literal())
            self.take("rp")
            c = col.isin(*vals)
            return ~c if neg else c
        if self.at_word("LIKE", "ILIKE"):
            case_ins = self.take("word").upper() == "ILIKE"
            pat = self.literal()
            if not isinstance(pat, str):
                raise CQLError("LIKE pattern must be a string")
            c = col.ilike(pat) if case_ins else col.like(pat)
            return ~c if neg else c
        if self.at_word("EXISTS") and not neg:
            # GeoTools PropertyExistsFunction: a STATIC schema test
            self.take("word")
            return F.lit(self._prop_exists(prop))
        if self.at_word("DOES") and not neg:
            self.take("word")
            if self.take("arith") != "-":
                raise CQLError("expected DOES-NOT-EXIST")
            self.take("word", "NOT")
            if self.take("arith") != "-":
                raise CQLError("expected DOES-NOT-EXIST")
            self.take("word", "EXIST")
            return F.lit(not self._prop_exists(prop))
        if self.at_word("IS"):
            if neg:
                # ECQL spells negated null tests "x IS NOT NULL"; silently
                # dropping a consumed NOT here would invert the predicate
                raise CQLError("use IS NOT NULL, not NOT ... IS NULL")
            self.take("word")
            if self.at_word("NOT"):
                self.take("word")
                self.take("word", "NULL")
                return col.isNotNull()
            self.take("word", "NULL")
            return col.isNull()
        if self.at_word("BEFORE", "AFTER", "DURING", "TEQUALS"):
            if neg:
                raise CQLError("NOT is not supported on temporal predicates")
            return self.temporal_pred(col, prop)
        if neg:
            raise CQLError("NOT must precede BETWEEN/IN/LIKE/ILIKE")
        # property-led arithmetic ("value * 2 + 1 > ..."), then comparison
        return self.compare(self.arith_continue(col))

    def _prop_exists(self, prop: str) -> bool:
        if self.schema is None:
            raise CQLError(
                "EXISTS / DOES-NOT-EXIST needs a schema — use cql_filter, "
                "or pass schema= to cql_to_column"
            )
        return prop in self.schema.fieldNames()

    def temporal_pred(self, col: Column, prop: str | None = None) -> Column:
        """OGC temporal predicates (GeoTools ECQL): BEFORE/AFTER strict,
        DURING = open interval, TEQUALS = instant equality.

        Zone handling: the engine's tables carry TIMESTAMP_NTZ whose wall
        times are UTC by convention, so a ``Z``-suffixed instant compares
        as its (UTC) wall time — timezone-independent.  When the parser
        has a schema (``cql_filter`` passes one) and the column is a true
        TIMESTAMP (LTZ), the ``Z`` is honored as an absolute instant
        (``cast('...Z' as timestamp)`` keeps the offset) instead of being
        stripped into session-local wall time."""
        ltz = False
        if self.schema is not None and prop is not None:
            try:
                from pyspark.sql import types as _T

                ltz = isinstance(self.schema[prop].dataType, _T.TimestampType)
            except Exception:
                ltz = False

        def dt_lit(s: str) -> Column:
            if ltz and s.endswith("Z"):
                return F.lit(s).cast("timestamp")
            return F.lit(s.rstrip("Z").replace("T", " "))

        op = self.take("word").upper()
        raws: list[str] = []

        def period():
            start = self.take("dt")
            self.take("slash")
            end = self.take("dt")
            raws[:] = [start, end]
            return dt_lit(start), dt_lit(end)

        def set_trange(lo, hi):
            # index time constraint (ExtractTimeBoundsVisitor analog) —
            # only the caller-designated time column prunes the index
            if prop is not None and prop == self.time_col:
                self._con = (self._con[0], (lo, hi))

        _INF = float("inf")

        # compound forms (GeoTools ECQL): the OR here binds to the temporal
        # op, not the boolean grammar — exactly two spellings exist
        if op == "BEFORE" and self.at_word("OR") and self.peek2_word() == "DURING":
            self.take("word")
            self.take("word")
            s, e = period()
            set_trange(-_INF, _dt_us(raws[1]))
            return (col < s) | ((col > s) & (col < e))
        if op == "DURING" and self.peek("dt") is None and self.at_word("OR"):
            self.take("word")
            self.take("word", "AFTER")
            s, e = period()
            set_trange(_dt_us(raws[0]), _INF)
            return ((col > s) & (col < e)) | (col > e)
        if op == "DURING":
            s, e = period()
            set_trange(_dt_us(raws[0]), _dt_us(raws[1]))
            return (col > s) & (col < e)
        t = self.take("dt")
        if op == "BEFORE":
            set_trange(-_INF, _dt_us(t))
            return col < dt_lit(t)
        if op == "AFTER":
            set_trange(_dt_us(t), _INF)
            return col > dt_lit(t)
        set_trange(_dt_us(t), _dt_us(t))
        return col == dt_lit(t)  # TEQUALS


def _box_and(a, b):
    if a is None:
        return b
    if b is None:
        return a
    return (max(a[0], b[0]), max(a[1], b[1]), min(a[2], b[2]), min(a[3], b[3]))


def _box_or(a, b):
    if a is None or b is None:
        return None
    return (min(a[0], b[0]), min(a[1], b[1]), max(a[2], b[2]), max(a[3], b[3]))


def _rng_and(a, b):
    if a is None:
        return b
    if b is None:
        return a
    return (max(a[0], b[0]), min(a[1], b[1]))


def _rng_or(a, b):
    if a is None or b is None:
        return None
    return (min(a[0], b[0]), max(a[1], b[1]))


def _con_and(a, b):
    return (_box_and(a[0], b[0]), _rng_and(a[1], b[1]))


def _con_or(a, b):
    return (_box_or(a[0], b[0]), _rng_or(a[1], b[1]))


def _wkt_envelope(wkt: str):
    """Envelope of a WKT literal (driver-side, parse once per query)."""
    from .. import geom as _geom

    try:
        return tuple(float(v) for v in _geom.geometry_from_wkt(wkt).bbox)
    except Exception:
        return None


def _dt_us(s: str) -> int:
    """ISO-8601 instant → epoch micros (UTC wall-time convention, same as
    the NTZ comparison literals)."""
    import datetime as _dt_mod

    d = _dt_mod.datetime.fromisoformat(s.rstrip("Z")).replace(
        tzinfo=_dt_mod.timezone.utc
    )
    return int(d.timestamp() * 1_000_000)


class CQLConstraints:
    """Index constraints extracted from a CQL filter — the
    ExtractGeometryFilterVisitor / time-bounds analog (the reference plans
    these into index query ranges in OptimalCQLQuery.java).

    ``bbox``: (x0, y0, x1, y1) or None (unconstrained).  ``trange``:
    (t0_us, t1_us) epoch-micros, either end possibly ±inf, or None.  An
    inverted interval (AND of disjoint constraints) means provably empty.
    """

    __slots__ = ("bbox", "trange")

    def __init__(self, bbox, trange):
        self.bbox = bbox
        self.trange = trange

    def is_empty(self) -> bool:
        if self.bbox is not None and (
            self.bbox[0] > self.bbox[2] or self.bbox[1] > self.bbox[3]
        ):
            return True
        return self.trange is not None and self.trange[0] > self.trange[1]

    def __repr__(self):  # pragma: no cover - debug aid
        return f"CQLConstraints(bbox={self.bbox}, trange={self.trange})"


def extract_constraints(
    expr: str, geometry="wkt", schema=None, id_col=None, time_col=None
) -> CQLConstraints:
    """Parse ``expr`` and return the spatial/temporal index constraints it
    implies: AND intersects, OR unions (hull), NOT and non-spatial
    predicates are unconstrained.  Only sound PRUNING bounds — the full
    filter must still run as the exact refine (cql_filter does both;
    sources.indexed.cql_query_indexed wires the bbox into the cell-indexed
    scan)."""
    p = _Parser(_tokenize(expr), geometry, schema, id_col, time_col)
    p.parse()
    return CQLConstraints(*p._con)


def cql_to_column(expr: str, geometry="wkt", schema=None, id_col=None) -> Column:
    """Parse an (E)CQL filter string into one Catalyst ``Column``.

    ``geometry``: the WKT column name spatial predicates refer to, or a
    ``(lon_col, lat_col)`` tuple for point features.  ``schema``: optional
    StructType enabling type-aware temporal literals (Z honored as an
    absolute instant for TIMESTAMP-LTZ columns).  ``id_col``: the column a
    bare GeoTools ID filter (``IN ('a', 'b')``) selects on.
    """
    return _Parser(_tokenize(expr), geometry, schema, id_col).parse()


def cql_filter(df: DataFrame, expr: str, geometry="wkt", id_col=None) -> DataFrame:
    """``df.filter`` with a CQL string (CQLQuery.createOptimalQuery analog:
    attribute predicates stay JVM/pushdown-eligible; spatial predicates
    evaluate through the exact geometry kernel)."""
    return df.filter(cql_to_column(expr, geometry, df.schema, id_col))
