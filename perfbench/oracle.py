"""Independent DuckDB oracles over the same parquet the engine reads.

Each oracle returns the signature the benchmark compares: (row count, sum
of a 31-bit integer row hash).  The hash uses only integer columns, so it
is identical in Spark, DuckDB and numpy without any string formatting.
Geometry is parsed here from the generator's own WKT, not by the engine.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

P = 2147483647
MULTS = (1000003, 7919, 104729, 31)


def row_hash_sql(*cols: str) -> str:
    terms = " + ".join(f"CAST({c} AS BIGINT) * {m}" for c, m in zip(cols, MULTS))
    return f"(({terms}) % {P})"


def sig_sql(con, relation: str, *cols: str) -> tuple[int, int]:
    n, s = con.execute(
        f"SELECT COUNT(*), COALESCE(SUM({row_hash_sql(*cols)}), 0)::BIGINT FROM ({relation})"
    ).fetchone()
    return int(n), int(s)


def sig_rows(rows: list[tuple]) -> tuple[int, int]:
    """The same signature over rows collected to the driver."""
    if not rows:
        return 0, 0
    a = np.asarray(rows, dtype=np.int64).reshape(len(rows), -1)
    h = np.zeros(len(rows), dtype=np.int64)
    for j in range(a.shape[1]):
        h += a[:, j] * MULTS[j]
    return len(rows), int((h % P).sum())


def connect(threads: int, temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    return con


def _glob(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


def parse_rings(wkt: str) -> list[np.ndarray]:
    """POLYGON WKT (as the generator writes it) -> list of (n, 2) rings."""
    body = wkt[wkt.index("((") + 2: wkt.rindex("))")]
    return [np.array(r.replace(",", " ").split(), dtype=np.float64).reshape(-1, 2)
            for r in body.split("), (")]


def register_polygons(con, path: str, name: str) -> None:
    """Tables <name>(pid, x0, y0, x1, y1, is_box) and <name>_edges."""
    df = pd.read_parquet(path)
    pids = df["polygon_id"].astype(np.int64).to_numpy()
    polys = np.empty((len(df), 4))
    is_box = np.zeros(len(df), dtype=bool)
    e_pid, e_a, e_b = [], [], []
    for i, wkt in enumerate(df["wkt"]):
        rings = parse_rings(wkt)
        outer = rings[0]
        polys[i, :2] = outer.min(axis=0)
        polys[i, 2:] = outer.max(axis=0)
        is_box[i] = (len(rings) == 1 and len(outer) == 5
                     and len(np.unique(outer[:, 0])) == 2 and len(np.unique(outer[:, 1])) == 2)
        for r in rings:
            e_a.append(r[:-1])
            e_b.append(r[1:])
            e_pid.append(np.full(len(r) - 1, pids[i]))
    a, b = np.concatenate(e_a), np.concatenate(e_b)
    pdf = pd.DataFrame({"pid": pids, "x0": polys[:, 0], "y0": polys[:, 1],
                        "x1": polys[:, 2], "y1": polys[:, 3], "is_box": is_box})
    edf = pd.DataFrame({"pid": np.concatenate(e_pid), "ax": a[:, 0], "ay": a[:, 1],
                        "bx": b[:, 0], "by": b[:, 1]})
    con.register(f"{name}_df", pdf)
    con.register(f"{name}_edges_df", edf)
    con.execute(f"CREATE OR REPLACE TEMP TABLE {name} AS SELECT * FROM {name}_df")
    con.execute(f"CREATE OR REPLACE TEMP TABLE {name}_edges AS SELECT * FROM {name}_edges_df")
    con.unregister(f"{name}_df")
    con.unregister(f"{name}_edges_df")


# crossing-number parity over every ring (holes included), and the
# planar point-segment distance, for candidate (point, polygon) pairs
_INSIDE = (
    "(SUM(CASE WHEN ((e.ay > c.py) <> (e.by > c.py)) "
    "AND (c.px < (e.bx - e.ax) * (c.py - e.ay) / (e.by - e.ay) + e.ax) "
    "THEN 1 ELSE 0 END) % 2 = 1)"
)
_SEG_T = (
    "greatest(0.0::DOUBLE, least(1.0::DOUBLE, ((c.px - e.ax) * (e.bx - e.ax) + (c.py - e.ay) * (e.by - e.ay))"
    " / nullif((e.bx - e.ax) * (e.bx - e.ax) + (e.by - e.ay) * (e.by - e.ay), 0)))"
)
_SEG_D = (
    f"sqrt(power(c.px - (e.ax + coalesce({_SEG_T}, 0) * (e.bx - e.ax)), 2) "
    f"+ power(c.py - (e.ay + coalesce({_SEG_T}, 0) * (e.by - e.ay)), 2))"
)


def _general_pairs(cand: str, edges: str, radius: float | None) -> str:
    """Pairs (point, pid) of a candidate relation (pt, pid, px, py) that
    pass the exact general-polygon test."""
    keep = _INSIDE if radius is None else f"({_INSIDE} OR MIN({_SEG_D}) <= {float(radius)!r}::DOUBLE)"
    return (
        f"SELECT c.pt, c.pid FROM ({cand}) c JOIN {edges} e ON e.pid = c.pid "
        f"GROUP BY c.pt, c.pid, c.px, c.py HAVING {keep}"
    )


# ---------------------------------------------------------------------------
# broadcast_join
# ---------------------------------------------------------------------------

def _d(v: float) -> str:
    return f"{float(v)!r}::DOUBLE"


class BroadcastJoinOracle:
    def __init__(self, con, inputs):
        self.con = con
        con.execute(
            "CREATE OR REPLACE TEMP TABLE bj_pts AS SELECT image_id AS pt, "
            f"CAST((phash >> 32) & 4294967295 AS DOUBLE) / {_d(2**32)} * {_d(360)} - {_d(180)} AS px, "
            f"CAST(phash & 4294967295 AS DOUBLE) / {_d(2**32)} * {_d(180)} - {_d(90)} AS py "
            f"FROM {_glob(inputs.path('images'))}"
        )
        register_polygons(con, inputs.path("polygons"), "bj_poly")

    def join(self, radius: float | None) -> tuple[int, int]:
        r = 0.0 if radius is None else float(radius)
        box_keep = (
            "(c.py >= p.y0 AND c.py <= p.y1 AND ((c.px >= p.x0 AND c.px <= p.x1) "
            f"OR (c.px + {_d(360)} >= p.x0 AND c.px + {_d(360)} <= p.x1)))"
        )
        if radius is not None:
            near = (
                f"(c.py >= p.y0 - {_d(r)} AND c.py <= p.y1 + {_d(r)} AND "
                f"((c.px >= p.x0 - {_d(r)} AND c.px <= p.x1 + {_d(r)}) OR "
                f"(c.px + {_d(360)} >= p.x0 - {_d(r)} AND c.px + {_d(360)} <= p.x1 + {_d(r)})))"
            )

            def dist(px):
                ddx = f"greatest(p.x0 - {px}, {px} - p.x1, {_d(0)})"
                ddy = f"greatest(p.y0 - c.py, c.py - p.y1, {_d(0)})"
                return f"sqrt({ddx} * {ddx} + {ddy} * {ddy})"
            box_keep = f"({near} AND least({dist('c.px')}, {dist(f'(c.px + {_d(360)})')}) <= {_d(r)})"
        boxes = f"SELECT c.pt, p.pid FROM bj_pts c JOIN bj_poly p ON p.is_box WHERE {box_keep}"
        cand = (
            "SELECT c.pt, p.pid, c.px, c.py FROM bj_pts c JOIN bj_poly p ON NOT p.is_box "
            f"WHERE c.px >= p.x0 - {_d(r)} AND c.px <= p.x1 + {_d(r)} "
            f"AND c.py >= p.y0 - {_d(r)} AND c.py <= p.y1 + {_d(r)}"
        )
        general = _general_pairs(cand, "bj_poly_edges", radius)
        return sig_sql(self.con, f"{boxes} UNION ALL {general}", "pt", "pid")

    def tiles(self, levels: list[int]) -> tuple[int, int]:
        parts = []
        for lv in levels:
            nx, ny = 1 << (lv + 1), 1 << lv
            tx = f"least(greatest(CAST(floor((px + {_d(180)}) / {_d(360)} * {_d(nx)}) AS BIGINT), 0), {nx - 1})"
            ty = f"least(greatest(CAST(floor((py + {_d(90)}) / {_d(180)} * {_d(ny)}) AS BIGINT), 0), {ny - 1})"
            parts.append(f"SELECT {lv} AS lv, {tx} AS tx, {ty} AS ty FROM bj_pts")
        rel = f"SELECT lv, tx, ty, COUNT(*) AS n FROM ({' UNION ALL '.join(parts)}) GROUP BY lv, tx, ty"
        return sig_sql(self.con, rel, "lv", "tx", "ty", "n")


# ---------------------------------------------------------------------------
# shuffle_join
# ---------------------------------------------------------------------------

class ShuffleJoinOracle:
    """Equi-join on 1-degree grid cells (every polygon and extent here is
    under a degree across), then the exact test."""

    def __init__(self, con, inputs):
        self.con = con
        self.inputs = inputs
        con.execute(
            "CREATE OR REPLACE TEMP TABLE sj_pts AS SELECT image_id AS pt, lon AS px, lat AS py, "
            "CAST(floor(lon) AS INT) AS gx, CAST(floor(lat) AS INT) AS gy "
            f"FROM {_glob(inputs.path('points'))}"
        )
        register_polygons(con, inputs.path("polygons"), "sj_poly")

    def _cells(self, rel: str, alias: str) -> str:
        """Every (gx, gy) cell a bbox relation overlaps."""
        gx = f"unnest(range(CAST(floor({alias}.x0) AS INT), CAST(floor({alias}.x1) AS INT) + 1))"
        gy = "unnest(range(CAST(floor(y0) AS INT), CAST(floor(y1) AS INT) + 1))"
        return f"SELECT *, {gy} AS gy FROM (SELECT {alias}.*, {gx} AS gx FROM {rel} {alias})"

    def join(self) -> tuple[int, int]:
        cand = (
            f"SELECT DISTINCT c.pt, p.pid, c.px, c.py FROM sj_pts c JOIN ({self._cells('sj_poly', 'q')}) p "
            "ON c.gx = p.gx AND c.gy = p.gy "
            "WHERE c.px >= p.x0 AND c.px <= p.x1 AND c.py >= p.y0 AND c.py <= p.y1"
        )
        return sig_sql(self.con, _general_pairs(cand, "sj_poly_edges", None), "pt", "pid")

    def extents(self) -> tuple[int, int]:
        ext = f"(SELECT * FROM {_glob(self.inputs.path('extents'))})"
        rel = (
            f"SELECT DISTINCT p.pid, e.extent_id FROM ({self._cells('sj_poly', 'q')}) p "
            f"JOIN ({self._cells(ext, 'r')}) e ON p.gx = e.gx AND p.gy = e.gy "
            "WHERE p.x0 <= e.x1 AND p.x1 >= e.x0 AND p.y0 <= e.y1 AND p.y1 >= e.y0"
        )
        return sig_sql(self.con, rel, "pid", "extent_id")


# ---------------------------------------------------------------------------
# indexed_lookup
# ---------------------------------------------------------------------------

def lon_intervals(x0: float, x1: float) -> list[tuple[float, float]]:
    """A lon range, unwrapped past +180 allowed, as in-range intervals."""
    if x1 > 180.0:
        return [(x0, 180.0), (-180.0, x1 - 360.0)]
    return [(x0, x1)]


class IndexedLookupOracle:
    def __init__(self, con, inputs):
        self.con = con
        con.execute(f"CREATE OR REPLACE TEMP TABLE il_rows AS SELECT * FROM {_glob(inputs.path('rows'))}")

    def count_all(self) -> tuple[int, int]:
        return sig_sql(self.con, "SELECT id FROM il_rows", "id")

    def _bbox(self, bbox) -> str:
        x0, y0, x1, y1 = bbox
        lons = " OR ".join(f"(lon >= {_d(a)} AND lon <= {_d(b)})" for a, b in lon_intervals(x0, x1))
        return f"lat >= {_d(y0)} AND lat <= {_d(y1)} AND ({lons})"

    def range(self, bbox) -> tuple[int, int]:
        return sig_sql(self.con, f"SELECT id FROM il_rows WHERE {self._bbox(bbox)}", "id")

    def cql_attr(self, bbox, value: float) -> tuple[int, int]:
        return sig_sql(self.con, f"SELECT id FROM il_rows WHERE {self._bbox(bbox)} AND value > {_d(value)}", "id")

    def cql_st(self, bbox, t0: str, t1: str) -> tuple[int, int]:
        return sig_sql(
            self.con,
            f"SELECT id FROM il_rows WHERE {self._bbox(bbox)} "
            f"AND ts > TIMESTAMP '{t0}' AND ts < TIMESTAMP '{t1}'",
            "id",
        )

    def relate_within(self, bbox) -> tuple[int, int]:
        x0, y0, x1, y1 = bbox
        return sig_sql(
            self.con,
            f"SELECT id FROM il_rows WHERE lon > {_d(x0)} AND lon < {_d(x1)} "
            f"AND lat > {_d(y0)} AND lat < {_d(y1)}",
            "id",
        )

    def knn(self, queries: list[tuple], k: int, max_distance: float | None) -> tuple[int, int]:
        qv = ", ".join(f"({q}, {_d(x)}, {_d(y)})" for q, x, y in queries)
        within = "" if max_distance is None else f"WHERE dist <= {_d(max_distance)}"
        rel = (
            f"SELECT qid, id, rank FROM (SELECT qid, id, row_number() OVER "
            f"(PARTITION BY qid ORDER BY dist, id) AS rank FROM ("
            f"SELECT q.qid, r.id, sqrt((r.lon - q.qx) * (r.lon - q.qx) + (r.lat - q.qy) * (r.lat - q.qy)) AS dist "
            f"FROM il_rows r, (VALUES {qv}) q(qid, qx, qy)) {within}) WHERE rank <= {int(k)}"
        )
        return sig_sql(self.con, rel, "qid", "id", "rank")
