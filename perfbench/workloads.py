"""The two workloads: what each loads at set-up, the operations it times,
and the oracle each operation is checked against.  ``joins`` is made of
two parts, the broadcast path and the shuffle path of the spatial join.

Every operation ends in an action whose result is consumed inside the
timed region: joins aggregate their pairs to a (count, hash-sum)
signature in Spark, lookups collect their rows to the driver.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import oracle as orc
from inputs import TS_START_US
from tracing import JobProbe, Tracer, fold_plan, plan_nodes

OP_TIMEOUT_S = 120.0
TILE_LEVELS = [4, 6, 8]
DWITHIN_RADIUS = 0.5


def spark_sig(df: DataFrame, *cols: str) -> DataFrame:
    """One-row frame (n, s): the oracle signature computed in Spark."""
    h = None
    for c, m in zip(cols, orc.MULTS):
        t = F.col(c).cast("long") * F.lit(m)
        h = t if h is None else h + t
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.pmod(h, F.lit(orc.P))), F.lit(0)).cast("long").alias("s"),
    )


@dataclass
class OpResult:
    kind: str
    key: str
    latency_s: float
    build_s: float
    rows_in: int
    sig: tuple[int, int] | None
    error: str | None = None


@dataclass
class Op:
    """One timed operation.  ``build`` returns the DataFrame (planning,
    including any eager jobs the engine runs); ``act`` runs the action and
    returns (signature, the DataFrame whose executed plan to read)."""

    kind: str
    key: str
    build: object
    act: object
    rows_in: int
    expect: object  # () -> oracle signature
    keyed_join: bool = False
    after: object = None  # untimed: () -> signature to check instead of act's
    n_queries: int = 0  # kNN query points, the base of knn.candidates_per_query
    extra: dict = field(default_factory=dict)  # layer values set while running


def _agg_act(*cols):
    def act(df):
        s = spark_sig(df, *cols)
        r = s.collect()[0]
        return (int(r["n"]), int(r["s"])), s
    return act


def _collect_act(*cols):
    def act(df):
        sel = df.select(*cols)
        return orc.sig_rows([tuple(r) for r in sel.collect()]), sel
    return act


class Runner:
    """Runs operations in job groups, times them, checks them later and,
    when tracing, folds each action's plan metrics into the layers."""

    def __init__(self, spark, tracer: Tracer, corrupt: bool = False):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.results: list[OpResult] = []
        self.ops: dict[str, Op] = {}
        self.corrupt = corrupt
        self.probe = JobProbe(spark) if tracer.enabled else None
        self._n = 0

    def run(self, op: Op) -> OpResult:
        self._n += 1
        op.extra.clear()
        group = f"perfbench-op{self._n}"
        self.sc.setJobGroup(group, op.kind, interruptOnCancel=True)
        watchdog = threading.Timer(OP_TIMEOUT_S, self.sc.cancelJobGroup, [group])
        watchdog.start()
        self.tracer.begin_op()
        t0 = time.perf_counter()
        sig, err, action_df, t1 = None, None, None, t0
        try:
            with self.tracer.span(op.kind):
                with self.tracer.span("plan.build"):
                    df = op.build()
                t1 = time.perf_counter()
                with self.tracer.span("action"):
                    sig, action_df = op.act(df)
        except Exception as e:  # an operation failing is a result, not a crash
            err = f"{type(e).__name__}: {e}"[:500]
        t2 = time.perf_counter()
        watchdog.cancel()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        if err is None and op.after is not None:
            try:
                sig = op.after()
            except Exception as e:
                err = f"{type(e).__name__}: {e}"[:500]
        res = OpResult(op.kind, op.key, t2 - t0, t1 - t0, op.rows_in, sig, err)
        self.results.append(res)
        self.ops.setdefault(op.key, op)
        if self.tracer.enabled:
            self._trace(op, res, group, action_df)
        self.tracer.end_op()
        return res

    def _trace(self, op: Op, res: OpResult, group: str, action_df) -> None:
        tr = self.tracer
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tr.add("plan.build_s", res.build_s)
        tr.add("plan.spark_jobs", len(self.probe.jobs(group)))
        tr.add("scan.bytes", self.probe.input_bytes(group))
        for k, v in op.extra.items():
            tr.add(k, v)
        if action_df is None:
            return
        if op.kind == "tiling":
            tr.add("tiling.s", res.latency_s)
        nodes = plan_nodes(action_df._jdf.queryExecution().executedPlan())
        cand = fold_plan(tr, nodes, op.keyed_join, self.probe.stage_tasks_fn(group))
        if op.n_queries:
            tr.add("knn.candidates_per_query", cand / op.n_queries)
        if op.keyed_join and res.sig:
            tr.add("join.output_rows", res.sig[0])
            tr.add("_join.output_total", res.sig[0])
        tr.plans.append({"op": op.key, "group": group, "nodes": [
            {"cls": n["cls"], "parent": n["parent"],
             "metrics": {k: v[0] for k, v in n["metrics"].items()}} for n in nodes
        ]})

    def check(self, expected: dict) -> tuple[int, list[str]]:
        """Compare every result with its oracle; returns (failed, notes).
        ``expected`` caches oracle signatures by operation key and is
        filled in for the keys it lacks."""
        failed, notes = 0, []
        for i, r in enumerate(self.results):
            if r.error is not None:
                failed += 1
                notes.append(f"{r.key}: {r.error}")
                continue
            if r.key not in expected:
                expected[r.key] = list(self.ops[r.key].expect())
            got = r.sig
            if self.corrupt and i == 0:
                got = (got[0] + 1, got[1])
            if list(got) != list(expected[r.key]):
                failed += 1
                notes.append(f"{r.key}: got {got}, oracle {expected[r.key]}")
        return failed, notes


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class BroadcastJoin:
    """Point table (BASELINE image-row shape, position from phash) against
    a few hundred boxes and concave/holed polygons: intersects, dwithin,
    and tile counts at three levels."""

    bulk_kinds = ("intersects", "dwithin", "tiling")

    def __init__(self, inputs):
        self.inputs = inputs

    def load(self, spark) -> dict:
        images = spark.read.parquet(self.inputs.path("images"))
        polygons = spark.read.parquet(self.inputs.path("polygons"))
        return {"images": images, "polygons": polygons,
                "n_images": images.count(), "n_polygons": polygons.count()}

    def oracle(self, con):
        return orc.BroadcastJoinOracle(con, self.inputs)

    def plan(self, spark, f: dict, oc) -> list[Op]:
        from geowave_spark.operators import spatial_join, tiling

        n, m = f["n_images"], f["n_polygons"]
        pair = ("image_id", "polygon_id")
        return [
            Op("intersects", "intersects",
               lambda: spatial_join.tiered_spatial_join(f["images"], f["polygons"]),
               _agg_act(*pair), n + m, lambda: oc().join(None), keyed_join=True),
            Op("dwithin", "dwithin",
               lambda: spatial_join.tiered_spatial_join(
                   f["images"], f["polygons"], predicate="dwithin", radius=DWITHIN_RADIUS),
               _agg_act(*pair), n + m, lambda: oc().join(DWITHIN_RADIUS), keyed_join=True),
            Op("tiling", "tiles", lambda: tiling.tile_counts(f["images"], TILE_LEVELS),
               _agg_act("level", "tile_x", "tile_y", "n_images"), n,
               lambda: oc().tiles(TILE_LEVELS)),
        ]


class ShuffleJoin:
    """Polygon side above the broadcast limit, a quarter of the points in
    one tier-10 cell, the salt planned by plans.skew; plus a big x big
    extent join."""

    bulk_kinds = ("shuffle_join", "extent_join")

    def __init__(self, inputs):
        self.inputs = inputs

    def load(self, spark) -> dict:
        pts = spark.read.parquet(self.inputs.path("points"))
        polys = spark.read.parquet(self.inputs.path("polygons"))
        ext = spark.read.parquet(self.inputs.path("extents"))
        return {"points": pts, "polygons": polys, "extents": ext,
                "n_points": pts.count(), "n_polygons": polys.count(), "n_extents": ext.count()}

    def oracle(self, con):
        return orc.ShuffleJoinOracle(con, self.inputs)

    def plan(self, spark, f: dict, oc) -> list[Op]:
        from geowave_spark.operators import spatial_join
        from geowave_spark.plans import skew

        n, m, e = f["n_points"], f["n_polygons"], f["n_extents"]
        # a task target sized to this input, so the planned salt is > 1
        target = max(1, n // 16)
        extra: dict = {}

        def build_join():
            t0 = time.perf_counter()
            salt = skew.plan_shuffle_join_salt(f["points"], target_rows_per_task=target)
            extra["skew.plan_s"] = time.perf_counter() - t0
            extra["skew.salt"] = salt
            return spatial_join.tiered_spatial_join(
                f["points"], f["polygons"].select("polygon_id", "wkt"), salt=salt)

        poly_boxes = f["polygons"].select("polygon_id", "x0", "y0", "x1", "y1")
        return [
            Op("shuffle_join", "shuffle_join", build_join,
               _agg_act("image_id", "polygon_id"), n + m, lambda: oc().join(),
               keyed_join=True, extra=extra),
            Op("extent_join", "extent_join",
               lambda: spatial_join.tiered_extent_join_shuffle(
                   poly_boxes, f["extents"], left_id="polygon_id", right_id="extent_id"),
               _agg_act("polygon_id", "extent_id"), m + e, lambda: oc().extents(),
               keyed_join=True),
        ]


class Joins:
    """Both join paths in one cycle: the broadcast part, then the shuffle
    part.  Each part keeps its own inputs, frames and oracle."""

    name = "joins"

    bulk_kinds = BroadcastJoin.bulk_kinds + ShuffleJoin.bulk_kinds

    def __init__(self, inputs, seed: int, work: str):
        self.parts = {"broadcast_join": BroadcastJoin(inputs.part("broadcast_join")),
                      "shuffle_join": ShuffleJoin(inputs.part("shuffle_join"))}

    def load(self, spark) -> dict:
        return {name: part.load(spark) for name, part in self.parts.items()}

    def oracle(self, con):
        return {name: part.oracle(con) for name, part in self.parts.items()}

    def plan(self, spark, f: dict, oc) -> list[Op]:
        cycle: list[Op] = []
        for name, part in self.parts.items():
            cycle += part.plan(spark, f[name], lambda name=name: oc()[name])
        return cycle


def _fmt_ts(us: int) -> str:
    return np.datetime64(int(us), "us").astype(str)[:19]


class IndexedLookup:
    """Each cycle: indexed writes (both layouts, overwriting the previous
    cycle's), then a seeded set of short queries against them, collected
    to the driver, one client."""

    name = "indexed_lookup"
    ST_UNIT = "month"

    bulk_kinds = ("ingest",)

    def __init__(self, inputs, seed: int, work: str):
        self.inputs = inputs
        self.seed = seed
        self.work = work
        self.path_xy = os.path.join(self.work, "xy")
        self.path_st = os.path.join(self.work, "st")

    def load(self, spark) -> dict:
        rows = spark.read.parquet(self.inputs.path("rows"))
        return {"rows": rows, "n_rows": rows.count()}

    def oracle(self, con):
        return orc.IndexedLookupOracle(con, self.inputs)

    def _ingest(self, spark, f: dict, oc) -> Op:
        from geowave_spark.sources import indexed

        extra: dict = {}

        def act(_df):
            for path, write in ((self.path_xy, lambda: indexed.write_indexed(f["rows"], self.path_xy, n_files=8)),
                                (self.path_st, lambda: indexed.write_indexed_st(
                                    f["rows"], self.path_st, n_files=8, unit=self.ST_UNIT))):
                t0 = time.perf_counter()
                write()
                extra["ingest.write_s"] = extra.get("ingest.write_s", 0.0) + time.perf_counter() - t0
                files = [os.path.join(path, x) for x in os.listdir(path) if x.endswith(".parquet")]
                extra["ingest.files"] = extra.get("ingest.files", 0) + len(files)
                extra["ingest.bytes_written"] = (
                    extra.get("ingest.bytes_written", 0) + sum(os.path.getsize(p) for p in files))
            return None, None

        def after():
            # both layouts must hold exactly the input rows
            a = spark_sig(spark.read.parquet(self.path_xy), "id").collect()[0]
            b = spark_sig(spark.read.parquet(self.path_st), "id").collect()[0]
            if (a["n"], a["s"]) != (b["n"], b["s"]):
                return (-1, -1)
            return int(a["n"]), int(a["s"])

        return Op("ingest", "ingest", lambda: None, act, 2 * f["n_rows"],
                  lambda: oc().count_all(), after=after, extra=extra)

    def plan(self, spark, f: dict, oc) -> list[Op]:
        return [self._ingest(spark, f, oc)] + self._queries(spark, f, oc)

    def _queries(self, spark, f: dict, oc) -> list[Op]:
        from geowave_spark.operators import knn
        from geowave_spark.sources import indexed

        rng = np.random.default_rng([self.seed, 11])
        ops: list[Op] = []

        def bbox(size):
            w = float(size)
            h = min(w * 0.75, 170.0)
            x0 = float(rng.uniform(-180.0, 180.0 - w))
            y0 = float(rng.uniform(-85.0, 85.0 - h))
            return (x0, y0, x0 + w, y0 + h)

        def range_op(key, box):
            return Op("range", key, lambda: indexed.range_lookup_indexed(spark, self.path_xy, box),
                      _collect_act("id"), 0, lambda: oc().range(box))

        # the seed places the queries; their sizes are fixed, so the rows
        # each returns hardly change with the seed
        sizes = (0.5, 2.5, 10.0, 40.0)
        for i, s in enumerate(sizes):
            ops.append(range_op(f"range{i}", bbox(s)))
        am_y = float(rng.uniform(-60.0, 40.0))
        am_x = float(rng.uniform(170.0, 176.0))
        ops.append(range_op("range_am", (am_x, am_y, am_x + 15.0, am_y + 15.0)))

        for i, lv in enumerate((6, 8)):
            tx = int(rng.integers(0, 1 << (lv + 1)))
            ty = int(rng.integers(1 << (lv - 2), 3 << (lv - 2)))
            w, h = 360.0 / (1 << (lv + 1)), 180.0 / (1 << lv)
            box = (-180.0 + tx * w, -90.0 + ty * h, -180.0 + (tx + 1) * w, -90.0 + (ty + 1) * h)
            ops.append(range_op(f"tile{i}", box))

        b1 = bbox(15.0)
        v = 50.0
        expr1 = f"BBOX(geom, {b1[0]!r}, {b1[1]!r}, {b1[2]!r}, {b1[3]!r}) AND value > {v!r}"
        ops.append(Op("cql", "cql_attr", lambda: indexed.cql_query_indexed(spark, self.path_xy, expr1),
                      _collect_act("id"), 0, lambda: oc().cql_attr(b1, v)))

        b2 = bbox(15.0)
        # a 14-day window inside one calendar month: one time bin of the
        # month layout whatever the seed, so the planned ranges are alike
        month = np.datetime64(TS_START_US, "us").astype("datetime64[M]") + int(rng.integers(0, 23))
        t0 = int(month.astype("datetime64[us]").astype(np.int64)) + int(rng.integers(0, 11)) * 86_400_000_000
        t1 = t0 + 14 * 86_400_000_000
        s0, s1 = _fmt_ts(t0), _fmt_ts(t1)
        expr2 = f"BBOX(geom, {b2[0]!r}, {b2[1]!r}, {b2[2]!r}, {b2[3]!r}) AND ts DURING {s0}/{s1}"
        ops.append(Op("cql", "cql_st", lambda: indexed.cql_query_indexed_st(
            spark, self.path_st, expr2, time_col="ts", unit=self.ST_UNIT),
            _collect_act("id"), 0, lambda: oc().cql_st(b2, s0.replace("T", " "), s1.replace("T", " "))))

        b3 = bbox(10.0)
        x0, y0, x1, y1 = b3
        poly = f"POLYGON (({x0!r} {y0!r}, {x1!r} {y0!r}, {x1!r} {y1!r}, {x0!r} {y1!r}, {x0!r} {y0!r}))"
        expr3 = f"RELATE(geom, {poly}, 'T*F**F***')"
        ops.append(Op("cql", "cql_relate", lambda: indexed.cql_query_indexed(spark, self.path_xy, expr3),
                      _collect_act("id"), 0, lambda: oc().relate_within(b3)))

        qs = [(i, float(rng.uniform(-150.0, 150.0)), float(rng.uniform(-60.0, 60.0))) for i in range(4)]
        k, maxd = 10, 2.0

        def knn_q(with_limits: bool):
            rows = [(q, x, y, k, maxd) if with_limits else (q, x, y) for q, x, y in qs]
            schema = ("query_id long, lon double, lat double, k int, max_distance double"
                      if with_limits else "query_id long, lon double, lat double")
            return spark.createDataFrame(rows, schema)

        pts = lambda: spark.read.parquet(self.path_xy)  # noqa: E731
        ops.append(Op("knn", "knn_join", lambda: knn.knn_join(pts(), knn_q(True), point_id="id"),
                      _collect_act("query_id", "id", "rank"), 0, lambda: oc().knn(qs, k, maxd),
                      n_queries=len(qs)))
        ops.append(Op("knn", "knn_adaptive", lambda: knn.knn_adaptive(pts(), knn_q(False), k, point_id="id"),
                      _collect_act("query_id", "id", "rank"), 0, lambda: oc().knn(qs, k, None),
                      n_queries=len(qs)))
        return ops


WORKLOADS = {w.name: w for w in (Joins, IndexedLookup)}


def median(xs):
    return statistics.median(xs) if xs else 0.0
