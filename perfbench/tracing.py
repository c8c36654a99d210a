"""Tracing for the benchmark: spans, per-layer counters and memory.

Everything here lives in the benchmark's own files.  Spans are recorded
around calls into the engine's public functions (the traced run wraps a
few module attributes, see ``instrument``), and the per-node SQLMetrics
are read back from the executed adaptive plan of each timed action.
"""

from __future__ import annotations

import contextlib
import os
import re
import threading
import time
from collections import defaultdict

from metrics import PER_LAYER


class Tracer:
    """In-memory spans (name, start, end, parent, run id) plus per-layer
    counters.  Disabled, every method is a no-op."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.plans: list[dict] = []
        self._stack: list[int] = []
        # layer metric -> [sum, n]; n counts the operations that fed it
        self._acc: dict[str, list[float]] = defaultdict(lambda: [0.0, 0])
        self._op: dict[str, float] | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def begin_op(self) -> None:
        self._op = defaultdict(float) if self.enabled else None

    def add(self, metric: str, value: float) -> None:
        """Add to the current operation's value of a layer metric."""
        if self._op is not None:
            self._op[metric] += value

    def end_op(self) -> None:
        """Fold the operation's values into the run's per-operation means."""
        if self._op is None:
            return
        for k, v in self._op.items():
            a = self._acc[k]
            a[0] += v
            a[1] += 1
        self._op = None

    def record(self, metric: str, value: float) -> None:
        """A layer value measured outside any operation (set-up)."""
        a = self._acc[metric]
        a[0] += value
        a[1] += 1

    def layer_metrics(self) -> dict[str, float]:
        out = {}
        for name, _unit, _better, _moves in PER_LAYER:
            s, n = self._acc.get(name, (0.0, 0))
            out[name] = s / n if n else 0.0
        # ratios of summed counts, not means of per-operation ratios
        gen_in = self._acc.get("_keying.points_in", (0.0, 0))[0]
        gen_out = self._acc.get("_keying.keys_out", (0.0, 0))[0]
        out["keying.keys_per_point"] = gen_out / gen_in if gen_in else 0.0
        cand = self._acc.get("_join.candidates_total", (0.0, 0))[0]
        hit = self._acc.get("_join.output_total", (0.0, 0))[0]
        out["join.hit_ratio"] = hit / cand if cand else 0.0
        return out


# ---------------------------------------------------------------------------
# SQLMetrics read back from the executed (adaptive) plan
# ---------------------------------------------------------------------------

def _metrics_of(node) -> dict[str, tuple[int, str, int]]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m = kv._2()
        out[kv._1()] = (int(m.value()), m.metricType(), int(m.id()))
    return out


def plan_nodes(jplan) -> list[dict]:
    """Flatten an executed plan, descending through AdaptiveSparkPlanExec
    and every *QueryStageExec.  Each entry: class, metrics, parent index."""
    nodes: list[dict] = []

    def walk(p, parent):
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(p.executedPlan(), parent)
            return
        if cls.endswith("QueryStageExec"):
            walk(p.plan(), parent)
            return
        idx = len(nodes)
        nodes.append({"cls": cls, "metrics": _metrics_of(p), "parent": parent})
        ch = p.children().iterator()
        while ch.hasNext():
            walk(ch.next(), idx)

    walk(jplan, None)
    return nodes


_JOINS = ("BroadcastHashJoinExec", "SortMergeJoinExec", "ShuffledHashJoinExec",
          "BroadcastNestedLoopJoinExec", "CartesianProductExec")
_MS = 1e-3


def _val(node, key) -> int:
    return node["metrics"].get(key, (0, "", 0))[0]


def _below(nodes, idx, pred) -> bool:
    """Whether any descendant of nodes[idx] satisfies pred."""
    for j in range(idx + 1, len(nodes)):
        k = nodes[j]["parent"]
        while k is not None and k > idx:
            k = nodes[k]["parent"]
        if k == idx and pred(nodes[j]):
            return True
    return False


def _first_rows_below(nodes, idx) -> int:
    for j in range(idx + 1, len(nodes)):
        if nodes[j]["parent"] == idx:
            if "numOutputRows" in nodes[j]["metrics"]:
                return _val(nodes[j], "numOutputRows")
            return _first_rows_below(nodes, j)
    return 0


def _filter_above(nodes, idx) -> int | None:
    k = nodes[idx]["parent"]
    while k is not None:
        if nodes[k]["cls"] == "FilterExec":
            return _val(nodes[k], "numOutputRows")
        if nodes[k]["cls"] not in ("InputAdapter", "ProjectExec", "WholeStageCodegenExec"):
            return None
        k = nodes[k]["parent"]
    return None


def fold_plan(tracer: Tracer, nodes: list[dict], keyed_join: bool, stage_tasks) -> int:
    """Add one executed plan's layer counters to the current operation.
    Returns the rows out of the lowest join(s): the key-match candidates."""
    candidates = 0
    for i, n in enumerate(nodes):
        cls, m = n["cls"], n["metrics"]
        if cls == "FileSourceScanExec":
            tracer.add("scan.rows", _val(n, "numOutputRows"))
            tracer.add("scan.files", _val(n, "numFiles"))
        elif cls == "ShuffleExchangeExec":
            tracer.add("exchange.shuffle_bytes", _val(n, "shuffleBytesWritten"))
        elif cls == "BroadcastExchangeExec":
            tracer.add("exchange.broadcast_bytes", _val(n, "dataSize"))
        elif cls == "AQEShuffleReadExec":
            tracer.add("exchange.skewed_partitions", _val(n, "numSkewedPartitions"))
        elif "pythonBootTime" in m:
            tracer.add("refine.rows_in", _val(n, "pythonNumRowsReceived"))
            out = _filter_above(nodes, i)
            tracer.add("refine.rows_out", _val(n, "pythonNumRowsReceived") if out is None else out)
            tracer.add("refine.python_boot_s", _val(n, "pythonBootTime") * _MS)
            tracer.add("refine.python_init_s", _val(n, "pythonInitTime") * _MS)
            tracer.add("refine.python_total_s", _val(n, "pythonTotalTime") * _MS)
            tracer.add("refine.bytes_sent", _val(n, "pythonDataSent"))
            tracer.add("refine.tasks", stage_tasks(m["pythonTotalTime"][2]))
        elif keyed_join and cls == "GenerateExec":
            tracer.add("_keying.keys_out", _val(n, "numOutputRows"))
            tracer.add("_keying.points_in", _first_rows_below(nodes, i))
        if cls in _JOINS and not _below(nodes, i, lambda d: d["cls"] in _JOINS):
            candidates += _val(n, "numOutputRows")
    if keyed_join:
        tracer.add("join.candidates", candidates)
        tracer.add("_join.candidates_total", candidates)
    return candidates


_STAGE_RE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")


class JobProbe:
    """Job counts per job group, and the task count of the stage that ran
    a given SQLMetric (read from the SQL status store's metric text, which
    names the stage of the slowest task)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = spark._jsparkSession.sharedState().statusStore()

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def input_bytes(self, group: str) -> int:
        """Bytes read from storage by every stage of the group's jobs."""
        status = self.sc._jsc.sc().statusStore()
        total = 0
        for jid in self.jobs(group):
            info = self.sc.statusTracker().getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    total += int(status.lastStageAttempt(int(sid)).inputBytes())
                except Exception:  # stage skipped or evicted from the store
                    pass
        return total

    def stage_tasks_fn(self, group: str):
        job_ids = set(self.jobs(group))
        texts: dict[int, str] = {}
        it = self.store.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            jobs = ex.jobs().keySet().iterator()
            mine = False
            while jobs.hasNext():
                if int(jobs.next()) in job_ids:
                    mine = True
            if mine:
                ms = self.store.executionMetrics(ex.executionId()).iterator()
                while ms.hasNext():
                    kv = ms.next()
                    texts[int(kv._1())] = str(kv._2())

        def tasks(accum_id: int) -> int:
            mt = _STAGE_RE.search(texts.get(accum_id, ""))
            if not mt:
                return 0
            info = self.sc.statusTracker().getStageInfo(int(mt.group(1)))
            return int(info.numTasks) if info else 0

        return tasks


# ---------------------------------------------------------------------------
# Spans around the engine's public functions (traced runs only)
# ---------------------------------------------------------------------------

def instrument(tracer: Tracer) -> None:
    """Wrap the layer entry points the operators call through their
    modules, so spans and counts land on the current operation."""
    from geowave_spark.functions import cql
    from geowave_spark.operators import knn, spatial_join
    from geowave_spark.sources import indexed

    def wrap(mod, name, span, time_metric=None, after=None):
        fn = getattr(mod, name)

        def traced(*a, **kw):
            t0 = time.perf_counter()
            with tracer.span(span):
                out = fn(*a, **kw)
            if time_metric:
                tracer.add(time_metric, time.perf_counter() - t0)
            if after:
                after(out)
            return out

        setattr(mod, name, traced)

    wrap(spatial_join, "polygon_cover_local", "plan.cover", "plan.cover_s",
         lambda out: tracer.add("plan.cover_cells", len(out[0])))
    wrap(indexed, "cell_range_predicate", "plan.cover", "plan.cover_s",
         lambda out: tracer.add("plan.query_ranges", out[1]))
    wrap(cql, "extract_constraints", "cql.parse", "cql.parse_s")
    wrap(cql, "cql_to_column", "cql.parse", "cql.parse_s")
    wrap(knn, "distance_candidates", "knn.round", after=lambda out: tracer.add("knn.rounds", 1))


# ---------------------------------------------------------------------------
# Peak memory of this process and all its descendants
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes that map it.  The Python workers are forked from
    one daemon, so summing their RSS would count the shared pages once per
    worker, and the worker count varies from run to run."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb(root: int) -> float:
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        p = todo.pop()
        total += _pss_kb(p)
        todo.extend(kids.get(p, ()))
    return total / 1024.0


class MemSampler:
    """Samples the process tree's memory in a background thread."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(me))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_pss_mb(os.getpid()))
