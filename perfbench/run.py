"""Benchmark entry point.

    python3 perfbench/run.py --workload joins --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of this repository.  The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer ones).  The line before it is the full run record: environment,
per-operation-type latencies, failures and, when traced, the untraced-
comparable end-to-end numbers.  Records are also appended to
``.perfbench_results/records.jsonl``; traced runs write their spans and
plan metrics to ``.perfbench_results/trace-<workload>-s<seed>.json``.

Set-up is done ``SETUPS`` times (session start, warm-up, input load) and
reported as the median; the last session runs the workload.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

import pandas as pd

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

SETUPS = 3


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _git_commit(root: Path) -> str | None:
    """HEAD of the checkout, read from .git without running git (the
    benchmark may run in an export that is not a repository)."""
    head = root / ".git" / "HEAD"
    try:
        ref = head.read_text().strip()
        if not ref.startswith("ref:"):
            return ref
        name = ref.split(None, 1)[1]
        loose = root / ".git" / name
        if loose.is_file():
            return loose.read_text().strip()
        for line in (root / ".git" / "packed-refs").read_text().splitlines():
            if line.endswith(" " + name):
                return line.split()[0]
    except OSError:
        pass
    return None


def _noise_floor() -> float:
    """A fixed numpy + interpreter workload, median of three: a reading of
    how fast this host was when the run started."""
    import numpy as np

    a = np.random.default_rng(0).random((300, 300))
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        for _ in range(20):
            a = (a @ a) / 300.0
        s = 0
        for i in range(300_000):
            s += i & 7
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _quantile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def _import_engine(v: pd.Series) -> pd.Series:
    """Warm-up UDF body: loads the engine's UDF module into the worker."""
    import geowave_spark.functions.geo_udfs  # noqa: F401

    return v + 1.0


class Session:
    """Starts and stops the engine's SparkSession inside the checkout."""

    def __init__(self, cache: Path, nproc: int):
        self.nproc = nproc
        self.spark = None
        local = cache / "spark-local"
        local.mkdir(parents=True, exist_ok=True)
        # every JVM (the launcher and the driver) keeps its temp files and
        # no perf-data file outside the checkout.  A fixed young generation
        # keeps the driver's resident heap from following the collector's
        # adaptive sizing, which made peak memory vary by a fifth between
        # runs on a 4-CPU host.
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Xmn512m -Djava.io.tmpdir={local}"
        self.conf = {
            "spark.driver.memory": "3g",
            "spark.local.dir": str(local),
            "spark.sql.warehouse.dir": str(cache / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }

    def start(self):
        from geowave_spark.session import get_spark

        self.spark = get_spark("perfbench", cpus=self.nproc, extra=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def warm_up(self) -> None:
        """A JVM job, then an Arrow UDF batch on every core, which boots
        the Python workers and imports the engine into them.  The UDF is
        created per session: a pandas UDF object binds to the first
        SparkContext that runs it, so the engine's own module-level UDFs
        are left for the session that runs the workload."""
        from pyspark.sql import functions as F

        self.spark.range(10_000).selectExpr("sum(id)").collect()
        warm = F.pandas_udf(_import_engine, "double")
        df = self.spark.range(0, 8 * self.nproc, 1, self.nproc)
        df.select(warm(F.col("id").cast("double"))).collect()

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)


def run(args) -> int:
    root = Path.cwd()
    if not (root / "geowave_spark" / "__init__.py").is_file():
        return _fail("run from the root of a checkout: geowave_spark/ not found")
    sys.path.insert(0, str(root))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    cache = root / ".perfbench_cache"
    results_dir = root / ".perfbench_results"
    tmp = cache / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    results_dir.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)

    import inputs as inp
    import oracle as orc
    from metrics import END_TO_END
    from tracing import MemSampler, Tracer, instrument
    from workloads import WORKLOADS, Runner, median

    nproc = len(os.sched_getaffinity(0))
    load_before = os.getloadavg()
    noise_s = _noise_floor()
    t0 = time.perf_counter()
    data, generated = inp.ensure_inputs(args.workload, args.seed, args.scale, cache)
    gen_s = time.perf_counter() - t0
    work = cache / "work" / f"{args.workload}-{os.getpid()}"
    wl = WORKLOADS[args.workload](data, args.seed, str(work))
    tracer = Tracer(bool(args.trace), f"{args.workload}-s{args.seed}-{os.getpid()}")
    session = Session(cache, nproc)

    record: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": bool(args.trace), "scale": args.scale}
    try:
        with MemSampler() as mem:
            setups, starts, warms = [], [], []
            for i in range(SETUPS):
                session.stop()
                t0 = time.perf_counter()
                with tracer.span("session.start"):
                    spark = session.start()
                t1 = time.perf_counter()
                with tracer.span("session.warmup"):
                    session.warm_up()
                t2 = time.perf_counter()
                with tracer.span("setup.load"):
                    frames = wl.load(spark)
                t3 = time.perf_counter()
                setups.append(t3 - t0)
                starts.append(t1 - t0)
                warms.append(t2 - t1)
            tracer.record("session.start_s", median(starts))
            tracer.record("session.warmup_s", median(warms))

            # fixed Spark query: the engine-side noise floor
            nf = []
            for _ in range(3):
                t0 = time.perf_counter()
                spark.range(2_000_000).selectExpr("sum(hash(id))").collect()
                nf.append(time.perf_counter() - t0)

            if args.trace:
                instrument(tracer)
            runner = Runner(spark, tracer, corrupt=args.corrupt)
            oracle_cache: dict = {}
            con_holder: dict = {}

            def oc():
                if "o" not in oracle_cache:
                    con_holder["con"] = orc.connect(nproc, str(tmp))
                    oracle_cache["o"] = wl.oracle(con_holder["con"])
                return oracle_cache["o"]

            cycle = wl.plan(spark, frames, oc)
            cycles: list[float] = []
            deadline = time.perf_counter() + args.seconds
            with tracer.span("timed"):
                while True:
                    cycles.append(sum(runner.run(op).latency_s for op in cycle))
                    if time.perf_counter() >= deadline:
                        break
        peak_mem = mem.peak_mb
        session.shutdown()

        # oracle signatures depend only on the inputs and the benchmark's
        # own code, so they are kept beside the cached inputs
        digest = hashlib.sha1(b"".join(
            (HERE / f).read_bytes() for f in ("inputs.py", "oracle.py", "workloads.py"))).hexdigest()[:12]
        known_path = data.root / f"oracle-{digest}.json"
        known = json.loads(known_path.read_text()) if known_path.is_file() else {}
        n_known = len(known)
        t0 = time.perf_counter()
        failed, notes = runner.check(known)
        check_s = time.perf_counter() - t0
        if len(known) > n_known:
            known_path.write_text(json.dumps(known))
        if "con" in con_holder:
            con_holder["con"].close()
    finally:
        session.shutdown()
        shutil.rmtree(work, ignore_errors=True)

    timed = runner.results
    bulk = [r for r in timed if r.kind in wl.bulk_kinds]
    throughput = sum(r.rows_in for r in bulk) / sum(r.latency_s for r in bulk)
    lat = [r.latency_s for r in timed]
    e2e = {
        "setup_s": median(setups),
        "throughput_rows_per_s": throughput,
        "cycle_p50_s": median(cycles),
        "peak_pss_mb": peak_mem,
    }
    by_kind: dict[str, list[float]] = {}
    for r in timed:
        by_kind.setdefault(r.kind, []).append(r.latency_s)
    attempted = len(runner.results)

    import pyarrow
    import pyspark
    record.update({
        "e2e": e2e,
        "per_kind_p50_s": {k: median(v) for k, v in by_kind.items()},
        "per_kind_n": {k: len(v) for k, v in by_kind.items()},
        "op_p90_s": _quantile(lat, 0.9),
        "n_timed_ops": len(lat),
        "n_cycles": len(cycles),
        "cycles_s": cycles,
        "setups_s": setups,
        "attempted": attempted,
        "failed": failed,
        "failed_frac": failed / attempted,
        "failures": notes[:20],
        "check_s": check_s,
        "inputs": {"generated": generated, "gen_s": gen_s, "sizes": inp.SCALES[args.scale]},
        "env": {
            "nproc": nproc,
            "loadavg_before": load_before,
            "loadavg_after": os.getloadavg(),
            "git_commit": _git_commit(root),
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "python": sys.version.split()[0],
            "noise_floor_s": noise_s,
            "spark_noise_floor_s": median(nf),
        },
    })
    if args.trace:
        record["layers"] = tracer.layer_metrics()
        trace_path = results_dir / f"trace-{args.workload}-s{args.seed}.json"
        trace_path.write_text(json.dumps({"spans": tracer.spans, "plans": tracer.plans}))

    units = {name: unit for name, unit, _b, _bd in END_TO_END}
    if args.trace:
        from metrics import PER_LAYER
        units = {name: unit for name, unit, _b, _m in PER_LAYER}
        values = record["layers"]
    else:
        values = e2e
    with open(results_dir / "records.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps(record))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["joins", "indexed_lookup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="input size; tiny is for the smoke test")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: alter one result before checking it")
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
