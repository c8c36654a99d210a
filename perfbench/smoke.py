"""The benchmark's own smoke test, at tiny input size.

    python3 perfbench/smoke.py

Run from the root of a checkout.  It checks that BENCHMARK.json agrees
with metrics.py; runs every workload once and asserts that every
end-to-end metric is printed with its unit; runs one traced run and
asserts the same for every per-layer metric; asserts that a deliberately
corrupted result is counted as failed; and asserts that the benchmark
refuses to run, without printing a result, where the engine is absent.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from metrics import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def fail(msg: str) -> None:
    print(f"smoke: FAIL: {msg}")
    sys.exit(1)


def run(workload: str, *extra: str, cwd: Path | None = None) -> tuple[int, dict | None, dict | None]:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "1", "--scale", "tiny", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or len(lines) < 2:
        return p.returncode, None, None
    return p.returncode, json.loads(lines[-2]), json.loads(lines[-1])


def check_metrics(result: dict, catalogue: list[tuple], label: str) -> None:
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"{label}: result keys {sorted(result)}")
    want = {name: unit for name, unit, *_ in catalogue}
    got = result["metrics"]
    if set(got) != set(want):
        fail(f"{label}: metrics {sorted(set(got) ^ set(want))} differ from the catalogue")
    for name, unit in want.items():
        if got[name]["unit"] != unit or not isinstance(got[name]["value"], float):
            fail(f"{label}: {name} printed as {got[name]}")


def main() -> int:
    root = Path.cwd()
    bench = json.loads((root / "BENCHMARK.json").read_text())
    if [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] != END_TO_END:
        fail("BENCHMARK.json end_to_end differs from metrics.END_TO_END")
    if [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] != [p[:3] for p in PER_LAYER]:
        fail("BENCHMARK.json per_layer differs from metrics.PER_LAYER")
    if {w["name"]: w["why"] for w in bench["workloads"]} != WORKLOADS:
        fail("BENCHMARK.json workloads differ from metrics.WORKLOADS")

    for wl in WORKLOADS:
        code, record, result = run(wl, "--trace", "0")
        if result is None:
            fail(f"{wl}: exit code {code} or no result line")
        check_metrics(result, END_TO_END, wl)
        if not result["correct"] or result["failed"]:
            fail(f"{wl}: wrong results {record['failures']}")
        if any(result["metrics"][n]["value"] <= 0 for n, *_ in END_TO_END):
            fail(f"{wl}: an end-to-end metric is not positive: {result['metrics']}")
        print(f"smoke: {wl} ok ({result['attempted']} operations checked)")

    _code, record, result = run("joins", "--trace", "1")
    if result is None:
        fail("traced run printed no result")
    check_metrics(result, PER_LAYER, "traced joins")
    print("smoke: traced run ok")

    _code, record, result = run("indexed_lookup", "--trace", "0", "--corrupt")
    if result is None or result["correct"] or result["failed"] < 1 or record["failed_frac"] <= 0:
        fail("a corrupted result was not counted as failed")
    print(f"smoke: corrupted result counted (failed_frac {record['failed_frac']:.3f})")

    bare = root / ".perfbench_cache" / "smoke-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(root / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / HERE.name, ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, str(bare / HERE.name / "run.py"), "--workload", "joins",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=bare, capture_output=True, text=True, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        fail("run.py did not refuse a directory without the engine")
    print("smoke: refuses to run without the engine ok")
    print("smoke: all checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
