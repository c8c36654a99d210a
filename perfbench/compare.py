"""Compare a parent run set with a change run set.

    python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl
    python3 perfbench/compare.py --overhead UNTRACED.jsonl TRACED.jsonl

Inputs are run records as ``run.py`` appends them to
``.perfbench_results/records.jsonl`` (one JSON object per line).  Run the
two commits alternately, same seeds, same ``--seconds``; the i-th parent
run and the i-th change run of a workload form a pair.

Each end-to-end metric of each workload is reported as:

* improved   - the change wins at least 9 of 10 pairs (ties count for
               neither) and the medians differ by more than the parent's
               interquartile range;
* worse      - the change's median is worse than the parent's by more
               than the metric's bound in BENCHMARK.json;
* unresolved - the parent's own spread (IQR / median) is wider than the
               bound, unless every change run beats every parent run;
* unchanged  - otherwise.

Records from hosts with a different CPU count are refused.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from metrics import END_TO_END  # noqa: E402


def load(path: str, traced: bool | None = False) -> dict[str, list[dict]]:
    by_wl: dict[str, list[dict]] = {}
    for line in Path(path).read_text().splitlines():
        if not line.strip():
            continue
        r = json.loads(line)
        if traced is not None and r.get("trace", False) != traced:
            continue
        by_wl.setdefault(r["workload"], []).append(r)
    return by_wl


def _iqr(xs: list[float]) -> float:
    if len(xs) < 2:
        return float("inf")
    q1, _q2, q3 = statistics.quantiles(xs, n=4)
    return q3 - q1


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> str:
    sign = -1.0 if better == "lower" else 1.0  # sign * (change - parent) > 0 is a gain
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    mp, mc = statistics.median(parent), statistics.median(change)
    gain = sign * (mc - mp)
    iqr = _iqr(parent)
    if len(pairs) >= 10 and wins >= 0.9 * len(pairs) and gain > iqr:
        return "improved"
    if -gain > bound * abs(mp):
        return "worse"
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if iqr > bound * abs(mp) and not all_better:
        return "unresolved"
    return "unchanged"


def _values(records: list[dict], name: str) -> list[float] | None:
    """The metric over the records, or None when a record predates it."""
    if any(name not in r["e2e"] for r in records):
        return None
    return [r["e2e"][name] for r in records]


def _check_hosts(a: dict, b: dict) -> None:
    cpus = {r["env"]["nproc"] for rs in (*a.values(), *b.values()) for r in rs}
    if len(cpus) > 1:
        sys.exit(f"compare: records come from hosts with different CPU counts {sorted(cpus)}")


def compare(parent_path: str, change_path: str) -> list[str]:
    parent, change = load(parent_path), load(change_path)
    _check_hosts(parent, change)
    names = [m[0] for m in END_TO_END]
    lines = ["workload\t" + "\t".join(names)]
    for wl in sorted(set(parent) & set(change)):
        cells = []
        for name, _unit, better, bound in END_TO_END:
            p, c = _values(parent[wl], name), _values(change[wl], name)
            if p is None or c is None:
                cells.append("missing")
                continue
            v = verdict(p, c, better, bound)
            cells.append(f"{v} ({statistics.median(p):.4g} -> {statistics.median(c):.4g}, n={len(p)}/{len(c)})")
        nf_p = statistics.median(r["env"]["noise_floor_s"] for r in parent[wl])
        nf_c = statistics.median(r["env"]["noise_floor_s"] for r in change[wl])
        lines.append(f"{wl}\t" + "\t".join(cells) + f"\tnoise floor {nf_p:.4g} -> {nf_c:.4g} s")
    return lines


def overhead(untraced_path: str, traced_path: str) -> list[str]:
    """Tracing overhead: traced minus untraced medians, per workload."""
    plain, traced = load(untraced_path, False), load(traced_path, True)
    _check_hosts(plain, traced)
    lines = ["workload\tmetric\tuntraced\ttraced\ttraced-untraced"]
    for wl in sorted(set(plain) & set(traced)):
        for name, unit, _b, _bd in END_TO_END:
            uv, tv = _values(plain[wl], name), _values(traced[wl], name)
            if uv is None or tv is None:
                lines.append(f"{wl}\t{name}\tmissing")
                continue
            u, t = statistics.median(uv), statistics.median(tv)
            lines.append(f"{wl}\t{name}\t{u:.4g} {unit}\t{t:.4g} {unit}\t{t - u:+.4g} ({(t - u) / u:+.1%})")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--overhead", action="store_true",
                    help="arguments are UNTRACED and TRACED record files")
    ap.add_argument("a")
    ap.add_argument("b")
    args = ap.parse_args(argv)
    out = overhead(args.a, args.b) if args.overhead else compare(args.a, args.b)
    print("\n".join(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
