#!/usr/bin/env python3
"""Compares two sets of benchmark artifacts, workload by workload.

    python3 perfbench/compare.py <base_dir> <new_dir>

Each directory holds artifacts written by run.py (.bench_work/artifacts/ by
default). For every workload and end-to-end metric it prints both sides'
medians and quartiles, the spread (quartile distance over the median), the
median ratio and the pair wins of the new side (runs paired by seed, better
as BENCHMARK.json says, lower by default; ties count for neither). For
traced runs it diffs the per-layer medians, tracing overhead included, and
for untraced runs each lane's median warm time. Error rates and failed lanes
are listed for both sides.
"""
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path


HIGHER_IS_BETTER = {
    m["name"] for section in ("end_to_end", "per_layer")
    for m in json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json")
                        .read_text())[section] if m["better"] == "higher"}


def load(d):
    runs = defaultdict(list)
    for f in sorted(Path(d).glob("*.json")):
        a = json.loads(f.read_text())
        runs[(a["workload"], a["trace"])].append(a)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def lane_medians(runs):
    per = defaultdict(list)
    for a in runs:
        for p in a["passes"]:
            if p["kind"] == "warm" and not p["traced"]:
                for l in p["lanes"]:
                    if l["ok"]:
                        per[l["lane"]].append(l["build_s"] + l["sink_s"])
    return {k: statistics.median(v) for k, v in per.items()}


def fmt(x):
    return f"{x:10.4f}" if isinstance(x, (int, float)) else f"{'-':>10}"


def compare(base, new):
    for key in sorted(set(base) | set(new)):
        wl, trace = key
        a, b = base.get(key, []), new.get(key, [])
        print(f"\n== {wl} (trace {trace}): base {len(a)} runs, new {len(b)} runs")
        for side, runs in (("base", a), ("new", b)):
            failed = sorted({l for r in runs for l in r["failed_lanes"]})
            rates = [r["error_rate"] for r in runs]
            print(f"  {side}: error_rate max {max(rates) if rates else '-'}"
                  f"{'  failed lanes ' + ', '.join(failed) if failed else ''}")
        if not a or not b:
            continue
        section = "per_layer" if trace else "end_to_end"
        names = sorted(set(a[0][section]) & set(b[0][section]))
        print(f"  {'metric':34s}{'base q1':>10}{'base med':>10}{'base q3':>10}"
              f"{'new q1':>10}{'new med':>10}{'new q3':>10}{'spread':>8}{'ratio':>8}{'wins':>7}")
        for m in names:
            xa = [r[section][m] for r in a if r[section].get(m) is not None]
            xb = [r[section][m] for r in b if r[section].get(m) is not None]
            if not xa or not xb:
                continue
            qa, qb = quartiles(xa), quartiles(xb)
            spread = (qa[2] - qa[0]) / qa[1] if qa[1] else 0.0
            ratio = qb[1] / qa[1] if qa[1] else float("nan")
            by_seed = {r["seed"]: r[section].get(m) for r in a}
            pairs = [(by_seed[r["seed"]], r[section][m]) for r in b
                     if r["seed"] in by_seed and by_seed[r["seed"]] is not None]
            wins = sum(1 for x, y in pairs if (y > x if m in HIGHER_IS_BETTER else y < x))
            print(f"  {m:34s}" + "".join(fmt(v) for v in qa + qb) +
                  f"{spread:8.3f}{ratio:8.3f}{wins:4d}/{len(pairs)}")
        if not trace:
            la, lb = lane_medians(a), lane_medians(b)
            print(f"  {'lane (median warm s)':34s}{'base':>10}{'new':>10}{'ratio':>8}")
            for lane in sorted(set(la) & set(lb)):
                print(f"  {lane:34s}{la[lane]:10.4f}{lb[lane]:10.4f}{lb[lane] / la[lane]:8.3f}")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    compare(load(sys.argv[1]), load(sys.argv[2]))


if __name__ == "__main__":
    main()
