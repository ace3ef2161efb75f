#!/usr/bin/env python3
"""Compares benchmark runs of a base and a changed commit, seed by seed.

  python3 crawlbench/compare.py BASE.txt CHANGE.txt

Each file holds the captured stdout of any number of `run.py` runs
(--trace 0), base and change made with the same benchmark code on the
same host. Runs are grouped by workload and seed (from the report
line's fingerprint). For every end-to-end metric the script prints, per
seed, both medians, the change as a share of the base, and the base's
own spread (quartile distance over median).

A change counts as a gain on a seed when it is better by more than the
base's spread there (with fewer than four base runs on a seed, the
spread of all the workload's base runs stands in). A gain must hold on every seed: the script exits 1
when a metric gained on one seed but not on another, or when a gain
rests on a single seed. It also exits 1 when a metric got worse than
the base by more than its bound in BENCHMARK.json, on any seed.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    """{(workload, seed): {metric: [values]}} from captured stdout."""
    runs, report = {}, None
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line.startswith("{"):
                continue
            obj = json.loads(line)
            if "fingerprint" in obj:
                report = obj
            elif "metrics" in obj and report is not None:
                fp = report["fingerprint"]
                if fp.get("trace") == 0:
                    key = (fp["workload"], fp["seed"])
                    for name, m in obj["metrics"].items():
                        runs.setdefault(key, {}).setdefault(name, []).append(m["value"])
                report = None
    return runs


def spread(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4) if len(xs) >= 4 else [min(xs), 0, max(xs)]
    return (q[2] - q[0]) / statistics.median(xs)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, change = load(sys.argv[1]), load(sys.argv[2])
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    failures = []
    for workload in sorted({w for w, _ in base} & {w for w, _ in change}):
        seeds = sorted(s for w, s in base if w == workload and (w, s) in change)
        for name, m in metrics.items():
            sign = 1 if m["better"] == "lower" else -1
            pooled = spread([x for s in seeds for x in base[(workload, s)].get(name, [])])
            gains, rows = [], []
            for s in seeds:
                b, c = base[(workload, s)].get(name, []), change[(workload, s)].get(name, [])
                if not b or not c:
                    continue
                mb, mc = statistics.median(b), statistics.median(c)
                improvement = sign * (mb - mc) / mb
                noise = spread(b) if len(b) >= 4 else pooled
                gains.append(improvement > noise)
                if -improvement > m["bound"]:
                    failures.append(f"{workload} {name} seed {s}: worse by {-improvement:.1%} (bound {m['bound']:.0%})")
                rows.append(f"  {workload:11s} {name:10s} seed {s:<6} base {mb:10.4f} change {mc:10.4f} "
                            f"change/base {mc / mb:6.3f} base spread {noise:.3f} n={len(b)}/{len(c)}")
            print("\n".join(rows))
            if any(gains) and (not all(gains) or len(gains) < 2):
                failures.append(f"{workload} {name}: gain on {sum(gains)} of {len(gains)} seeds; "
                                "a gain must hold on a second seed")
    for f in failures:
        print("FAIL", f)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
