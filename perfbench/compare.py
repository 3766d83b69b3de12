#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent commit and a change.

    python3 perfbench/compare.py <parent_dir> <change_dir>

Each directory holds the standard output of run.py runs, one file per
run (any name). A file's workload is read from its report lines and its
seed from its `run:` line; traced runs (--trace 1) are told apart by
their per-layer metrics. Metric directions come from BENCHMARK.json.

For every workload it prints each end-to-end metric's median and
quartiles on both sides, the change in the median, and the pairs the
change won: runs are paired by seed, and a pair is won when the change's
value is better in the metric's direction (ties count for neither side).
It then prints the median of every per-layer metric on both sides and
its change.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    """{workload: {"e2e": {seed: metrics}, "layer": {seed: metrics}}}"""
    out = {}
    for name in sorted(os.listdir(d)):
        lines = open(os.path.join(d, name)).read().splitlines()
        if not lines or not lines[-1].startswith("{"):
            continue
        last = json.loads(lines[-1])
        workload = seed = None
        for ln in lines:
            parts = ln.split(" ", 2)
            if len(parts) == 3 and parts[1] == "run:":
                workload = parts[0]
                seed = json.loads(parts[2])["seed"]
        if workload is None:
            continue
        kind = "e2e" if "wall_s" in last["metrics"] else "layer"
        vals = {k: m["value"] for k, m in last["metrics"].items()}
        out.setdefault(workload, {"e2e": {}, "layer": {}})[kind][seed] = vals
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def fmt(x):
    return f"{x:.4g}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    bound = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    for w in sorted(set(parent) | set(change)):
        p, c = parent.get(w, {"e2e": {}, "layer": {}}), change.get(w, {"e2e": {}, "layer": {}})
        print(f"== {w}: {len(p['e2e'])} parent runs, {len(c['e2e'])} change runs")
        print(f"{'metric':<16}{'parent q1/med/q3':>30}{'change q1/med/q3':>30}"
              f"{'delta':>9}{'bound':>7}{'won':>8}")
        for m in bench["end_to_end"]:
            k = m["name"]
            pv = [r[k] for r in p["e2e"].values() if k in r]
            cv = [r[k] for r in c["e2e"].values() if k in r]
            if not pv or not cv:
                continue
            pq, cq = quartiles(pv), quartiles(cv)
            delta = cq[1] / pq[1] - 1 if pq[1] else float("nan")
            seeds = sorted(set(p["e2e"]) & set(c["e2e"]))
            sign = -1 if better[k] == "lower" else 1
            won = sum(1 for s in seeds if sign * (c["e2e"][s][k] - p["e2e"][s][k]) > 0)
            print(f"{k:<16}{'/'.join(map(fmt, pq)):>30}{'/'.join(map(fmt, cq)):>30}"
                  f"{delta:>+9.1%}{bound[k]:>7}{f'{won}/{len(seeds)}':>8}")
        names = sorted({k for r in list(p["layer"].values()) + list(c["layer"].values()) for k in r})
        if names:
            print(f"-- per layer ({len(p['layer'])} parent, {len(c['layer'])} change traced runs)")
            for k in names:
                pv = [r[k] for r in p["layer"].values() if k in r]
                cv = [r[k] for r in c["layer"].values() if k in r]
                if not pv or not cv:
                    continue
                pm, cm = statistics.median(pv), statistics.median(cv)
                delta = f"{cm / pm - 1:+.1%}" if pm else "n/a"
                print(f"{k:<30}{fmt(pm):>14}{fmt(cm):>14}{delta:>9}  ({better.get(k, '?')} is better)")


if __name__ == "__main__":
    main()
