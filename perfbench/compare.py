#!/usr/bin/env python3
"""Compare two sets of benchmark runs, e.g. a parent commit and a change.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR [--bench BENCHMARK.json]

Each directory holds records written by `run.py --record`. Runs are grouped
by workload; untraced runs give the end-to-end table, traced runs the
per-layer diff. For every workload x end-to-end metric the table shows each
side's median and quartiles, the change of the medians, and how many seed
pairs the change wins; the verdict follows the benchmark's rules:

- unresolved: a side's spread (IQR / median) exceeds the metric's bound,
  unless every change run beats (or loses to) every base run;
- worse: the change's median is worse than the base's by more than the bound;
- better: the change wins at least 9 in 10 pairs and its median moved by
  more than the base's own spread;
- same: otherwise.

The tracing overhead of each side is its traced geometric-mean query wall
minus its untraced one.
"""
import argparse
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import quartiles, spread  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    """{(workload, trace): [record, ...]} from every *.json in `d`."""
    runs = {}
    for path in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(path) as f:
            r = json.load(f)
        runs.setdefault((r["workload"], r["trace"]), []).append(r)
    return runs


def values(runs, metric, key):
    return [r[key][metric] for r in runs if metric in r.get(key, {})]


def pair_wins(base, change, metric, key, lower_is_better):
    """(change wins, pairs) over runs paired by seed; ties count for neither."""
    b = {r["seed"]: r[key][metric] for r in base}
    c = {r["seed"]: r[key][metric] for r in change}
    seeds = sorted(set(b) & set(c))
    wins = sum(1 for s in seeds
               if (c[s] < b[s] if lower_is_better else c[s] > b[s]))
    return wins, len(seeds)


def verdict(base_vals, change_vals, wins, pairs, bound, lower_is_better):
    """One of 'better', 'worse', 'same', 'unresolved' (rules in the docstring)."""
    sign = -1.0 if lower_is_better else 1.0
    mb, mc = quartiles(base_vals)[1], quartiles(change_vals)[1]
    gain = sign * (mc - mb) / abs(mb)  # > 0: the change is better
    if max(spread(base_vals), spread(change_vals)) > bound:
        if all(sign * c > sign * b for c in change_vals for b in base_vals):
            return "better"
        if all(sign * c < sign * b for c in change_vals for b in base_vals):
            return "worse"
        return "unresolved"
    if gain < -bound:
        return "worse"
    if pairs and wins >= 0.9 * pairs and gain > spread(base_vals):
        return "better"
    return "same"


def fmt(x):
    return f"{x:.4g}"


def main():
    ap = argparse.ArgumentParser(description="compare two sets of benchmark runs")
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--bench", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    args = ap.parse_args()
    with open(args.bench) as f:
        bench = json.load(f)
    base, change = load(args.base), load(args.change)
    worse = False
    print(f"{'workload':<13} {'metric':<17} {'base median [Q1, Q3]':<31} "
          f"{'change median [Q1, Q3]':<31}   delta  wins   verdict")
    for w in sorted({k[0] for k in base} | {k[0] for k in change}):
        b, c = base.get((w, 0), []), change.get((w, 0), [])
        for m in bench["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            bv, cv = values(b, name, "end_to_end"), values(c, name, "end_to_end")
            if not bv or not cv:
                continue
            wins, pairs = pair_wins(b, c, name, "end_to_end", lower)
            v = verdict(bv, cv, wins, pairs, m["bound"], lower)
            worse |= v == "worse"
            qb, qc = quartiles(bv), quartiles(cv)
            sb = f"{fmt(qb[1])} [{fmt(qb[0])}, {fmt(qb[2])}]"
            sc = f"{fmt(qc[1])} [{fmt(qc[0])}, {fmt(qc[2])}]"
            print(f"{w:<13} {name:<17} {sb:<31} {sc:<31} "
                  f"{(qc[1] - qb[1]) / abs(qb[1]):+7.1%}  {wins:>2}/{pairs:<2}  {v}")
        for side, runs in (("base", base), ("change", change)):
            t, u = runs.get((w, 1), []), runs.get((w, 0), [])
            tv = values(t, "trace.query_geomean_s", "per_layer")
            uv = values(u, "query_geomean_s", "end_to_end")
            if tv and uv:
                mt, mu = quartiles(tv)[1], quartiles(uv)[1]
                print(f"{w:<13} tracing overhead ({side}): {mt - mu:+.4f} s "
                      f"({(mt - mu) / mu:+.1%} of the untraced geometric-mean query)")
    print()
    print("workload      layer                                base median    change median    delta")
    for w in sorted({k[0] for k in base if k[1]} & {k[0] for k in change if k[1]}):
        b, c = base[(w, 1)], change[(w, 1)]
        for m in bench["per_layer"]:
            bv, cv = values(b, m["name"], "per_layer"), values(c, m["name"], "per_layer")
            if not bv or not cv:
                continue
            mb, mc = quartiles(bv)[1], quartiles(cv)[1]
            delta = f"{(mc - mb) / abs(mb):+7.1%}" if mb else "      -"
            print(f"{w:<13} {m['name']:<36} {fmt(mb):>12} {fmt(mc):>16}   {delta}"
                  f"  {m['unit']}")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
