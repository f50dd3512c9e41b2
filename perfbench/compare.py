#!/usr/bin/env python3
"""Compares two result sets, parent and change, metric by metric.

    python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl

Each file holds run records as run.py appends them (perfbench/.work/
results.jsonl by default). For every workload, every end-to-end metric of
the untraced runs is printed with each side's median and quartiles and a
verdict against the bound BENCHMARK.json fixes for it:

- worse: the change's median is worse than the parent's by more than the
  bound;
- better: the change wins at least nine tenths of the pairs (runs paired by
  seed, else in order) and the medians differ by more than the parent's
  interquartile distance;
- unresolved: the parent's own spread is wider than the bound and not
  every change run beats every parent run;
- unchanged: otherwise.

Runs flagged for their starting load or their steal share are left out and
counted.
"""
import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from bench import stats  # noqa: E402


def load(path):
    runs, flagged = {}, 0
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            if r["trace"]:
                continue
            if r["load"]["flagged"]:
                flagged += 1
                continue
            runs.setdefault(r["workload"], []).append(r)
    return runs, flagged


def pairs(parent, change):
    by_seed = {r["seed"]: r for r in parent}
    matched = [(by_seed[c["seed"]], c) for c in change if c["seed"] in by_seed]
    return matched if matched else list(zip(parent, change))


def verdict(metric, parent, change, matched):
    """(verdict, parent quartiles, change quartiles) for one metric."""
    sign = 1 if metric["better"] == "lower" else -1
    pv = [r["end_to_end"][metric["name"]] for r in parent]
    cv = [r["end_to_end"][metric["name"]] for r in change]
    pq, cq = stats.quartiles(pv), stats.quartiles(cv)
    bound = metric["bound"]
    if sign * (cq[1] - pq[1]) > bound * abs(pq[1]):
        return "worse", pq, cq
    wins = sum(1 for p, c in matched
               if sign * (c["end_to_end"][metric["name"]]
                          - p["end_to_end"][metric["name"]]) < 0)
    if matched and wins >= 0.9 * len(matched) and \
            abs(cq[1] - pq[1]) > pq[2] - pq[0]:
        return "better", pq, cq
    all_beat = all(sign * (c - p) < 0 for c in cv for p in pv)
    if stats.spread(pv) > bound and not all_beat:
        return "unresolved", pq, cq
    return "unchanged", pq, cq


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default=os.path.join(os.path.dirname(HERE),
                                                        "BENCHMARK.json"))
    a = ap.parse_args(argv)
    with open(a.benchmark) as f:
        metrics = json.load(f)["end_to_end"]
    parent, pf = load(a.parent)
    change, cf = load(a.change)
    print(f"flagged runs left out: parent {pf}, change {cf}")
    worse = 0
    for w in sorted(set(parent) | set(change)):
        p, c = parent.get(w, []), change.get(w, [])
        print(f"\n{w}: parent n={len(p)}, change n={len(c)}")
        if not p or not c:
            print("  no runs on one side")
            continue
        matched = pairs(p, c)
        for m in metrics:
            v, pq, cq = verdict(m, p, c, matched)
            worse += v == "worse"
            print(f"  {m['name']:<18} {m['unit']:<5} "
                  f"parent {pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}]  "
                  f"change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]  "
                  f"bound {m['bound']:.0%}  {v}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
