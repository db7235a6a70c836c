#!/usr/bin/env python3
"""Compare two sets of benchmark runs: parent and change.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds run records (the JSON files run.py writes under
perfbench/out/runs/). One row per workload and end-to-end metric gives each
side's median and quartiles, the share of seed-matched pairs the change won,
and a verdict by the rule the benchmark's README states:

  gain        the change wins >= 9/10 of pairs and the medians differ by more
              than the parent's own quartile spread
  worse       the change's median is worse than the parent's by more than the
              metric's bound
  unresolved  the parent's spread exceeds the bound, and not every change run
              beats every parent run
  no worse    otherwise

Per-layer deltas come from the traced runs. Every ratio is printed with its
base. Runs flagged as started under load are counted, never dropped.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = []
    for f in sorted(os.listdir(d)):
        if f.endswith(".json") and not f.endswith(".trace.json"):
            with open(os.path.join(d, f)) as fh:
                r = json.load(fh)
            if "workload" in r:
                runs.append(r)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def better(metric, a, b):
    """True when value a is better than value b."""
    return a > b if metric["better"] == "higher" else a < b


def verdict(metric, parent, change, pairs):
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    spread = (p3 - p1) / abs(pm) if pm else float("inf")
    # ties count for neither side
    wins = sum(1 for p, c in pairs if better(metric, c, p))
    won = wins / len(pairs) if pairs else 0.0
    worse_by = ((cm - pm) if metric["better"] == "lower" else (pm - cm)) / abs(pm) if pm else 0.0
    if won >= 0.9 and abs(cm - pm) > (p3 - p1) and better(metric, cm, pm):
        return "gain", won
    if worse_by > metric["bound"]:
        return "worse", won
    all_better = all(better(metric, c, p) for c in change for p in parent)
    if spread > metric["bound"] and not all_better:
        return "unresolved", won
    return "no worse", won


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    for side, runs in (("parent", parent), ("change", change)):
        flagged = sum(1 for r in runs if r.get("load", {}).get("flagged"))
        print(f"{side}: {len(runs)} runs from {sys.argv[1 if side == 'parent' else 2]}, "
              f"{flagged} flagged as started under load")
    print()
    hdr = f"{'workload':12} {'metric':16} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} {'won':>6} verdict"
    print(hdr)
    for w in spec["workloads"]:
        name = w["name"]
        ps = [r for r in parent if r["workload"] == name and not r["trace"]]
        cs = [r for r in change if r["workload"] == name and not r["trace"]]
        if not ps or not cs:
            print(f"{name:12} (no untraced runs on {'parent' if not ps else 'change'})")
            continue
        for m in spec["end_to_end"]:
            pv = [r["metrics"][m["name"]] for r in ps]
            cv = [r["metrics"][m["name"]] for r in cs]
            by_seed = {r["seed"]: r["metrics"][m["name"]] for r in cs}
            pairs = [(r["metrics"][m["name"]], by_seed[r["seed"]]) for r in ps if r["seed"] in by_seed]
            v, won = verdict(m, pv, cv, pairs)
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{name:12} {m['name']:16} {fmt(quartiles(pv)):>30} {fmt(quartiles(cv)):>30} "
                  f"{won:6.0%} {v}  (pairs {len(pairs)}, bound {m['bound']:.0%} of parent median)")
    print("\nper-layer medians from traced runs (ratio = change / parent, base = parent median)")
    for w in spec["workloads"]:
        name = w["name"]
        ps = [r for r in parent if r["workload"] == name and r["trace"]]
        cs = [r for r in change if r["workload"] == name and r["trace"]]
        if not ps or not cs:
            continue
        for m in spec["per_layer"]:
            pm = statistics.median(r["layers"][m["name"]] for r in ps)
            cm = statistics.median(r["layers"][m["name"]] for r in cs)
            ratio = f"{cm / pm:.3f}x of {pm:.4g}" if pm else f"base {pm:.4g}"
            print(f"{name:12} {m['name']:42} {pm:>14.6g} -> {cm:<14.6g} {m['unit']:6} {ratio}")
        # tracing cost: traced minus untraced wall_s, per side
        for side, runs in (("parent", parent), ("change", change)):
            t = [r["metrics"]["wall_s"] for r in runs if r["workload"] == name and r["trace"]]
            u = [r["metrics"]["wall_s"] for r in runs if r["workload"] == name and not r["trace"]]
            if t and u:
                d = statistics.median(t) - statistics.median(u)
                print(f"{name:12} {'traced - untraced wall_s (' + side + ')':42} {d:>14.4g} s "
                      f"({d / statistics.median(u):+.1%} of untraced median {statistics.median(u):.4g} s)")


if __name__ == "__main__":
    main()
