#!/usr/bin/env python3
"""Steadiness report: run each workload over several seeds and report, per
end-to-end metric, the quartile spread as a share of the median next to the
metric's bound.

    python3 perfbench/steady.py --seeds 1-10 --out DIR [--trace-runs 1] [WORKLOAD ...]

Run records are copied into DIR, so DIR is a run set compare.py can read.
`--trace-runs N` adds N traced runs per workload (their seeds follow the
untraced ones). A spread above a third of the bound, or above the bound,
is marked; `setup_s` is reported but has no spread gate. Runs flagged as
started under load are counted in the report and kept.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from compare import quartiles  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace-runs", type=int, default=0)
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = a.workloads or [w["name"] for w in spec["workloads"]]
    os.makedirs(a.out, exist_ok=True)
    ss = seeds(a.seeds)
    for w in workloads:
        runs = []
        plan = [(s, 0) for s in ss] + [(ss[-1] + 1 + i, 1) for i in range(a.trace_runs)]
        for seed, trace in plan:
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", str(trace)], cwd=ROOT, capture_output=True, text=True)
            rec = re.search(r"perfbench: record (\S+)", p.stderr)
            if p.returncode != 0 or not rec:
                print(f"{w} seed {seed}: run failed rc={p.returncode}\n{p.stderr[-2000:]}")
                continue
            shutil.copy(rec.group(1), a.out)
            with open(rec.group(1)) as fh:
                r = json.load(fh)
            print(f"{w} seed {seed} trace {trace}: {p.stdout.strip().splitlines()[-1]}", flush=True)
            if not trace:
                runs.append(r)
        if not runs:
            continue
        flagged = sum(1 for r in runs if r["load"]["flagged"])
        failed = sum(r["failed"] for r in runs)
        print(f"\n{w}: {len(runs)} untraced runs, {flagged} flagged as started under load, "
              f"{failed} failed calls")
        for m in spec["end_to_end"]:
            xs = [r["metrics"][m["name"]] for r in runs]
            q1, q2, q3 = quartiles(xs)
            spread = (q3 - q1) / q2 if q2 else float("inf")
            gate = ("no spread gate" if m["name"] == "setup_s" else
                    "ok" if spread <= m["bound"] / 3 else
                    "within bound, above bound/3" if spread <= m["bound"] else "ABOVE bound")
            print(f"  {m['name']:16} median {q2:10.4g} {m['unit']:3} spread {spread:6.1%} "
                  f"bound {m['bound']:.0%}  {gate}")
        print(flush=True)


if __name__ == "__main__":
    main()
