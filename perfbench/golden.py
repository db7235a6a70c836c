#!/usr/bin/env python3
"""Pin the golden digests of every call a workload can issue.

    python3 perfbench/golden.py explore [profile corpus incremental]

Digests every call of each workload's catalog twice at all cores and once
at one core, and writes perfbench/golden/<workload>.json. The digest of the
first all-core pass is pinned. A call whose digest differs between the
passes is kept and listed under "unstable" with every variant: it is a
defect of the program, and runs count it as failed.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def digests(cp, workload, cores, tag):
    out = os.path.join(run.OUT, f"golden-{workload}-{tag}.json")
    log = os.path.join(run.OUT, f"golden-{workload}-{tag}.log")
    rc = run.jvm(cp, ["--mode", "golden", "--workload", workload, "--cores", str(cores), "--out", out],
                 log, os.path.join(run.OUT, f"tmp-golden-{workload}-{tag}"), timeout=3600)
    if rc != 0:
        run.fail(f"golden pass {tag} of {workload} failed (rc={rc}), see {log}")
    with open(out) as fh:
        return json.load(fh)


def main():
    cp = run.classpath()
    run.ensure_data(cp)
    n = os.cpu_count()
    for w in sys.argv[1:]:
        passes = {f"local[{n}] pass 1": digests(cp, w, n, "n1"),
                  f"local[{n}] pass 2": digests(cp, w, n, "n2"),
                  "local[1]": digests(cp, w, 1, "one")}
        first = next(iter(passes.values()))
        unstable = {k: {tag: p.get(k) for tag, p in passes.items()}
                    for k in first if len({p.get(k) for p in passes.values()}) > 1}
        os.makedirs(os.path.join(run.HERE, "golden"), exist_ok=True)
        with open(os.path.join(run.HERE, "golden", f"{w}.json"), "w") as fh:
            json.dump({"workload": w, "passes": list(passes), "digests": first,
                       "unstable": unstable}, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"{w}: {len(first)} calls pinned, {len(unstable)} unstable")


if __name__ == "__main__":
    main()
