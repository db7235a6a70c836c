#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload explore --seed 1 --seconds 15 --trace 0

The first run in a checkout builds the benchmark (sbt, offline) and writes
the fixture tables; later runs reuse both. Each run is one fresh JVM driving
graft's public API from a single client thread in a closed loop.
`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer ones;
both write a run record under perfbench/out/runs/ and `--trace 1` also
writes the span trace beside it.

    python3 perfbench/run.py --selftest     # a perturbed expectation must fail
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
DATA = os.path.join(HERE, ".data")
OUT = os.path.join(HERE, "out")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_logged(cmd, log, timeout, cwd, env=None):
    """Runs cmd in its own process group; on timeout kills the group and
    waits for it. Returns the exit code (None on timeout)."""
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=fh, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def classpath():
    """Builds the benchmark and graft when the sources changed; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.exists(os.path.join(ROOT, "build.sbt")):
        fail("graft sources not found next to perfbench/; run from a full checkout")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "sbt.log")
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                     "compile", "export perfbench/Runtime/fullClasspath"],
                    log, BUILD_TIMEOUT_S, HERE, sbt_env())
    lines = open(log).read().splitlines()
    if rc != 0 or not lines:
        fail(f"build failed (rc={rc}), see {log}")
    cp = lines[-1].strip()
    if "perfbench" not in cp:
        fail(f"could not read the classpath from {log}")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def jvm(cp, args, log, tmp, timeout=JVM_TIMEOUT_S):
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed young generation, so G1's adaptive young sizing does not
    # dominate the run's peak RSS (the README says why the heap is 2 GB)
    cmd = ["java", *opens, "-Xmx2g", "-Xmn512m", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
           "--tmp", tmp, "--data", DATA, *args]
    try:
        return run_logged(cmd, log, timeout, ROOT)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def ensure_data(cp):
    done = os.path.join(DATA, "DONE")
    if os.path.exists(done):
        return
    shutil.rmtree(DATA, ignore_errors=True)
    os.makedirs(OUT, exist_ok=True)
    rc = jvm(cp, ["--mode", "gen"], os.path.join(OUT, "gen.log"), os.path.join(OUT, "tmp-gen"))
    if rc != 0:
        fail(f"fixture generation failed (rc={rc}), see {os.path.join(OUT, 'gen.log')}")
    open(done, "w").close()


def cpu_times():
    """Aggregate CPU times from /proc/stat: (total, idle, steal) in ticks."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return sum(v), v[3] + v[4], v[7] if len(v) > 7 else 0


def cpu_sample(seconds=0.25):
    """Load context: 1-minute load average, and the cores' worth of CPU that
    processes other than this one kept busy over a short window."""
    t0, i0, _ = cpu_times()
    time.sleep(seconds)
    t1, i1, _ = cpu_times()
    ncpu = len([l for l in open("/proc/stat") if l.startswith("cpu") and l[3].isdigit()])
    busy = (t1 - t0) - (i1 - i0)
    return {"loadavg_1m": float(open("/proc/loadavg").read().split()[0]),
            "busy_cores": round(ncpu * busy / max(t1 - t0, 1), 3)}


def contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    spec = contract()
    cp = classpath()
    ensure_data(cp)
    os.makedirs(os.path.join(OUT, "runs"), exist_ok=True)
    tmp = os.path.join(OUT, f"tmp-{os.getpid()}")
    if a.selftest:
        rc = jvm(cp, ["--mode", "selftest", "--golden", os.path.join(HERE, "golden")],
                 os.path.join(OUT, "selftest.log"), tmp)
        print(open(os.path.join(OUT, "selftest.log")).read().splitlines()[-1] if rc is not None else "timeout")
        sys.exit(0 if rc == 0 else 1)
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        fail(f"--workload must be one of {names}")
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    stem = f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    record = os.path.join(OUT, "runs", stem + ".json")
    log = os.path.join(OUT, "runs", stem + ".log")
    before = cpu_sample()
    c0 = cpu_times()
    t0 = time.time()
    rc = jvm(cp, ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(seconds), "--trace", str(a.trace),
                  "--golden", os.path.join(HERE, "golden"), "--out", record,
                  "--trace_out", os.path.join(OUT, "runs", stem + ".trace.json")], log, tmp)
    if rc != 0 or not os.path.exists(record):
        fail(f"run failed (rc={rc}), see {log}")
    print(f"perfbench: record {record}", file=sys.stderr)
    c1 = cpu_times()
    after = cpu_sample()
    with open(record) as fh:
        rec = json.load(fh)
    # a run that started while other processes kept a core busy is flagged,
    # and kept: the steadiness and comparison reports count flagged runs
    # steal: CPU time the hypervisor gave to other guests while the JVM ran
    rec["load"] = {"start": before, "end": after,
                   "steal_share": round((c1[2] - c0[2]) / max(c1[0] - c0[0], 1), 4),
                   "flagged": before["busy_cores"] > 1.0}
    rec["process_wall_s"] = time.time() - t0
    with open(record, "w") as fh:
        json.dump(rec, fh, indent=1)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = rec["layers"] if a.trace else rec["metrics"]
    missing = [m["name"] for m in wanted if values.get(m["name"]) is None]
    if missing:
        fail(f"run record lacks metrics {missing}, see {record}")
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()
