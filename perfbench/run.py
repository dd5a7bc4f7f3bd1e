#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the product and the harness from
source (sbt, offline), generates the workload's inputs from the seed,
runs the workload in a fresh JVM at local[nproc], checks the outputs, and
prints one JSON result line last on stdout. See perfbench/README.md.
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
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = list(gen.GENERATORS)
LAUNCH = os.path.join(HERE, "target", "launch.txt")
STAMP = os.path.join(HERE, "target", "launch.stamp")
JVM_TIMEOUT_S = 170


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("error:", msg)
    sys.exit(code)


def cpus():
    return max(1, len(os.sched_getaffinity(0)))


def heap():
    """Tier-1's rule: half of MemTotal, clamped to [2, 8] GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def source_stamp():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(r)
            if "target" not in os.path.relpath(d, r).split(os.sep) for f in fs)
        for p in paths:
            if os.path.isfile(p):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    h.update(heap().encode())
    return h.hexdigest()


def build():
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found next to perfbench/: run from a full checkout")
    stamp = source_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    log("building product and harness (sbt, offline)")
    env = dict(os.environ, SPARK_DRIVER_MEM=heap(), COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    env.pop("SPARK_GRAFT_JAVA_OPTS", None)
    rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "launchSpec"], cwd=HERE, env=env,
                   timeout=700)
    if rc != 0 or not os.path.exists(LAUNCH):
        fail(f"build failed (rc={rc})")
    with open(STAMP, "w") as f:
        f.write(stamp)


def run_child(cmd, cwd, env, timeout):
    """Run with stdout sent to stderr; on timeout kill the process group
    and wait for it."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"timeout after {timeout}s: {cmd[0]}")
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def launch_cmd(work):
    cp, opts = [], []
    with open(LAUNCH) as f:
        for line in f:
            kind, _, val = line.rstrip("\n").partition("\t")
            (cp if kind == "cp" else opts).append(val)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java", *opts, f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(cp), "perfbench.Main"]


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return b["end_to_end"], b["per_layer"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build()
    e2e, per_layer = declared()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    try:
        # the JVM part of set-up runs once; input generation, the part that
        # can be repeated cheaply, runs three times and counts its median
        gen_times = []
        for _ in range(3):
            t0 = time.perf_counter()
            gen.generate(a.workload, a.seed, os.path.join(work, "in"))
            gen_times.append(time.perf_counter() - t0)
        gen_s = sorted(gen_times)[1]

        result_path = os.path.join(out_dir, f"{a.workload}-{a.seed}-trace{a.trace}.json")
        if os.path.exists(result_path):
            os.remove(result_path)
        n = cpus()
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"), SPARK_GRAFT_CPUS=str(n))
        cmd = launch_cmd(work) + [a.workload, os.path.join(work, "in", "manifest.json"), result_path,
                                  str(a.seconds), str(a.trace), str(n), work]
        t1 = time.perf_counter()
        rc = run_child(cmd, cwd=work, env=env, timeout=JVM_TIMEOUT_S)
        jvm_wall = time.perf_counter() - t1
        if rc != 0 or not os.path.exists(result_path):
            fail(f"workload JVM exited with {rc}", 1)
        with open(result_path) as f:
            res = json.load(f)

        checks = list(res["checks"])
        if a.workload == "contract_mix":
            checks += oracle.compare(os.path.join(work, "verify"), os.path.join(work, "in", gen.CONTRACT_SF))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    m = res["metrics"]
    m["setup_s"] = gen_s + m["setup.jvm_s"] + m["setup.workload_s"]
    failed_checks = [c for c in checks if not c["ok"]]
    correct = not failed_checks and res["attempted"] > 0
    err_rate = res["failed"] / max(1, res["attempted"])

    print(f"workload {a.workload} seed {a.seed} cpus {n} heap {heap()} seconds {a.seconds} "
          f"trace {a.trace} (jvm wall {jvm_wall:.1f} s)")
    for line in res["report"]:
        print("  " + line)
    print(f"  error_rate {err_rate:.4f} ({res['failed']} failed / {res['attempted']} attempted)")
    print(f"  setup_s {m['setup_s']:.3f} s (inputs {gen_s:.3f} + jvm/session {m['setup.jvm_s']:.3f}"
          f" + warm-up {m['setup.workload_s']:.3f})")
    passed = sum(1 for c in checks if c["ok"])
    print(f"  correctness: {passed}/{len(checks)} checks passed")
    for c in failed_checks[:20]:
        print(f"  CHECK FAILED: {c['name']} {c.get('detail', '')}")
    for e in res.get("errors", []):
        print(f"  operation failed: {e}")

    wanted = e2e if a.trace == 0 else per_layer
    metrics = {}
    for d in wanted:
        if d["name"] in m:
            metrics[d["name"]] = {"value": m[d["name"]], "unit": d["unit"]}
        elif a.trace == 1:
            # a layer this workload does not call did no work
            metrics[d["name"]] = {"value": 0.0, "unit": d["unit"]}
        else:
            correct = False
            print(f"  MISSING end-to-end metric {d['name']}")
    for d in wanted:
        print(f"  {d['name']:40s} {metrics.get(d['name'], {}).get('value', float('nan')):.6g} {d['unit']}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
