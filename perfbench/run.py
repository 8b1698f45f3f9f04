#!/usr/bin/env python3
"""Benchmark runner for the scipspark imaging lane and board slice.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload imaging_aggregate --seed 1 --seconds 5 --trace 0

Builds the repo and the benchmark with sbt on first use (cached under
.bench_build/, keyed by a hash of the sources), then runs one benchmark
JVM in its own temp root under .bench_build/runs/, which is deleted
afterwards. The last stdout line is the result JSON: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. A record
with the environment block and the wall-time quartiles goes to
.bench_build/records/, and the traced run's spans to .bench_build/traces/.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
EXPECTED = os.path.join(HERE, "expected.json")
# the sf0.1 tables of TESTDATA.md, under the variable graft.Bench reads
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUN_LIMIT_S = 165


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads from the checkout, sorted."""
    out = []
    for base in ("src", "project", os.path.join("perfbench", "src"),
                 os.path.join("perfbench", "project")):
        for d, dirs, files in os.walk(os.path.join(ROOT, base)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.join(d, f) for f in files]
    out += [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    return sorted(out)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(src_hash):
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == src_hash:
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        rc = subprocess.call(["sbt", "-batch", "-Dsbt.server.forcestart=false", "exportLaunch"],
                             cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {os.path.join(BUILD, 'build.log')}")
    with open(stamp, "w") as fh:
        fh.write(src_hash)


def commit():
    try:
        return subprocess.check_output(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                       stderr=subprocess.DEVNULL, text=True).strip()
    except (OSError, subprocess.CalledProcessError):
        return "unknown"


def leftovers(run_root):
    """Paths the program left in the run's temp, local, warehouse and
    working directories after its JVM exited."""
    out = []
    for sub in ("tmp", "local", "warehouse", "cwd"):
        d = os.path.join(run_root, sub)
        if os.path.isdir(d):
            out += [os.path.join(sub, x) for x in sorted(os.listdir(d))]
    return out


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = p.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src"))):
        fail(f"{ROOT} holds no scipspark sources (build.sbt, src/)")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    declared = spec["per_layer" if a.trace else "end_to_end"]

    t_start = time.time()
    src_hash = source_hash()
    build(src_hash)
    limit = time.time() - t_start + RUN_LIMIT_S
    cp = open(os.path.join(BUILD, "classpath.txt")).read().strip()
    jopts = [o for o in open(os.path.join(BUILD, "javaopts.txt")).read().split("\n") if o]

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_root = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse", "cwd"):
        os.makedirs(os.path.join(run_root, sub))
    for sub in ("records", "traces", "logs"):
        os.makedirs(os.path.join(BUILD, sub), exist_ok=True)
    root_before = set(os.listdir(ROOT))
    cores = len(os.sched_getaffinity(0))
    # The repo's JVM options, heap limit included. The benchmark collects
    # the heap before every timed operation, as graft.Bench does; without
    # MaxHeapFreeRatio=100, G1 shrinks the heap after each of those forced
    # collections and grows it again inside the next timed operation, which
    # made the board's process CPU a third higher and swing 24% between
    # runs on 4 cores.
    cmd = (["java"] + jopts + ["-XX:-UsePerfData", "-XX:MaxHeapFreeRatio=100",
                               f"-Djava.io.tmpdir={os.path.join(run_root, 'tmp')}",
                               "-cp", cp, "perfbench.Main",
                               "--workload", a.workload, "--seed", str(a.seed),
                               "--seconds", str(a.seconds), "--trace", str(a.trace),
                               "--root", run_root, "--cores", str(cores),
                               "--expected", EXPECTED,
                               "--trace-out", os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json"),
                               "--sf", SF_DIR, "--commit", commit() + " src:" + src_hash[:16],
                               "--spawn-ms"])
    log_path = os.path.join(BUILD, "logs", f"{tag}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd + [str(int(time.time() * 1000))],
                                cwd=os.path.join(run_root, "cwd"), stdout=subprocess.PIPE,
                                stderr=log, stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=limit)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            shutil.rmtree(run_root, ignore_errors=True)
            fail(f"run exceeded {limit:.0f} s; see {log_path}")
    leaks = leftovers(run_root) + sorted(set(os.listdir(ROOT)) - root_before - {".bench_build"})
    shutil.rmtree(run_root, ignore_errors=True)

    lines = out.splitlines()
    result = next((json.loads(x[7:]) for x in reversed(lines) if x.startswith("RESULT ")), None)
    record = next((json.loads(x[7:]) for x in reversed(lines) if x.startswith("RECORD ")), None)
    if proc.returncode != 0 or result is None:
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"benchmark JVM exited {proc.returncode} without a result")

    entry = json.load(open(EXPECTED)).get(a.workload, {})
    if len(leaks) != entry.get("leak_paths", 0):
        result["failed"] += 1
        result["correct"] = False
        record.setdefault("failures", []).append(
            f"{len(leaks)} leaked paths, expected {entry.get('leak_paths', 0)}: {leaks[:10]}")
    if a.trace:
        result["metrics"]["leak.paths"] = {"value": len(leaks), "unit": "count"}

    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in declared}
    if got != want:
        fail(f"metrics differ from BENCHMARK.json: run {sorted(set(got.items()) - set(want.items()))}, "
             f"declared {sorted(set(want.items()) - set(got.items()))}")
    result["metrics"] = {m["name"]: result["metrics"][m["name"]] for m in declared}
    record["source_sha256"] = src_hash
    record["leaked"] = leaks
    with open(os.path.join(BUILD, "records", f"{tag}.json"), "w") as fh:
        json.dump({"record": record, "result": result}, fh, indent=1)
    if record.get("failures"):
        print("failures: " + json.dumps(record["failures"]), file=sys.stderr)
    print("record: " + json.dumps(record))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
