#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the harness from
source (sbt, perfbench/build.sbt) when the sources changed since the last
build, launches the harness JVM, and prints one JSON line with the
end-to-end metrics (trace 0) or the per-layer metrics (trace 1) named in
BENCHMARK.json. Everything it writes stays under perfbench/target and
perfbench/work.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, dirs, files in sorted(os.walk(top)):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the recorded stamp matches the sources."""
    stamp = source_stamp()
    stamp_file = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        "perfbench/compile", "writeClasspath"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found")
    build()

    work = os.path.join(BENCH, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    with open(os.path.join(TARGET, "classpath.txt")) as fh:
        cp = fh.read().strip()
    with open(os.path.join(TARGET, "javaopts.txt")) as fh:
        # the program's own JVM flags, heap limit included
        jopts = [l for l in fh.read().split("\n") if l]
    cmd = (["java"] + jopts + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
                               "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
                               str(a.trace), BENCH, work])
    os.makedirs(os.path.join(work, "tmp"))
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CONF"}
    with open(os.path.join(work, "jvm.log"), "w") as log:
        r = subprocess.run(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                           timeout=170)
    if r.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"harness exited with {r.returncode}")
    with open(os.path.join(work, "metrics.json")) as fh:
        res = json.load(fh)
    for f in res["failures"]:
        print(f"perfbench: failure: {f}", file=sys.stderr)
    for k, v in res["notes"].items():
        print(f"perfbench: {k}: {v}", file=sys.stderr)
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    missing = [n for n in names if n not in res["metrics"]]
    if missing:
        fail(f"metrics not produced: {missing}")
    # keep nothing but the record of the run: the stores and inputs can
    # take hundreds of megabytes
    for d in os.listdir(work):
        p = os.path.join(work, d)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": {n: res["metrics"][n] for n in names}}))


if __name__ == "__main__":
    main()
