#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 etlbench/run.py --workload odata_etl --seed 1 --seconds 15 --trace 0

Builds the library and the harness from the checkout's sources when they
changed (sbt, offline), then runs the workload in a fresh benchmark JVM
with a fixed heap. With `--trace 0` the metrics are the end-to-end metrics of
BENCHMARK.json, with `--trace 1` its per-layer metrics (0 for a layer the
workload does not use). The JVM's full result, counts included, is kept
in etlbench/results/.
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
RESULTS = os.path.join(BENCH, "results")
WORK = os.path.join(BENCH, "work")
LIBRARY = os.path.join(ROOT, "src", "main", "scala", "graft")
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
              os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in inputs:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources differ from the last build."""
    if not os.path.isdir(LIBRARY):
        fail(f"library sources not found at {os.path.relpath(LIBRARY, ROOT)}")
    stamp = source_stamp()
    stamp_file = os.path.join(TARGET, "stamp.txt")
    cp_file = os.path.join(TARGET, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                               cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT, timeout=850)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}")
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


def java_cmd(classpath, work, *args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", *opens,
             f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "etlbench.Main", "--work", work]
            + [str(a) for a in args])


def run_jvm(cmd, log, timeout):
    """Run the JVM, its stderr to `log`; return its stdout lines."""
    with open(log, "w") as err:
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True, timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM timed out after {timeout} s")
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"benchmark JVM exited with {r.returncode}")
    return r.stdout.splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath = build()

    work = os.path.join(WORK, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        lines = run_jvm(java_cmd(classpath, work, "--mode", "run", "--workload", a.workload,
                                 "--seed", a.seed, "--seconds", a.seconds, "--trace", a.trace),
                        os.path.join(work, "run.log"), 170)
        found = [l for l in lines if l.startswith("RESULT ")]
        if not found:
            fail("benchmark JVM printed no result")
        res = json.loads(found[-1][len("RESULT "):])
        os.makedirs(RESULTS, exist_ok=True)
        with open(os.path.join(RESULTS, f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
            json.dump(res, f, indent=1, sort_keys=True)
        if a.trace:
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(RESULTS, f"{a.workload}-s{a.seed}-spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for l in lines:
        if l.startswith("check "):
            print(l)
    listed = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = {**res["layers"], **res["e2e"]} if a.trace else res["e2e"]
    metrics = {}
    for m in listed:
        v = values.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{m['name']:34s} {v:14.6f} {m['unit']}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
