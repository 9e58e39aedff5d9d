#!/usr/bin/env python3
"""Show that every output check can fail.

    python3 etlbench/selftest.py

Runs each workload once on small seeded inputs, confirms that every
check passes on the program's real output, then feeds the checks
deliberately corrupted outputs (a dropped CSV row, a bogus pair, two
merged clusters, a perturbed rank) and confirms the targeted check fails.
Exits 0 only if all of that holds.
"""
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    classpath = run.build()
    work = os.path.join(run.WORK, f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        with open(os.path.join(work, "selftest.log"), "w") as err:
            r = subprocess.run(run.java_cmd(classpath, work, "--mode", "selftest"),
                               stdout=subprocess.PIPE, stderr=err, text=True, timeout=600)
        print(r.stdout, end="")
        if r.returncode != 0:
            sys.stderr.write(open(os.path.join(work, "selftest.log")).read()[-3000:])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(r.returncode)


if __name__ == "__main__":
    main()
