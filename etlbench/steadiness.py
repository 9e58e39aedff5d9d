#!/usr/bin/env python3
"""Two sets of runs of the same code, compared metric by metric.

    python3 etlbench/steadiness.py [--runs 10] [--workloads a,b]

Each set runs every workload `--runs` times, each run with its own seed
(set A seeds 1..N, set B seeds 101..100+N). For every end-to-end metric
it prints each set's median and quartiles, the quartile spread as a share
of the median, and whether both spreads stay within the metric's bound
and set B's median is no worse than set A's by more than the bound.
Counts (requests, output size, pair counts) are read from
etlbench/results/: each must repeat exactly across the passes of a run;
a count that differs between seeds is printed with its spread. The last
two lines give the verdict on the end-to-end metrics and on the counts;
the exit code is 0 only if both hold.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
COUNTS = ("requests", "odata.probe_requests", "odata.codes_requests", "odata.data_requests",
          "output_mb", "dedup.minhash_pairs", "dedup.jaccard_pairs")


def run_set(spec, workloads, seeds):
    out = {w: [] for w in workloads}
    for w in workloads:
        for s in seeds:
            r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            if r.returncode != 0:
                print(f"{w} seed {s}: exit {r.returncode}\n{r.stderr[-2000:]}")
                continue
            res = json.loads(r.stdout.strip().splitlines()[-1])
            with open(os.path.join(BENCH, "results", f"{w}-s{s}-t0.json")) as f:
                full = json.load(f)
            out[w].append((s, res, full))
            print(f"{w} seed {s}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()) +
                f" attempted={res['attempted']} failed={res['failed']} correct={res['correct']}",
                flush=True)
    return out


def quart(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default="")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    sets = [run_set(spec, workloads, range(1, a.runs + 1)),
            run_set(spec, workloads, range(101, 101 + a.runs))]
    metrics = spec["end_to_end"]
    ok = True
    inexact = []
    print(f"\n{'workload':14s} {'metric':18s} {'A q1/med/q3':>26s} {'spread':>7s} "
          f"{'B q1/med/q3':>26s} {'spread':>7s} {'B/A-1':>7s} {'bound':>6s} verdict")
    for w in workloads:
        runs = [s[w] for s in sets]
        if any(len(r) < 2 for r in runs):
            print(f"{w}: too few successful runs")
            ok = False
            continue
        fails = [sum(x[1]["failed"] for x in r) / sum(x[1]["attempted"] for x in r) for r in runs]
        for m in metrics:
            qs = [quart([x[1]["metrics"][m["name"]]["value"] for x in r]) for r in runs]
            spreads = [(q3 - q1) / med if med else float("inf") for q1, med, q3 in qs]
            drift = qs[1][1] / qs[0][1] - 1 if qs[0][1] else float("inf")
            bound = m["bound"]
            worse = drift if m["better"] == "lower" else -drift
            good = worse <= bound and max(spreads) <= bound
            verdict = "agree" if good else "DISAGREE"
            ok &= good
            print(f"{w:14s} {m['name']:18s} " + " ".join(
                f"{q[0]:8.4g}/{q[1]:8.4g}/{q[2]:8.4g} {sp:7.3f}" for q, sp in zip(qs, spreads)) +
                f" {drift:+7.3f} {bound:>6} {verdict}")
        print(f"{w:14s} failed share A={fails[0]:.4f} B={fails[1]:.4f} "
              f"{'agree' if fails[0] == fails[1] else 'DISAGREE'}")
        ok &= fails[0] == fails[1]
        for c in COUNTS:
            vals = [x[2]["layers"][c] for r in runs for x in r if c in x[2]["layers"]]
            if not vals:
                continue
            within = all(c not in x[2]["unsteady_counts"] for r in runs for x in r)
            spread = "repeats across seeds" if len(set(vals)) == 1 else \
                f"differs across seeds: min {min(vals):.6g} median {statistics.median(vals):.6g} max {max(vals):.6g}"
            print(f"{w:14s} count {c:26s} {'exact in every run' if within else 'NOT EXACT within a run'}; {spread}")
            if not within:
                inexact.append(f"{w} {c}")
    print("end-to-end: " + ("every metric agrees" if ok else "DISAGREEMENT"))
    print("counts: " + ("every count repeats within each run" if not inexact else
                        "not exact within a run: " + ", ".join(inexact)))
    sys.exit(0 if ok and not inexact else 1)


if __name__ == "__main__":
    main()
