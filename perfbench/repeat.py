#!/usr/bin/env python3
"""Repeatability report over traced runs.

    python3 perfbench/repeat.py --workload olap [--runs 3] [--seed 1]

Makes `--runs` traced runs of one workload with the same seed (skip with
--runs 0 to report on the traced results already under
.bench_build/results), then lists
  - the per-layer counters that repeat exactly across those runs (the
    deterministic ones a gate can pin: jobs, tasks, compiles, bytes) and
    those that do not, with their range;
  - every labelled call whose job count differs between runs: for olap the
    query behind a pass's job-count flip, for lake the statement or read
    kind.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RESULTS = ROOT / ".bench_build" / "results"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    a = ap.parse_args()

    results = []
    for i in range(a.runs):
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", a.workload,
               "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", "1"]
        r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        if r.returncode != 0:
            sys.exit(f"run {i + 1} failed: {r.stderr.strip()[-400:]}")
        results.append(json.loads((RESULTS / f"{a.workload}-s{a.seed}-t1.json").read_text()))
    if a.runs == 0:
        results = [json.loads(p.read_text()) for p in sorted(RESULTS.glob(f"{a.workload}-s*-t1.json"))]
    if len(results) < 2:
        sys.exit("need at least two traced results")

    print(f"{a.workload}: {len(results)} traced runs")
    keys = sorted(set.intersection(*(set(r["layers"]) for r in results)))
    exact, varying = [], []
    for k in keys:
        vals = [r["layers"][k] for r in results]
        (exact if len(set(vals)) == 1 else varying).append((k, vals))
    print(f"\nrepeat exactly ({len(exact)}):")
    for k, vals in exact:
        print(f"  {k} = {vals[0]}")
    print(f"\nvary ({len(varying)}):")
    for k, vals in varying:
        print(f"  {k}: {min(vals):.6g} .. {max(vals):.6g}")
    labels = sorted(set.intersection(*(set(r["per_label_jobs"]) for r in results)))
    flips = [(l, [r["per_label_jobs"][l] for r in results]) for l in labels
             if len({r["per_label_jobs"][l] for r in results}) > 1]
    print(f"\njobs per call that differ between runs ({len(flips)} of {len(labels)} labels):")
    for l, vals in flips:
        print(f"  {l}: {vals}")


if __name__ == "__main__":
    main()
