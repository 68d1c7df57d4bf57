#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload lake --seeds 1-10
    python3 perfbench/spread.py FILE...

Either runs the workload once per seed (untraced) or reads result lines
(one JSON result per line, as run.py prints them) from files. For each
end-to-end metric it prints the median and the spread: the distance
between the first and third quartile (statistics.quantiles, n=4) as a
share of the median, beside the metric's bound in BENCHMARK.json and a
third of it, the steadiness target.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("files", nargs="*")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = a.seconds or spec["run_seconds"]

    results = []
    if a.workload:
        for s in seeds(a.seeds):
            r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", a.workload,
                                "--seed", str(s), "--seconds", str(seconds), "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True, timeout=900)
            if r.returncode != 0:
                sys.exit(f"seed {s} failed: {r.stderr.strip()[-400:]}")
            line = r.stdout.strip().splitlines()[-1]
            print(line, flush=True)
            results.append(json.loads(line))
    for f in a.files:
        results += [json.loads(l) for l in Path(f).read_text().splitlines() if l.strip()]
    if len(results) < 2:
        sys.exit("need at least two results")

    print(f"{len(results)} runs, {sum(not r['correct'] for r in results)} incorrect")
    worst = 0.0
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        target = m["bound"] / 3
        flag = "" if spread <= target else ("  > bound/3" if spread <= m["bound"] else "  > BOUND")
        if m["name"] != "setup_s":
            worst = max(worst, spread / m["bound"])
        print(f"  {m['name']:14s} median {med:12.6g} {m['unit']:6s} spread {spread:7.4f}"
              f"  bound {m['bound']:.2f} (/3 = {target:.4f}){flag}")
    print(f"worst spread / bound (setup_s aside): {worst:.3f}")


if __name__ == "__main__":
    main()
