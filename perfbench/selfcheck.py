#!/usr/bin/env python3
"""Self-check of the benchmark at sf0.001 (about five minutes at 4 cores).

    python3 perfbench/selfcheck.py [--sf-dir DIR]

For every workload of BENCHMARK.json it asserts that
  - an untraced run prints exactly the end-to-end metrics, each with its
    unit and a finite value, and reads correct;
  - a traced run prints exactly the per-layer metrics with their units,
    reads correct and attributes every Spark job (trace.unattributed_jobs
    is 0);
  - a traced run with deliberately corrupted results (--corrupt 1) reads
    incorrect, with a failure for every corrupted result.
Exits 0 when every assertion holds. DIR defaults to the sf0.001 directory
TESTDATA.md names.
"""
import argparse
import json
import math
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402

# results each workload corrupts under --corrupt 1: olap drops a row of one
# query result; lake drops a row of the final-table model and a posting of
# the fresh text index
CORRUPTED = {"olap": 1, "lake": 2}


def bench(workload, trace, sf, corrupt=0):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", str(trace), "--sf-dir", sf, "--corrupt", str(corrupt)]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        return None, f"exit {r.returncode}: {r.stderr.strip()[-400:]}"
    return json.loads(r.stdout.strip().splitlines()[-1]), None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir")
    a = ap.parse_args()
    sf = a.sf_dir or run.testdata_dir("0.001")
    if not sf:
        sys.exit("no sf0.001 directory: pass --sf-dir")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []

    def expect(cond, what):
        print(f"{'ok  ' if cond else 'FAIL'} {what}", flush=True)
        if not cond:
            problems.append(what)

    for w in (x["name"] for x in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res, err = bench(w, trace, sf)
            expect(err is None, f"{w} trace={trace} runs ({err})")
            if res is None:
                continue
            expect(set(res) == {"correct", "attempted", "failed", "metrics"},
                   f"{w} trace={trace} result keys {sorted(res)}")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v.get("unit") for k, v in res["metrics"].items()}
            expect(got == want, f"{w} trace={trace} emits every {key} metric with its unit "
                                f"(missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))})")
            expect(all(isinstance(v["value"], (int, float)) and math.isfinite(v["value"])
                       for v in res["metrics"].values()), f"{w} trace={trace} values are finite")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                   f"{w} trace={trace} correct ({res['failed']} of {res['attempted']} failed)")
            if trace:
                expect(res["metrics"]["trace.unattributed_jobs"]["value"] == 0,
                       f"{w} every Spark job is attributed to a span")
        # traced, so that the checks untraced runs skip are exercised too
        res, err = bench(w, 1, sf, corrupt=1)
        expect(res is not None and not res["correct"] and res["failed"] >= CORRUPTED[w],
               f"{w} catches every corrupted result ({err or res['failed']} failed, "
               f"{CORRUPTED[w]} corrupted)")
    print("SELF-CHECK " + ("PASSED" if not problems else f"FAILED: {len(problems)} problem(s)"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
