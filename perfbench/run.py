#!/usr/bin/env python3
"""graft benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload {olap,lake} --seed N --seconds S --trace {0,1}

Run from the root of a graft checkout. The first run builds the program
and the harness from source with sbt (offline) into the checkout; later
runs reuse the build while the sources are unchanged. The harness runs in
one JVM with one client thread on a local[nproc] GraftSession over the
sf0.1 tables (SPARK_GRAFT_SF_DIR, else the sf0.1 directory TESTDATA.md
names). The last stdout line is the result:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with every end-to-end metric of BENCHMARK.json when --trace 0 and every
per-layer metric when --trace 1. Run metadata, the full result and, for
traced runs, the spans go under .bench_build/ in the checkout.

Extra options, for perfbench/selfcheck.py: --sf-dir DIR, --corrupt 1.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
JVM_TIMEOUT_S = 165
HEAP = "3g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    """Everything the build reads from the checkout."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def source_stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile program and harness unless the last build used these sources."""
    missing = [p for p in (ROOT / "build.sbt", ROOT / "src" / "main", HERE / "build.sbt")
               if not p.exists()]
    if missing:
        die(f"not a graft checkout: missing {', '.join(str(m.relative_to(ROOT)) for m in missing)}")
    stamp = source_stamp()
    runtime = BUILD / "runtime.txt"
    stamp_file = BUILD / "stamp"
    if runtime.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return stamp
    if shutil.which("sbt") is None:
        die("sbt not found on PATH")
    BUILD.mkdir(exist_ok=True)
    runtime.unlink(missing_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true", "-Dsbt.server.forcestart=false",
           "writeRuntime"]
    log("building program and harness with sbt (first run in this checkout)")
    t0 = time.time()
    with open(BUILD / "build.log", "w") as out:
        rc = run_child(cmd, HERE, env, out, out, 840)
    if rc != 0 or not runtime.exists():
        die(f"build failed (exit {rc}); see .bench_build/build.log")
    stamp_file.write_text(stamp)
    log(f"build took {time.time() - t0:.1f} s")
    return stamp


def run_child(cmd, cwd, env, stdout, stderr, timeout):
    """Run a child in its own process group; kill the group on timeout and
    wait until it has ended."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def testdata_dir(scale):
    """The directory TESTDATA.md, the repo's record of its test tables,
    gives for scale factor `scale` (e.g. "0.1")."""
    doc = ROOT / "TESTDATA.md"
    pat = r"^\|\s*" + re.escape(scale) + r"\s*\|\s*`([^`]+)`"
    m = re.search(pat, doc.read_text(), re.M) if doc.exists() else None
    return m.group(1) if m else None


def sf_dir(explicit):
    d = explicit or os.environ.get("SPARK_GRAFT_SF_DIR") or testdata_dir("0.1")
    if not d:
        die("no sf0.1 directory: set SPARK_GRAFT_SF_DIR")
    d = d.rstrip("/")
    need = ["customer", "documents", "lineitem", "orders", "part", "supplier", "nation", "region"]
    absent = [t for t in need if not Path(f"{d}/{t}.parquet").exists()]
    if absent:
        die(f"sf dir {d} lacks {', '.join(absent)}")
    return d


def git_rev():
    try:
        rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if rev.returncode != 0:
            return None, None
        dirty = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"],
                               cwd=ROOT, capture_output=True, text=True, timeout=10)
        return rev.stdout.strip(), bool(dirty.stdout.strip())
    except (OSError, subprocess.SubprocessError):
        return None, None


def oracle_check(sf, out_dir):
    """Compare each warm-up result with its DuckDB oracle through the repo's
    tools/check.py; returns (checks, failure lines)."""
    oracle = json.loads((out_dir / "oracle_sql.json").read_text())
    r = subprocess.run([sys.executable, str(ROOT / "tools" / "check.py"), sf, str(out_dir)]
                       + sorted(oracle), capture_output=True, text=True, timeout=120)
    out = r.stdout.splitlines()
    fails = [l for l in out if l.startswith("FAIL")]
    ok = sum(1 for l in out if l.startswith("OK"))
    if r.returncode != 0 and not fails:
        fails.append(f"check.py exit {r.returncode}: {r.stderr.strip()[-300:]}")
    elif ok + len(fails) != len(oracle):
        fails.append(f"check.py checked {ok + len(fails)} of {len(oracle)}")
    return len(oracle), fails


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, or None off Linux."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return None


def finite(v):
    return isinstance(v, (int, float)) and not isinstance(v, bool) and math.isfinite(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir")
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.exists():
        die("BENCHMARK.json not found at the checkout root")
    spec = json.loads(spec_file.read_text())
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        die(f"unknown workload {a.workload}")
    stamp = build()
    sf = sf_dir(a.sf_dir)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}" + ("-corrupt" if a.corrupt else "")
    work = BUILD / "work" / tag
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    for d in ("results", "traces", "logs"):
        (BUILD / d).mkdir(exist_ok=True)
    out = work / "result.json"
    spans = BUILD / "traces" / f"{tag}.spans.jsonl"

    lines = (BUILD / "runtime.txt").read_text().splitlines()
    cp, jopts = lines[0], [l for l in lines[1:] if l]
    nproc = os.cpu_count()
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}"] + jopts
           + ["-cp", cp, "graftbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--sf-dir", sf, "--work", str(work),
              "--out", str(out), "--spans", str(spans), "--cores", str(nproc),
              "--corrupt", str(a.corrupt)])
    (work / "tmp").mkdir()
    load0 = os.getloadavg()
    ticks0 = cpu_ticks()
    t0 = time.time()
    with open(BUILD / "logs" / f"{tag}.log", "w") as jlog:
        rc = run_child(cmd, ROOT, dict(os.environ), jlog, jlog, JVM_TIMEOUT_S)
    wall = time.time() - t0
    load1 = os.getloadavg()
    ticks1 = cpu_ticks()
    steal = ((ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])) if ticks0 and ticks1 else None
    if rc != 0 or not out.exists():
        die(f"harness failed (exit {rc}) after {wall:.0f} s; see .bench_build/logs/{tag}.log")
    res = json.loads(out.read_text())

    attempted, failures = res["attempted"], list(res["failures"])
    failed = res["failed"]
    if a.workload == "olap":
        n, fails = oracle_check(sf, work / "olap_out")
        attempted += n
        failed += len(fails)
        failures += fails

    if a.trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = {k: res["layers"].get(k) for k in names}
        if res["layers"].get("trace.unattributed_jobs", 1) != 0:
            failed += 1
            failures.append(f"trace.unattributed_jobs = {res['layers'].get('trace.unattributed_jobs')}: "
                            f"{res['unattributed_sites']}")
        attempted += 1
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = {k: res["metrics"].get(k, {}).get("value") for k in names}
    bad = [k for k, v in values.items() if not finite(v)]
    if bad:
        failed += 1
        attempted += 1
        failures.append(f"metrics not measured: {bad}")
        values = {k: (v if finite(v) else -1.0) for k, v in values.items()}

    rev, dirty = git_rev()
    meta = dict(res["meta"], nproc=nproc, spark_cores=nproc, git_rev=rev, git_dirty=dirty,
                source_sha256=stamp, heap=HEAP, load_start=load0, load_end=load1,
                cpu_steal_frac=steal,
                seed=a.seed, sf_dir=sf, seconds=a.seconds, trace=a.trace,
                workload=a.workload, run_wall_s=wall)
    overhead = None
    if a.trace:
        base = BUILD / "results" / f"{a.workload}-s{a.seed}-t0.json"
        if base.exists():
            b = json.loads(base.read_text())["metrics"]
            overhead = {k: res["layers"][f"trace.{k}"] / b[k]["value"] - 1
                        for k in ("op_gm_s", "read_gm_s") if b.get(k, {}).get("value")}
            log(f"tracing overhead vs the untraced run of this seed: {overhead}")
    record = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "failures": failures[:20], "metrics": res["metrics"], "layers": res["layers"],
              "per_label_jobs": res["per_label_jobs"], "trace_overhead": overhead,
              "meta": meta}
    (BUILD / "results" / f"{tag}.json").write_text(json.dumps(record, indent=1))
    for f in failures[:10]:
        log(f"failure: {f}")
    log(f"{tag}: {wall:.1f} s, load {load0[0]:.2f} -> {load1[0]:.2f}, steal {steal}, "
        f"{attempted} checked, {failed} failed")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": values[k], "unit": units[k]} for k in names}}))


if __name__ == "__main__":
    main()
