#!/usr/bin/env python3
"""Bench regression diff: compare two bench JSONs and flag per-query slowdowns.

Usage: python3 tools/benchdiff.py OLD NEW [--threshold 2.0]

Accepts either format:
  - driver round artifact (BENCH_r*.json: {"tail": "...one-line bench JSON..."}
    or {"parsed": {...}})
  - raw graft.Bench stdout (a file whose last {"metric": ...} line is the run)

Exit code 1 if any query regressed by more than the threshold (default 2x),
so this can gate the end-of-round snapshot. Round 2 shipped a 182x regression
unnoticed; this tool exists so that class of miss is caught by construction.
"""
import json
import re
import sys


# where a run happened; graft.Bench lines before these keys carry none
WHERE_KEYS = ("cpus", "git_rev", "load_start", "load_end")


def load_queries(path):
    """(queries, errors, phases, where) of the run in `path`; `where` holds
    the WHERE_KEYS the line carries (empty for older artifacts)."""
    b = load_bench(path)
    return (b["queries"], b.get("errors", {}), b.get("phases", {}),
            {k: b[k] for k in WHERE_KEYS if k in b})


def load_bench(path):
    with open(path) as f:
        text = f.read()
    # driver artifact?
    try:
        d = json.loads(text)
        if isinstance(d, dict):
            if isinstance(d.get("parsed"), dict) and "queries" in d["parsed"]:
                return d["parsed"]
            if "tail" in d:
                # A driver artifact must contain the COMPLETE one-line bench
                # JSON. A truncated tail (r3's BENCH_r03.json lost its first
                # ~11 queries) must hard-fail: silently diffing a fragment
                # turns the regression gate into a partial check. Use the
                # graft.Bench file artifact (SPARK_GRAFT_BENCH_OUT) instead.
                m = re.search(r'\{"metric".*\}', d["tail"])
                if not m:
                    sys.exit(
                        f"benchdiff: {path} 'tail' is truncated (no complete "
                        '{"metric":...} object) — refusing to diff a partial '
                        "artifact; use the Bench file output instead")
                try:
                    b = json.loads(m.group(0))
                except json.JSONDecodeError:
                    sys.exit(
                        f"benchdiff: {path} 'tail' bench JSON is corrupt — "
                        "refusing to diff a partial artifact")
                return b
            if "queries" in d:
                return d
    except json.JSONDecodeError:
        pass
    # raw bench stdout: take the LAST {"metric"...} line
    last = None
    for line in text.splitlines():
        m = re.search(r'\{"metric".*\}', line)
        if m:
            last = m.group(0)
    if last is None:
        sys.exit(f"benchdiff: no bench JSON found in {path}")
    try:
        b = json.loads(last)
    except json.JSONDecodeError:
        sys.exit(f"benchdiff: bench JSON in {path} is truncated/corrupt — "
                 "refusing to diff a partial artifact")
    return b


def main():
    argv = sys.argv[1:]
    thresh = 2.0
    args = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--threshold"):
            if "=" in a:
                thresh = float(a.split("=", 1)[1])
            else:
                thresh = float(argv[i + 1])
                i += 1  # consume the value so it is not a positional arg
        else:
            args.append(a)
        i += 1
    if len(args) != 2:
        sys.exit(__doc__)
    old_q, old_e, old_p, old_w = load_queries(args[0])
    new_q, new_e, new_p, new_w = load_queries(args[1])
    for tag, where in (("OLD", old_w), ("NEW", new_w)):
        if where:
            print(f"{tag} ran on " + ", ".join(f"{k}={where[k]}" for k in WHERE_KEYS
                                              if k in where))

    regressed, improved = [], []
    for name in sorted(set(old_q) | set(new_q)):
        o, n = old_q.get(name), new_q.get(name)
        if o is None:
            print(f"NEW      {name:28s}          -> {n:8.2f}s")
        elif n is None:
            tag = "ERR" if name in new_e else "GONE"
            print(f"{tag:8s} {name:28s} {o:8.2f}s ->        -")
            if name in new_e:
                regressed.append(name)
        else:
            # fixture-heavy entries report an operator phase: gate on it
            # (the fixture rides cold-file-cache drift of 2-4x between
            # same-HEAD runs — gating on the total would flag temp-dir
            # I/O, not the operator)
            op_o = (old_p.get(name) or {}).get("op")
            op_n = (new_p.get(name) or {}).get("op")
            tag = ""
            if op_o is not None and op_n is not None:
                o, n, tag = op_o, op_n, " [op]"
            r = n / o if o > 0 else float("inf")
            if r > thresh and n - o > 0.5:  # ratio + absolute floor (noise guard)
                regressed.append(name)
                print(f"REGRESS  {name:28s} {o:8.2f}s -> {n:8.2f}s  ({r:5.1f}x){tag}")
            elif r < 1 / thresh and o - n > 0.5:
                improved.append(name)
                print(f"improve  {name:28s} {o:8.2f}s -> {n:8.2f}s  ({r:5.2f}x){tag}")
    ot, nt = sum(old_q.values()), sum(new_q.values())
    print(f"TOTAL    {'':28s} {ot:8.2f}s -> {nt:8.2f}s")
    print(f"{len(regressed)} regression(s) > {thresh}x, {len(improved)} improvement(s)")
    sys.exit(1 if regressed else 0)


if __name__ == "__main__":
    main()
