#!/usr/bin/env python3
"""Net src/main line delta between two revisions, code and comments apart.

Usage: python3 tools/loc.py BASE [HEAD]

BASE and HEAD are git revisions; HEAD defaults to the working tree
(tracked and untracked files alike). Counts non-blank lines of every file
under src/main. A line is a COMMENT line when, after leading whitespace,
it starts with `//`, `/*` or `*`, or when it sits inside a (nested)
block comment; every other non-blank line is CODE. Lines inside
multi-line string literals are code. Prints the files whose counts
changed, then the totals.
"""
import os
import subprocess
import sys

ROOT = "src/main"


def scan(line, depth, in_triple):
    """Block-comment depth and triple-quote state after `line`."""
    i, n = 0, len(line)
    while i < n:
        two = line[i:i + 2]
        if in_triple:
            if line.startswith('"""', i):
                in_triple = False
                i += 3
                continue
        elif depth > 0:
            if two == "/*":
                depth += 1
                i += 2
                continue
            if two == "*/":
                depth -= 1
                i += 2
                continue
        elif two == "//":
            break
        elif two == "/*":
            depth += 1
            i += 2
            continue
        elif line.startswith('"""', i):
            in_triple = True
            i += 3
            continue
        elif line[i] == '"':
            i += 1
            while i < n and line[i] != '"':
                i += 2 if line[i] == "\\" else 1
        elif line[i] == "'" and i + 2 < n and line[i + 2] == "'":
            i += 2
        elif line[i] == "'" and line[i + 1:i + 2] == "\\":
            i += 3
        i += 1
    return depth, in_triple


def count(text):
    code = comment = 0
    depth, in_triple = 0, False
    for line in text.splitlines():
        s = line.strip()
        if s:
            if not in_triple and (depth > 0 or s.startswith(("//", "/*", "*"))):
                comment += 1
            else:
                code += 1
        depth, in_triple = scan(line, depth, in_triple)
    return code, comment


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def files_at(rev):
    """{path: text} under ROOT at `rev` (None = the working tree)."""
    if rev is None:
        out = {}
        for d, _, names in os.walk(ROOT):
            for nm in names:
                p = os.path.join(d, nm)
                with open(p, encoding="utf-8", errors="replace") as f:
                    out[p] = f.read()
        return out
    paths = git("ls-tree", "-r", "--name-only", rev, ROOT).split()
    return {p: git("show", f"{rev}:{p}") for p in paths}


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    os.chdir(git("rev-parse", "--show-toplevel").strip())
    base = {p: count(t) for p, t in files_at(argv[1]).items()}
    head = {p: count(t) for p, t in
            files_at(argv[2] if len(argv) == 3 else None).items()}
    zero = (0, 0)
    tot = [0, 0, 0, 0]
    for p in sorted(set(base) | set(head)):
        b, h = base.get(p, zero), head.get(p, zero)
        tot = [tot[0] + b[0], tot[1] + b[1], tot[2] + h[0], tot[3] + h[1]]
        if b != h:
            print(f"{p:60s} code {h[0] - b[0]:+6d}  comment {h[1] - b[1]:+6d}")
    print(f"{'total':60s} code {tot[2] - tot[0]:+6d}  comment "
          f"{tot[3] - tot[1]:+6d}  (code {tot[0]} -> {tot[2]}, "
          f"comment {tot[1]} -> {tot[3]})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
