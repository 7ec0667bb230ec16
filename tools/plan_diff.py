#!/usr/bin/env python3
"""Compare two graft.tools.PlanDump output directories file by file.

Usage: python3 tools/plan_diff.py <dirA> <dirB>

Each directory holds the `<query>_<suffix>.txt` formatted explains PlanDump
writes. Files pair up by query name (the text before the last `_`), so two
dumps taken under different suffixes still compare. Before comparing, every
run-dependent id is replaced by a placeholder:

  - expression ids             name#123 / name#123L  -> name#N / name#NL
  - exchange and plan ids      [id=N], plan_id=N
  - RDD ids                    rdd_N, MapPartitionsRDD[N]
  - UUIDs
  - lambda variable numbering  lambda x_15 -> lambda x_N (the counter is
                               session-global, so building the same
                               expressions in a different order renumbers
                               them and changes nothing else)

What is left is the plan's shape, operators, expressions and scan paths. A
refactor that must not change plans should report "0 differ" here.

Prints a unified diff per differing file and one summary line. Exit 1 on
any difference, including a query dumped on one side only.
"""
import difflib
import os
import re
import sys

RULES = [
    (re.compile(r"#\d+L\b"), "#NL"),
    (re.compile(r"#\d+\b"), "#N"),
    (re.compile(r"\[id=\d+\]"), "[id=N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\brdd_\d+"), "rdd_N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"),
     "UUID"),
    (re.compile(r"\b(lambda [A-Za-z]\w*?)_\d+\b"), r"\1_N"),
]


def normalize(text: str) -> list:
    for pattern, repl in RULES:
        text = pattern.sub(repl, text)
    return text.splitlines(keepends=True)


def plans(d: str) -> dict:
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".txt"):
            out[f[:-len(".txt")].rsplit("_", 1)[0]] = os.path.join(d, f)
    return out


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = plans(sys.argv[1]), plans(sys.argv[2])
    differ = 0
    for name in sorted(a.keys() | b.keys()):
        if name not in a or name not in b:
            print(f"{name}: only in {sys.argv[1] if name in a else sys.argv[2]}")
            differ += 1
            continue
        with open(a[name], encoding="utf-8") as fa, open(b[name], encoding="utf-8") as fb:
            la, lb = normalize(fa.read()), normalize(fb.read())
        if la != lb:
            differ += 1
            sys.stdout.writelines(difflib.unified_diff(la, lb, a[name], b[name]))
    print(f"plan_diff: {len(a.keys() | b.keys())} queries, {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
