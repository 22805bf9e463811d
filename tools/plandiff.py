#!/usr/bin/env python3
"""Diff two plan directories, ignoring per-run tokens.

Usage: plandiff.py <dirA> <dirB>

`graft.Profile plans <sfDir> <outDir> <tag> [query ...]` writes one
`<query>_<tag>.txt` per query, each the query's `explain("formatted")`
text; the `graft.PlanDump <outDir> <tag>` main it replaced wrote the
same files, so a dir from either can be compared with one from the
other. Files are paired by query name (the tag
after the last `_` may differ between the two dirs). Before comparing,
the tokens that change from run to run of the same plan are replaced by
placeholders:

  - expression ids (`doc_id#1234L`, `obj#77`) -> `#N`
  - exchange plan ids (`[plan_id=23366]`) -> `plan_id=N`
  - RDD ids and the source line of the RDD's creation site
    (`MapPartitionsRDD[852] at localCheckpoint at ConnectedComponents.scala:206`
    -> `RDD[N] at localCheckpoint at ConnectedComponents.scala:L`; any
    edit above the call site moves the line, not the plan)
  - lambda identity hashes (`Foo$$$Lambda$5812/0x00007f...@307b954`,
    `Foo$$Lambda/0x00007f...@307b954`) -> `$Lambda`
  - lambda variable names (`lambda x_49`) -> `lambda x_N`; Spark
    numbers them from one JVM-wide counter, and two plan dumps of
    the same commit number the vector-search plans differently
  - /tmp paths (`file:/tmp/graft-i8114.../meta`) -> `/tmp/...`

Prints a unified diff for every query whose normalized plans differ
and each query present in only one dir. Exits 1 on any difference or
when no query is present in both dirs (empty or misnamed dirs), 0 when
every plan matches.
"""
import difflib
import os
import re
import sys

NORMALIZE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]( at \w+ at [\w.]+\.scala:)\d+"), r"RDD[N]\1L"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\$Lambda[$\d]*/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda"),
    (re.compile(r"\blambda (\w+?)_\d+"), r"lambda \1_N"),
    (re.compile(r"/tmp/[^\s,\]\)]*"), "/tmp/..."),
]


def normalize(text: str) -> str:
    for pattern, placeholder in NORMALIZE:
        text = pattern.sub(placeholder, text)
    return text


def plans(d: str) -> dict:
    out = {}
    for name in sorted(os.listdir(d)):
        if name.endswith(".txt"):
            out[name[: -len(".txt")].rsplit("_", 1)[0]] = os.path.join(d, name)
    return out


def main(a_dir: str, b_dir: str) -> int:
    a, b = plans(a_dir), plans(b_dir)
    differing = 0
    for q in sorted(set(a) | set(b)):
        if q not in a or q not in b:
            print(f"ONLY IN {a_dir if q in a else b_dir}: {q}")
            differing += 1
            continue
        with open(a[q], encoding="utf-8") as f:
            ta = normalize(f.read()).splitlines(keepends=True)
        with open(b[q], encoding="utf-8") as f:
            tb = normalize(f.read()).splitlines(keepends=True)
        if ta != tb:
            differing += 1
            sys.stdout.writelines(difflib.unified_diff(ta, tb, a[q], b[q], n=2))
    compared = len(set(a) & set(b))
    print(f"{compared} queries compared, {differing} differ")
    return 1 if differing or compared == 0 else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
