#!/usr/bin/env python3
"""Compare two sets of `graft.PlanDump` outputs query by query.

PlanDump writes one formatted physical plan per query to
`<outDir>/<query>_<tag>.txt`. This script pairs the files of two such
directories by file name, so dump both sides with the same <tag>, and
diffs each pair after normalising what differs between two runs of the
same plan:

  - expression IDs (`vec_id#123L` -> `vec_id#NL`);
  - exchange plan IDs (`[plan_id=42]`);
  - the per-JVM temp-dir suffixes of the stored-index scratch paths;
  - checkpointed RDD ids and the source line of the call that built
    them (`MapPartitionsRDD[1640] at localCheckpoint at X.scala:632`),
    which move whenever code is moved, not when the plan changes.

It prints a unified diff for every query whose plans differ, lists the
files present on one side only, and exits 1 if anything differed
(0 when every pair matches).

Recipe: check that a refactor leaves the plans of the queries it
touches unchanged.

    git clone -q <repo> /tmp/parent && git -C /tmp/parent checkout <base>
    Q=embedding_dedup,semantic_dedup,...   # queries reaching the change
    (cd /tmp/parent && sbt "runMain graft.PlanDump <sfDir> /tmp/plans_a pd $Q")
    sbt "runMain graft.PlanDump <sfDir> /tmp/plans_b pd $Q"
    python3 tools/plan_diff.py /tmp/plans_a /tmp/plans_b

Dumping the base twice into two directories and diffing those first
shows whether the plans of the chosen queries are stable run to run.
"""

import difflib
import re
import sys
from pathlib import Path

_RULES = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=N]"),
    (re.compile(r"(graft-[a-z0-9-]+?)\d{6,}"), r"\1N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"( at [A-Za-z0-9_$]+\.scala):\d+"), r"\1:N"),
]


def normalise(text):
    for pattern, repl in _RULES:
        text = pattern.sub(repl, text)
    return text.splitlines(keepends=True)


def main(argv):
    if len(argv) != 3:
        print("usage: plan_diff.py <dirA> <dirB>", file=sys.stderr)
        return 2
    a_dir, b_dir = Path(argv[1]), Path(argv[2])
    a = {p.name: p for p in a_dir.glob("*.txt")}
    b = {p.name: p for p in b_dir.glob("*.txt")}
    differ = 0
    for name in sorted(a.keys() - b.keys()):
        print(f"[ONLY-A] {name}")
        differ += 1
    for name in sorted(b.keys() - a.keys()):
        print(f"[ONLY-B] {name}")
        differ += 1
    same = 0
    for name in sorted(a.keys() & b.keys()):
        la = normalise(a[name].read_text())
        lb = normalise(b[name].read_text())
        if la == lb:
            same += 1
            continue
        differ += 1
        print(f"[DIFF] {name}")
        sys.stdout.writelines(difflib.unified_diff(
            la, lb, fromfile=str(a[name]), tofile=str(b[name])))
    print(f"{same} same, {differ} different")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
