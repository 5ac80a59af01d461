#!/usr/bin/env python3
"""Compare two directories of `graft.Explain formatted` plan dumps.

Usage:  tools/plan_diff.py <before_dir> <after_dir> [name ...]

Each directory holds one `<query>.txt` per query, as written by
`runMain graft.Explain formatted <q1,q2,...> <sfDir> <outDir>`. With names,
only those queries are compared; without, every file in either directory.

Before comparing, the tokens that change from one JVM or one build to the
next without the plan changing are replaced by placeholders:
  - expression ids        `doc_id#123L`       -> `doc_id#<id>L`
  - exchange plan ids     `[plan_id=8892]`    -> `[plan_id=<id>]`
  - RDD ids               `MapPartitionsRDD[206]` -> `MapPartitionsRDD[<id>]`
  - RDD creation sites    `at Dedup.scala:1826`   -> `at Dedup.scala:<line>`

Prints a unified diff per differing query and `same` / `DIFF` / `missing`
per query; exits 1 on any difference or missing dump, else 0.

A query whose DataFrame build already runs jobs over a persisted relation
(`pipeline_curate`'s cached tagged-pair table) embeds that relation's
executed adaptive plan, and AQE re-plans it from whichever stage finishes
first: two dumps of the same code can differ in join build sides, node
numbers, codegen ids and query-stage ids. Dump such queries with
`spark.sql.adaptive.enabled=false` on both sides to compare their static
plans.
"""
import difflib
import pathlib
import re
import sys

NORMALIZE = [
    (re.compile(r"#\d+"), "#<id>"),
    (re.compile(r"plan_id=\d+"), "plan_id=<id>"),
    (re.compile(r"RDD\[\d+\]"), "RDD[<id>]"),
    (re.compile(r"(\.scala):\d+"), r"\1:<line>"),
]


def normalize(text: str) -> list:
    for pat, rep in NORMALIZE:
        text = pat.sub(rep, text)
    return text.splitlines(keepends=True)


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    before, after = pathlib.Path(sys.argv[1]), pathlib.Path(sys.argv[2])
    names = sys.argv[3:] or sorted(
        {p.stem for p in before.glob("*.txt")} | {p.stem for p in after.glob("*.txt")})
    bad = 0
    for name in names:
        a, b = before / f"{name}.txt", after / f"{name}.txt"
        if not a.exists() or not b.exists():
            print(f"missing  {name} ({a if not a.exists() else b})")
            bad += 1
            continue
        diff = list(difflib.unified_diff(
            normalize(a.read_text()), normalize(b.read_text()), str(a), str(b)))
        if diff:
            sys.stdout.writelines(diff)
            print(f"DIFF     {name}")
            bad += 1
        else:
            print(f"same     {name}")
    print(f"{len(names) - bad} same, {bad} different or missing")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
