#!/usr/bin/env python3
"""Compare two graft.DumpPlansR21 output directories plan by plan.

A full sweep plans 279 queries in one JVM, so run-local identifiers
(expression ids, plan ids, codegen stage ids, RDD ids, AQE query-stage
ids, lambda addresses) move between two runs of the SAME code and a raw
`diff -r` is never empty. This masks those identifiers and reports the
files that still differ, plus files present on one side only.

A plan whose operator order follows a hash of expression ids (Spark's
distinct-aggregate rewrite orders its Expand groups that way) can still
differ across sweeps; re-dump such a query alone on both trees
(SPARK_GRAFT_ONLY=<name>), where ids start from the same value, and
compare with a raw `diff -r`.

Usage: python3 tools/plan_diff.py <dir_a> <dir_b>   (exit 1 on any difference)
"""
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"codegen id : \d+"), "codegen id : N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\$\$Lambda\$?[\d/]*0x[0-9a-f]+@[0-9a-f]+"), "$$Lambda"),
    (re.compile(r"(QueryStage\n(?:Output .*\n)?)Arguments: \d+"), r"\1Arguments: N"),
]


def masked(path):
    with open(path) as f:
        text = f.read()
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return text


def main():
    a, b = sys.argv[1], sys.argv[2]
    fa, fb = set(os.listdir(a)), set(os.listdir(b))
    one_side = sorted(fa ^ fb)
    differ = sorted(f for f in fa & fb
                    if masked(os.path.join(a, f)) != masked(os.path.join(b, f)))
    print(f"{len(fa & fb)} common plans; one side only: {one_side}; "
          f"differ after masking run-local ids: {differ}")
    sys.exit(1 if one_side or differ else 0)


if __name__ == "__main__":
    main()
