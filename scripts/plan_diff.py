#!/usr/bin/env python3
"""Compare two PlanDump output directories with Spark's per-JVM ids masked.

Two PlanDump runs of the same commit do not produce identical bytes: the
formatted plans carry counters and hashes that depend on what the JVM did
before, not on the plan. This script masks them and then compares the files
that share a name:

  - expression ids        `name#1234L`          -> `name#NL`
  - plan ids              `plan_id=17`          -> `plan_id=N`
  - RDD ids               `MapPartitionsRDD[323]` -> `MapPartitionsRDD[N]`
  - lambda class names    `Foo$$Lambda$12/0x..` -> `Foo$$Lambda`
  - object hashes         `UnsafeArrayData@5f3a2b1c` -> `UnsafeArrayData@H`

and renumbers lambda variables: Spark names a Scala-API lambda variable
`x_<n>` from one JVM-wide counter, so per file the distinct names are
renumbered 1, 2, ... in order of first appearance (`lambda x_6`, `lambda
y_7`, `lambda x_9` -> `x_1`, `y_2`, `x_3`). A lambda added or removed still
shows as a difference.

A file present in only one directory counts as differing. Dump both sides
with the same <suffix> so the file names match, e.g.

    sbt "runMain graft.PlanDump <sfDir> <dirA> d"   # in checkout A
    sbt "runMain graft.PlanDump <sfDir> <dirB> d"   # in checkout B
    python3 scripts/plan_diff.py <dirA> <dirB>

Prints each differing file and, last, `<n> of <m> files differ`.
Exit 0 when none differ, 1 otherwise.
"""
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(?<=RDD)\[\d+\]"), "[N]"),
    (re.compile(r"\$\$Lambda(?:\$\d+)?(?:/0x[0-9a-fA-F]+)?"), "$$Lambda"),
    (re.compile(r"(?<=[\w$])@[0-9a-f]{1,16}\b"), "@H"),
]


LAMBDA_VAR = re.compile(r"(?<=lambda )(\w+)_(\d+)(?=#)")


def renumber_lambdas(text: str) -> str:
    seen = {}

    def repl(m):
        n = seen.setdefault(m.group(0), len(seen) + 1)
        return f"{m.group(1)}_{n}"

    return LAMBDA_VAR.sub(repl, text)


def mask(text: str) -> str:
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return renumber_lambdas(text)


def read_masked(path: str) -> str:
    with open(path, encoding="utf-8") as f:
        return mask(f.read())


def differing(dir_a: str, dir_b: str):
    """(sorted names of differing files, number of files compared)."""
    a, b = set(os.listdir(dir_a)), set(os.listdir(dir_b))
    names = sorted(a | b)
    diff = [n for n in names
            if n not in a or n not in b
            or read_masked(os.path.join(dir_a, n))
            != read_masked(os.path.join(dir_b, n))]
    return diff, len(names)


def main(argv) -> int:
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    diff, total = differing(argv[1], argv[2])
    for n in diff:
        print(n)
    print(f"{len(diff)} of {total} files differ")
    return 1 if diff else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
