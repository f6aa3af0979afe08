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

and renumbers two names Spark draws from JVM-wide counters, per file, 1,
2, ... in order of first appearance:

  - Scala-API lambda variables `x_<n>` (`lambda x_6`, `lambda y_7`, `lambda
    x_9` -> `x_1`, `y_2`, `x_3`);
  - the aliases `_common_expr_<n>` of the common subexpressions a `With`
    expression factors out (every `nullif` becomes one), so a `nullif`
    added or removed in one query does not shift the names in every query
    dumped after it.

A lambda or common expression added or removed still shows as a
difference.

A file present in only one directory counts as differing. Dump both sides
with the same <suffix> so the file names match, e.g.

    sbt "runMain graft.PlanDump <sfDir> <dirA> d"   # in checkout A
    sbt "runMain graft.PlanDump <sfDir> <dirB> d"   # in checkout B
    python3 scripts/plan_diff.py <dirA> <dirB>

Prints each differing file followed by `(same operators)` when both sides
carry the same sequence of `(N) <Name>` operator headers (the formatted
plan's node details, the sequence PlanDump's audit line counts), else
`(operators differ)`; last, `<n> of <m> files differ`. Exit 0 when none
differ, 1 otherwise.
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


OPERATOR = re.compile(r"(?m)^\(\d+\) ([A-Za-z]+)")
LAMBDA_VAR = re.compile(r"(?<=lambda )(\w+)_(\d+)(?=#)")
COMMON_EXPR = re.compile(r"(?<!\w)(_common_expr)_(\d+)(?!\d)")


def renumber(pattern, text: str) -> str:
    """Rename each distinct `<stem>_<n>` match of `pattern` to
    `<stem>_<k>`, k = 1, 2, ... in order of first appearance."""
    seen = {}

    def repl(m):
        n = seen.setdefault(m.group(0), len(seen) + 1)
        return f"{m.group(1)}_{n}"

    return pattern.sub(repl, text)


def mask(text: str) -> str:
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return renumber(COMMON_EXPR, renumber(LAMBDA_VAR, text))


def read_masked(path: str) -> str:
    with open(path, encoding="utf-8") as f:
        return mask(f.read())


def operators(path: str):
    """The plan's operator names in `(N) <Name>` header order; None when
    the file is absent."""
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as f:
        return OPERATOR.findall(f.read())


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
        same = operators(os.path.join(argv[1], n)) == operators(
            os.path.join(argv[2], n))
        print(f"{n} ({'same operators' if same else 'operators differ'})")
    print(f"{len(diff)} of {total} files differ")
    return 1 if diff else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
