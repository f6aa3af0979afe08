#!/usr/bin/env python3
"""Fixture test for check_bench.py.

Covers the failure contract between Bench and the checker: Bench keeps a
query that threw in `queries` (its time-to-failure) and names it in the
additive `failed` list, so the checker must flag it even though its time
sits inside the reference band.
  1. NEGATIVE: a record whose `failed` list is non-empty is REJECTED, and
     the report names the failed query.
  2. POSITIVE: the same record with an empty `failed` list passes.

Usage: python3 scripts/test_check_bench.py   (exit 0 = all good)
"""
import contextlib, io, json, os, sys, tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check_bench

with open(os.path.join(os.path.dirname(HERE), "BASELINE_QUERIES.json")) as f:
    REFS = json.load(f)["queries_sec"]


def run_case(failed, expect_fail):
    # every query exactly at its reference: no timing flag can fire
    rec = {"metric": "total", "value": sum(REFS.values()), "unit": "sec",
           "queries": dict(REFS), "failed": failed, "sf": "fixture"}
    fd, path = tempfile.mkstemp(prefix="cb_", suffix=".json")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(json.dumps(rec) + "\n")
        out = io.StringIO()
        argv, sys.argv = sys.argv, ["check_bench.py", path]
        try:
            with contextlib.redirect_stdout(out):
                rc = check_bench.main()
        finally:
            sys.argv = argv
        assert (rc != 0) == expect_fail, (
            f"expected {'FAIL' if expect_fail else 'PASS'}, got rc={rc}:\n"
            + out.getvalue())
        for name in failed:
            assert name in out.getvalue(), f"{name} missing from:\n{out.getvalue()}"
    finally:
        os.remove(path)


failing = sorted(REFS)[0]
# 1. a query Bench recorded as failed → must be flagged by name
run_case([failing], expect_fail=True)

# 2. the same record with nothing failed → clean
run_case([], expect_fail=False)

print("check_bench fixture: 2/2 cases behaved as expected")
