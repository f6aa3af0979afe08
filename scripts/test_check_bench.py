#!/usr/bin/env python3
"""Fixture test for check_bench.py.

Covers the failure contract between Bench and the checker: Bench keeps a
query that threw in `queries` (its time-to-failure) and names it in the
additive `failed` list, so the checker must flag it even though its time
sits inside the reference band.
  1. NEGATIVE: a record whose `failed` list is non-empty is REJECTED, and
     the report names the failed query.
  2. POSITIVE: the same record with an empty `failed` list passes.
  3. With Bench's per-query record beside the bench record, a FLAG line
     and a NEW line carry that query's rep-1 counters (construction
     seconds, jobs, stages, tasks, task-run seconds).

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

# 3. one query far over its reference and one with no reference, with the
#    per-query record present: both lines carry the counters
slow = sorted(REFS)[1]
queries = dict(REFS, **{slow: 3.0 * REFS[slow] + 5.0, "q_fixture_new": 0.5})
counters = {"jobs": 7, "stages": 11, "tasks": 23, "task_run_ms": 4500}
side = {"sf": "fixture", "reps": 1, "failed": [], "results": [
    {"query": slow, "status": "ok", "reps": [queries[slow]],
     "construct_s": [1.25], "min": queries[slow], "rows": 3,
     "counters": [dict(counters, job_ms=[1.0] * 7)]},
    {"query": "q_fixture_new", "status": "ok", "reps": [0.5],
     "construct_s": [0.05], "min": 0.5, "rows": 1,
     "counters": [dict(counters, jobs=2, job_ms=[1.0, 2.0])]}]}
with tempfile.TemporaryDirectory() as d:
    path = os.path.join(d, "bench.json")
    with open(path, "w") as f:
        f.write(json.dumps({"metric": "total", "value": sum(queries.values()),
                            "unit": "sec", "queries": queries, "failed": [],
                            "sf": "fixture"}) + "\n")
    with open(os.path.join(d, "bench_queries.json"), "w") as f:
        json.dump(side, f)
    out = io.StringIO()
    argv, sys.argv = sys.argv, ["check_bench.py", path]
    try:
        with contextlib.redirect_stdout(out):
            check_bench.main()
    finally:
        sys.argv = argv
    lines = out.getvalue().splitlines()
    flag = [l for l in lines if l.strip().startswith(f"FLAG {slow}:")]
    new = [l for l in lines if l.strip().startswith("NEW   q_fixture_new:")]
    assert flag and flag[0].endswith(
        "[construct 1.25 s, 7 jobs, 11 stages, 23 tasks, task-run 4.50 s]"), lines
    assert new and new[0].endswith(
        "[construct 0.05 s, 2 jobs, 11 stages, 23 tasks, task-run 4.50 s]"), lines

print("check_bench fixture: 3/3 cases behaved as expected")
