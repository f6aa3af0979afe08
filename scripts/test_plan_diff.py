#!/usr/bin/env python3
"""Fixture test for plan_diff.py.

  1. POSITIVE: two dumps of one plan that differ only in Spark's per-JVM
     ids (expression ids, plan ids, RDD ids, lambda class names, object
     hashes)
     compare equal.
  2. NEGATIVE: a changed operator compares unequal, and the report names
     the file.
  3. NEGATIVE: a file present on one side only counts as differing.

Usage: python3 scripts/test_plan_diff.py   (exit 0 = all good)
"""
import contextlib, io, os, sys, tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import plan_diff

PLAN = """== Physical Plan ==
AdaptiveSparkPlan (5)
+- HashAggregate (4)
   +- Exchange (3)
      +- Filter (2)
         +- Scan parquet  (1)

(2) Filter
Input [2]: [user_id#{a}L, ts#{b}]
Condition : (isnotnull(user_id#{a}L) AND scalar-subquery#{c} [plan_id={p}])

(3) Scan ExistingRDD
Arguments: [src#{a}L], MapPartitionsRDD[{r}] at localCheckpoint at Iter.scala:96

(4) HashAggregate
Functions [1]: [partial_max(transform(toks#{d}, lambdafunction(x#{e}, x#{e}, false)))]
Arguments: graft.operators.Fin$$$Lambda${l}/0x{lh}@{h}, org.apache.spark.sql.catalyst.expressions.UnsafeArrayData@{u}
"""


def dump(dirpath, name, op="HashAggregate", **ids):
    with open(os.path.join(dirpath, name), "w") as f:
        f.write(PLAN.format(**ids).replace("HashAggregate", op))


IDS_A = dict(a=12, b=13, c=200, p=7, r=323, d=41, e=42, l=1234, lh="0000000801a2b3c0",
             h="5f3a2b1c", u="63bcdd51")
IDS_B = dict(a=9012, b=9013, c=9250, p=31, r=6495, d=9041, e=9042, l=77,
             lh="00000008019fe000", h="1d2e3f", u="74fbdd04")


def run(dir_a, dir_b):
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = plan_diff.main(["plan_diff.py", dir_a, dir_b])
    return rc, out.getvalue()


with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
    dump(a, "q_x_d.txt", **IDS_A)
    dump(b, "q_x_d.txt", **IDS_B)
    rc, out = run(a, b)
    assert rc == 0 and out.strip() == "0 of 1 files differ", (rc, out)

    dump(b, "q_x_d.txt", op="SortAggregate", **IDS_B)
    rc, out = run(a, b)
    assert rc == 1 and "q_x_d.txt" in out and "1 of 1 files differ" in out, (rc, out)

    dump(b, "q_x_d.txt", **IDS_B)
    dump(a, "q_y_d.txt", **IDS_A)
    rc, out = run(a, b)
    assert rc == 1 and "q_y_d.txt" in out and "1 of 2 files differ" in out, (rc, out)

print("plan_diff fixture: 3/3 cases behaved as expected")
