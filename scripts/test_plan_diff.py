#!/usr/bin/env python3
"""Fixture test for plan_diff.py.

  1. POSITIVE: two dumps of one plan that differ only in Spark's per-JVM
     ids (expression ids, plan ids, RDD ids, lambda class names, object
     hashes)
     compare equal.
  2. NEGATIVE: a changed operator compares unequal, and the report names
     the file.
  3. NEGATIVE: a file present on one side only counts as differing.
  4. POSITIVE: lambda variables that differ only in their numeric suffix
     (`x_6` vs `x_7`) compare equal.
  5. NEGATIVE: an extra lambda compares unequal.
  6. An alias-only difference is reported `(same operators)`.
  7. An added `Exchange` node is reported `(operators differ)`.
  8. POSITIVE: `_common_expr_<n>` aliases that differ only in their JVM-wide
     counter compare equal; NEGATIVE: one more common expression compares
     unequal.

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
Functions [1]: [partial_max(transform(toks#{d}, lambdafunction(lambda x_{x}#{e}, lambda x_{x}#{e}, false))), partial_max(aggregate(toks#{d}, 0, lambdafunction((lambda x_{y}#{f} + lambda y_{z}#{g}), lambda x_{y}#{f}, lambda y_{z}#{g}, false), lambdafunction(lambda id#{e}, lambda id#{e}, false)))]
Arguments: graft.operators.Fin$$$Lambda${l}/0x{lh}@{h}, org.apache.spark.sql.catalyst.expressions.UnsafeArrayData@{u}
"""


def dump(dirpath, name, op="HashAggregate", **ids):
    with open(os.path.join(dirpath, name), "w") as f:
        f.write(PLAN.format(**ids).replace("HashAggregate", op))


IDS_A = dict(a=12, b=13, c=200, p=7, r=323, d=41, e=42, f=43, g=44, l=1234,
             lh="0000000801a2b3c0", h="5f3a2b1c", u="63bcdd51", x=6, y=7, z=8)
IDS_B = dict(a=9012, b=9013, c=9250, p=31, r=6495, d=9041, e=9042, f=9043,
             g=9044, l=77, lh="00000008019fe000", h="1d2e3f", u="74fbdd04",
             x=241, y=242, z=243)


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
    assert rc == 1 and "q_x_d.txt (operators differ)" in out \
        and "1 of 1 files differ" in out, (rc, out)

    dump(b, "q_x_d.txt", **IDS_B)
    dump(a, "q_y_d.txt", **IDS_A)
    rc, out = run(a, b)
    assert rc == 1 and "q_y_d.txt" in out and "1 of 2 files differ" in out, (rc, out)

with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
    # 4. only the lambda suffixes differ (IDS_A vs IDS_B above: 6/7/8 vs
    #    241/242/243); one more side differs in suffix order only
    dump(a, "q_l_d.txt", **IDS_A)
    dump(b, "q_l_d.txt", **dict(IDS_B, x=18, y=9, z=30))
    rc, out = run(a, b)
    assert rc == 0 and out.strip() == "0 of 1 files differ", (rc, out)

    # 5. an extra lambda: the same plan with one more transform
    with open(os.path.join(b, "q_l_d.txt")) as f:
        text = f.read()
    with open(os.path.join(b, "q_l_d.txt"), "w") as f:
        f.write(text.replace(
            "transform(toks#9041, ",
            "transform(transform(toks#9041, lambdafunction(lambda x_44#9045, "
            "lambda x_44#9045, false)), ", 1))
    rc, out = run(a, b)
    assert rc == 1 and "1 of 1 files differ" in out, (rc, out)

with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
    # 6. the same operators, one output column renamed
    dump(a, "q_o_d.txt", **IDS_A)
    dump(b, "q_o_d.txt", **IDS_B)
    with open(os.path.join(b, "q_o_d.txt")) as f:
        text = f.read()
    with open(os.path.join(b, "q_o_d.txt"), "w") as f:
        f.write(text.replace("Input [2]: [user_id#9012L, ts#9013]",
                             "Input [2]: [uid#9012L, ts#9013]"))
    rc, out = run(a, b)
    assert rc == 1 and "q_o_d.txt (same operators)" in out \
        and "1 of 1 files differ" in out, (rc, out)

    # 7. one more Exchange node in the plan
    with open(os.path.join(b, "q_o_d.txt"), "w") as f:
        f.write(text + "\n(5) Exchange\nInput [1]: [user_id#9012L]\n")
    rc, out = run(a, b)
    assert rc == 1 and "q_o_d.txt (operators differ)" in out \
        and "1 of 1 files differ" in out, (rc, out)

COMMON = """(3) Project
Output [2]: [cents#{a}L, _common_expr_{x}#{b} AS _common_expr_{x}#{b}]
Input [1]: [cents#{a}L]

(4) Filter
Condition : (_common_expr_{x}#{b} > 0.0) AND (_common_expr_{y}#{c} > 0.0)
"""

with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
    # 8. a run that built two more nullif queries first: counters 2/3 vs 0/1
    with open(os.path.join(a, "q_c_d.txt"), "w") as f:
        f.write(COMMON.format(a=12, b=13, c=14, x=0, y=1))
    with open(os.path.join(b, "q_c_d.txt"), "w") as f:
        f.write(COMMON.format(a=912, b=913, c=914, x=2, y=3))
    rc, out = run(a, b)
    assert rc == 0 and out.strip() == "0 of 1 files differ", (rc, out)

    # the same counters, but both conditions read ONE common expression
    with open(os.path.join(b, "q_c_d.txt"), "w") as f:
        f.write(COMMON.format(a=912, b=913, c=914, x=2, y=2))
    rc, out = run(a, b)
    assert rc == 1 and "1 of 1 files differ" in out, (rc, out)

print("plan_diff fixture: 8/8 cases behaved as expected")
