#!/usr/bin/env python3
"""Fixture test for check_oracle.py (driver-side python only).

Covers the contracts the local mirror must keep aligned with the
driver's checker:
  1. NEGATIVE: a Spark dump with a top-level array column is REJECTED
     (the driver's pandas-based hasher cannot handle it) — and the
     rejection must trigger on type, not on hasattr('tolist'), so plain
     numeric columns are never false-flagged.
  2. POSITIVE: a scalar dump that matches its oracle passes.
  3. BOUNDED: an oracle query whose temp files pass the cap fails by
     name.

Usage: python3 scripts/test_check_oracle.py   (exit 0 = all good)
"""
import json, os, shutil, sys, tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check_oracle


def run_case(make_dump_sql, oracle_sql, expect_fail):
    sf = tempfile.mkdtemp(prefix="co_sf_")
    out = tempfile.mkdtemp(prefix="co_out_")
    try:
        con = duckdb.connect()
        # minimal stand-in tables so the view registration succeeds
        for t in check_oracle.TABLES:
            con.execute(
                f"COPY (SELECT 1 AS one) TO '{sf}/{t}.parquet' (FORMAT PARQUET)")
        os.mkdir(f"{out}/q_fixture")
        con.execute(
            f"COPY ({make_dump_sql}) TO '{out}/q_fixture/part.parquet' (FORMAT PARQUET)")
        json.dump({"q_fixture": oracle_sql}, open(f"{out}/oracle_sql.json", "w"))
        rc = check_oracle.main(sf, out)
        assert (rc != 0) == expect_fail, (
            f"expected {'FAIL' if expect_fail else 'PASS'}, got rc={rc}")
    finally:
        shutil.rmtree(sf, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


# 1. array column in the dump → must be rejected even though rows would match
run_case("SELECT 1 AS id, [1, 2, 3] AS arr",
         "SELECT 1 AS id, [1, 2, 3] AS arr",
         expect_fail=True)

# 2. scalar numeric columns (numpy int64/float64 in pandas) must NOT be
#    false-flagged as arrays, and an exact match must pass
run_case("SELECT 1 AS id, 2.5 AS x",
         "SELECT 1 AS id, 2.5 AS x",
         expect_fail=False)

# 3. a genuine value mismatch on scalar columns still fails
run_case("SELECT 1 AS id, 2.5 AS x",
         "SELECT 1 AS id, 9.9 AS x",
         expect_fail=True)

# 4. an oracle query whose temp files pass the cap is interrupted and
#    fails by name; the dump matches its result, so under the default
#    limits the same case passes
BIG = "SELECT count(DISTINCT i) AS n FROM range(30000000) t(i)"
run_case("SELECT CAST(30000000 AS BIGINT) AS n", BIG, expect_fail=False)
limits = (check_oracle.MEMORY_LIMIT, check_oracle.TEMP_CAP_MB)
check_oracle.MEMORY_LIMIT, check_oracle.TEMP_CAP_MB = "64MB", 1
try:
    run_case("SELECT CAST(30000000 AS BIGINT) AS n", BIG, expect_fail=True)
finally:
    check_oracle.MEMORY_LIMIT, check_oracle.TEMP_CAP_MB = limits

print("check_oracle fixture: 5/5 cases behaved as expected")
