#!/usr/bin/env python3
"""Local mirror of the driver's DuckDB-oracle compare (SURVEY.md §5.1).

Usage: python3 scripts/check_oracle.py <sfDir> <verifyOutDir>

Reads <verifyOutDir>/oracle_sql.json, registers the sfDir parquet tables
as DuckDB views, runs each oracle SQL, and compares against the Spark
parquet dump <verifyOutDir>/<name>/ with columns sorted by name —
the same shape the driver hashes. Exact match required (doubles are
round(,4) on both sides by construction).

DuckDB runs under a memory limit and spills to a fresh temporary
directory (removed at exit). A watcher thread interrupts the running
oracle query once that directory takes more than TEMP_CAP_MB on disk,
so a query whose plan blows up fails by name instead of filling the
disk. DuckDB can keep writing for some seconds before it stops: a full
sf0.1 run peaked at 16.5 GB of temp files. DuckDB's own `max_temp_directory_size` does not do this in 1.0:
it counts the data DuckDB keeps in the directory, not the size of its
files, and q_modularity's oracle at sf0.1 grew the directory to 18.7 GB
under a 12 GB setting. The limits fit the heaviest passing oracles at
sf0.1: q_graph_2hop and q_graph_reciprocity take 9–10 GB of temp files
under the 8 GB memory limit, and q_attribution_markov needs more than
3 GB of memory already at sf0.01. Each oracle query's wall time is
printed on its PASS line or on its oracle-error FAIL line, and their
sum before the summary line.
"""
import json, os, shutil, struct, sys, math, tempfile, threading, time
import duckdb
import numpy as np

MEMORY_LIMIT = "8GB"
TEMP_CAP_MB = 12000

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(v):
    if isinstance(v, float):
        # The driver hashes BITS, and -0.0 != +0.0 (and NaN payloads
        # differ) at the bit level even though Python == says equal.
        # Hex the IEEE754 bytes for those edge values so this mirror is
        # exactly as strict as the driver's hash (r8's q_pmi_bigrams
        # lesson: one oracle -0.0 passed here, failed the driver).
        if math.isnan(v) or v == 0.0:
            return struct.pack("<d", v).hex()
        return v
    if isinstance(v, np.generic):  # numpy scalar (int64, bool_, ...)
        return norm(v.item())
    if hasattr(v, "tzinfo") and getattr(v, "tzinfo", None) is not None:
        return v.tz_localize(None) if hasattr(v, "tz_localize") else v
    # array detection BY TYPE, not hasattr(tolist): numpy scalars also
    # expose .tolist(), so the attribute probe is pandas-version-fragile
    if isinstance(v, np.ndarray):
        return tuple(norm(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v

def temp_bytes(path):
    """Bytes the files directly under `path` take on disk."""
    total = 0
    for e in os.scandir(path):
        try:
            total += e.stat().st_blocks * 512
        except FileNotFoundError:  # DuckDB removed it meanwhile
            pass
    return total

def main(sf_dir, out_dir):
    tmp = tempfile.mkdtemp(prefix="check_oracle_duckdb_")
    con = duckdb.connect(config={"memory_limit": MEMORY_LIMIT,
                                 "temp_directory": tmp})
    over_cap, stop = threading.Event(), threading.Event()

    def watch():
        while not stop.wait(0.2):
            if temp_bytes(tmp) > TEMP_CAP_MB * 10**6:
                over_cap.set()
                con.interrupt()

    watcher = threading.Thread(target=watch, daemon=True)
    watcher.start()
    try:
        return compare_all(con, sf_dir, out_dir, over_cap)
    finally:
        stop.set()
        watcher.join()
        con.close()
        shutil.rmtree(tmp, ignore_errors=True)

def compare_all(con, sf_dir, out_dir, over_cap):
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    sqls = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    oracle_s = 0.0
    for name, sql in sorted(sqls.items()):
        over_cap.clear()
        t0 = time.monotonic()
        oracle, err = None, None
        try:
            oracle = con.execute(sql).fetchdf()
        except Exception as e:
            err = e
        dt = time.monotonic() - t0
        oracle_s += dt
        if err is not None:
            if over_cap.is_set():
                err = f"temp files passed {TEMP_CAP_MB} MB ({err})"
            print(f"FAIL {name}: oracle SQL error after {dt:.2f} s: {err}")
            n_fail += 1
            continue
        try:
            spark = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchdf()
        except Exception as e:
            print(f"FAIL {name}: spark dump unreadable: {e}")
            n_fail += 1
            continue
        # The driver's checker sorts rows with pandas and dies on top-level
        # array columns (unhashable numpy.ndarray) — reject them here too so
        # the local mirror is exactly as strict as the real gate.
        arr_cols = [c for c in spark.columns
                    if spark[c].map(lambda v: isinstance(
                        v, (np.ndarray, list, tuple))).any()]
        if arr_cols:
            print(f"FAIL {name}: top-level array columns {arr_cols} "
                  "(driver checker cannot hash these — emit scalar rows)")
            n_fail += 1
            continue
        o = oracle[sorted(oracle.columns)]
        s = spark[sorted(spark.columns)]
        if list(o.columns) != list(s.columns):
            print(f"FAIL {name}: columns oracle={list(o.columns)} spark={list(s.columns)}")
            n_fail += 1
            continue
        if len(o) != len(s):
            print(f"FAIL {name}: rows oracle={len(o)} spark={len(s)}")
            n_fail += 1
            continue
        ov = [[norm(v) for v in row] for row in o.itertuples(index=False)]
        sv = [[norm(v) for v in row] for row in s.itertuples(index=False)]
        if ov != sv:
            bad = next((i, a, b) for i, (a, b) in enumerate(zip(ov, sv)) if a != b)
            print(f"FAIL {name}: first diff at row {bad[0]}:\n  oracle={bad[1]}\n  spark ={bad[2]}")
            n_fail += 1
            continue
        print(f"PASS {name} ({len(o)} rows, oracle {dt:.2f} s)")
        n_pass += 1
    print(f"\noracle wall {oracle_s:.1f} s")
    print(f"{n_pass} pass, {n_fail} fail, {len(sqls)} total")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
