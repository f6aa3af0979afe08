#!/usr/bin/env python3
"""Regenerate perfbench/expected_rows.json: each query's row count on the
benchmark corpus, from the engine's DuckDB oracle SQL (tables registered as
views, as scripts/check_oracle.py does). Queries without an oracle are
recorded as ">0": they must return some rows. An oracle that DuckDB cannot
finish within LIMIT_S is recorded as null (unchecked); every pinned query
must have a count.

    python3 perfbench/expected_rows.py        # from the root of a checkout
"""
import json
import subprocess
import sys
import shutil
import tempfile
import time
from pathlib import Path

import run

LIMIT_S = 30
COUNT = """
import sys, duckdb
d, tmp, sql = sys.argv[1], sys.argv[2], sys.stdin.read()
con = duckdb.connect(config={"temp_directory": tmp, "memory_limit": "2GB", "threads": 2})
con.execute("SET enable_progress_bar = false")
for t in sys.argv[3:]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
print(con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0])
"""


def count(d, tmp, sql):
    """Row count of `sql` on the corpus in `d`, or None when DuckDB cannot
    produce it within LIMIT_S (a separate process, so it can be stopped)."""
    try:
        p = subprocess.run([sys.executable, "-c", COUNT, str(d), str(tmp), *run.corpus.TABLES],
                           input=sql, capture_output=True, text=True, timeout=LIMIT_S)
    except subprocess.TimeoutExpired:
        return None
    return int(p.stdout) if p.returncode == 0 else None


def main():
    classpath = run.build()
    with tempfile.TemporaryDirectory(dir=run.BUILD) as tmp:
        out = Path(tmp) / "oracle.json"
        subprocess.run(["java", "-cp", classpath, "graftbench.OracleDump", str(out)], check=True)
        sqls = json.loads(out.read_text())
    d, tmp = run.corpus_dir(), run.BUILD / "duckdb_tmp"
    counts = {}
    for q in sorted(run.CONFIG["modules"]):
        t0 = time.time()
        counts[q] = count(d, tmp, sqls[q]) if q in sqls else ">0"
        print(f"{q} {counts[q]} {time.time() - t0:.1f} s", file=sys.stderr, flush=True)
    shutil.rmtree(run.BUILD / "duckdb_tmp", ignore_errors=True)
    Path(run.HERE / "expected_rows.json").write_text(json.dumps(counts, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
