#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload report_batch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) and generates the corpus into
`.bench_build/`; later runs reuse both. Each run then starts one JVM that
builds a GraftSession, publishes the fixtures from a fresh copy of the
source tables, and times closed-loop passes over the workload's pinned
query list (see perfbench/README.md). The last line of stdout is the
JSON result; `--trace 1` reports the per-layer metrics instead of the
end-to-end ones.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import corpus  # noqa: E402
import metrics  # noqa: E402

ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
HARNESS = HERE / "harness"
CONFIG = json.loads((HERE / "workloads.json").read_text())
EXPECTED = json.loads((HERE / "expected_rows.json").read_text())
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JVM_TIMEOUT_S = 170
HEAP = "4g"
# a traced run makes exactly this many timed passes; an untraced run
# makes at least its workload's `min_passes` (more while they fit in
# --seconds)
TRACED_PASSES = 2


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HARNESS / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"{ROOT} holds no engine sources (build.sbt, src/main/scala): nothing to benchmark")
    stamp, cp_file = source_stamp(), BUILD / "classpath.txt"
    if cp_file.exists():
        saved = json.loads(cp_file.read_text())
        if saved["stamp"] == stamp:
            return saved["classpath"]
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        # offline, resolving through the user's repository list when it has one
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness (sbt compile)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HARNESS, env=env,
                       stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=850)
    # `export` prints the classpath as a bare line; sbt's own lines start with "["
    classpath = next((l.strip() for l in reversed(p.stdout.splitlines())
                      if ".jar" in l and not l.startswith("[")), None)
    if p.returncode != 0 or classpath is None:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp_file.write_text(json.dumps({"stamp": stamp, "classpath": classpath}))
    log(f"build done in {time.time() - t0:.0f} s")
    return classpath


def corpus_dir():
    """The generated corpus (perfbench/corpus.py), made once per checkout."""
    out = BUILD / "corpus"
    if not (out / "_DONE").exists():
        tmp = BUILD / "corpus.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        corpus.generate(tmp)
        (tmp / "_DONE").write_text("")
        shutil.rmtree(out, ignore_errors=True)
        tmp.rename(out)
    return out


def cleanup(work):
    """Delete the run's work dir and every fixture the engine published for
    it: CachedDir writes to /tmp/graft_<epoch>_<tag>_<source path>_<fp>,
    and every source path of this run contains the work dir's name."""
    for p in published(work):
        shutil.rmtree(p, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)


def published(work):
    """The fixture dirs CachedDir published from this run's source copies."""
    token = re.sub(r"[^A-Za-z0-9.]", "_", str(work))
    return [p for p in Path("/tmp").glob("graft_*") if token in p.name]


def published_files(work):
    return sum(1 for d in published(work) for f in d.rglob("*")
               if f.is_file() and not f.name.startswith((".", "_")))


def run_jvm(classpath, workload, seed, seconds, trace, queries=None, min_passes=None,
            audit=False, timeout=JVM_TIMEOUT_S):
    """One harness JVM; returns its raw record."""
    w = CONFIG["workloads"][workload]
    min_passes = min_passes or (TRACED_PASSES if trace else w["min_passes"])
    queries = queries or w["queries"]
    source = corpus_dir()
    work = BUILD / "runs" / f"{workload}_{os.getpid()}_{time.time_ns()}"
    (work / "tmp").mkdir(parents=True)
    n = 1 + (min_passes if trace else 64)
    plan = {"cores": len(os.sched_getaffinity(0)), "seconds": seconds, "trace": trace,
            "source": str(source), "work": str(work), "publishers": w["publishers"],
            "min_passes": min_passes, "audit": audit,
            "passes": metrics.pass_orders(queries, seed, workload, n)}
    (work / "plan.json").write_text(json.dumps(plan))
    cmd = (["java", *ADD_OPENS, f"-Xmx{HEAP}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", classpath, "graftbench.Harness", str(work / "plan.json"), str(work / "result.json")])
    proc = None
    try:
        with open(work / "jvm.log", "w") as out:
            proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=out,
                                    stderr=subprocess.STDOUT)
            rc = proc.wait(timeout=timeout)
        if rc != 0 or not (work / "result.json").exists():
            sys.stderr.write((work / "jvm.log").read_text()[-6000:])
            fail(f"harness JVM exited with {rc}")
        rec = json.loads((work / "result.json").read_text())
        if trace:
            rec["publish_files"] = published_files(work)
        return rec
    except subprocess.TimeoutExpired:
        sys.stderr.write((work / "jvm.log").read_text()[-3000:])
        fail(f"harness JVM ran past {timeout} s")
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        cleanup(work)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(CONFIG["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and deletes what it published
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    classpath = build()
    rec = run_jvm(classpath, args.workload, args.seed, args.seconds, args.trace)
    result = summarize(args.workload, rec, args.trace)
    print(json.dumps(result))


def module_names():
    """The engine modules the pinned queries of all workloads come from."""
    return sorted({CONFIG["modules"][q] for w in CONFIG["workloads"].values() for q in w["queries"]})


def summarize(workload, rec, trace):
    """Print the human-readable report to stdout; return the result line."""
    w = CONFIG["workloads"][workload]
    e2e, counts = metrics.end_to_end(rec, EXPECTED)
    bad = [(i, q["name"], s) for i, q, s in metrics.statuses(rec["passes"], EXPECTED) if s != "ok"]
    pubs = rec["publish"] + rec.get("audit", [])
    pub_errors = [x for x in pubs + rec.get("followup", []) if x.get("error")]
    print(f"workload {workload}: {len(w['queries'])} pinned queries, {counts['passes']} timed passes, "
          f"{counts['queries']} timed queries, {counts['latency_samples']} latency samples")
    for i, name, s in bad:
        print(f"  non-ok: pass {i} {name}: {s}")
    for x in pub_errors:
        print(f"  publish {x['name']} failed: {x['error']}")
    correct = not bad and not pub_errors
    if trace:
        names = {p for w in CONFIG["workloads"].values() for p in w["publishers"]}
        names |= {x["name"] for x in pubs}
        ms = metrics.layer_metrics(rec, CONFIG["modules"], module_names(), sorted(names))
        for name, tiled, wall in metrics.tiling_errors(rec):
            correct = False
            if tiled is None:
                print(f"  tiling: {name}: no QueryExecution observed for its count action")
            else:
                print(f"  tiling: {name} construct+plan+action {tiled:.4f} s vs wall {wall:.4f} s")
        if "followup" in rec:
            jobs, rows = metrics.publish_work(rec, rec["followup"])
            print(f"  follow-up prepareFixtures after the audit: {jobs} jobs, {rows} rows written")
            if rows:
                correct = False
                print("  the benchmark's publisher list no longer covers the program's")
        spec = SPEC["per_layer"]
    else:
        ms = e2e
        heap = [round(q["heap_mb"], 1) for q in rec["passes"][0]["queries"] if "heap_mb" in q]
        print(f"  heap after each query of the first pass (MB): {heap}")
        print(f"  pass walls (s): {[round(p['wall_s'], 3) for p in rec['passes']]}")
        print(f"  pass CPU times (s): {[round(p['cpu_s'], 3) for p in rec['passes']]}")
        walls = {}
        for p in rec["passes"]:
            for q in p["queries"]:
                walls.setdefault(q["name"], []).append(q["wall_s"])
        print("  query walls, median over passes (s): " + ", ".join(
            f"{k} {statistics.median(v):.3f}" for k, v in sorted(walls.items())))
        spec = SPEC["end_to_end"]
    units = {"failed_frac": "ratio"}
    units.update({m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]})
    for k in sorted(ms):
        v = "n/a" if ms[k] is None else f"{ms[k]:.6g}"
        print(f"  {k:40s} {v:>14} {units.get(k, 's' if k.endswith('_s') else '')}")
    out = {}
    for m in spec:
        v = ms.get(m["name"])
        if v is None:
            correct = False
            print(f"  metric {m['name']} could not be measured")
            v = 0.0
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    return {"correct": correct, "attempted": counts["queries"] + len(rec["publish"]),
            "failed": counts["failed"] + len(pub_errors), "metrics": out}


if __name__ == "__main__":
    main()
