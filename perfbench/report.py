#!/usr/bin/env python3
"""Everything the benchmark measures, in one command (from a checkout root):

    python3 perfbench/report.py [--seed 1] [--full]

For each workload: one untraced run (every end-to-end metric, each query's
status), then two traced runs of the same seed (every per-layer metric,
the trace overhead as traced batch_s / untraced batch_s, and whether the
scheduler, cache and publish counts repeat exactly). `--full` adds, per
workload, a traced run over its full query list (a warm-up pass, then one
timed pass): every query's status, the traffic mix of the full list beside
that of the pinned queries in it, and for report_batch the per-query job counts beside
the reference probe's figures (median 4, max 27 on q_calibration, sf0.1
on 4 cores).
"""
import argparse
import statistics

import metrics
import run

REPEATABLE = ["sched.jobs", "sched.stages", "sched.tasks", "cache.builds",
              "publish.rows_written", "publish.files_written"]
PROBE_MEDIAN, PROBE_MAX = 4, 27


def workload_report(classpath, workload, seed, seconds):
    print(f"\n=== {workload} (seed {seed}): untraced run")
    plain = run.run_jvm(classpath, workload, seed, seconds, 0)
    print(run.summarize(workload, plain, 0))
    e2e, _ = metrics.end_to_end(plain, run.EXPECTED)
    traced = []
    for i in (1, 2):
        print(f"\n=== {workload} (seed {seed}): traced run {i}")
        rec = run.run_jvm(classpath, workload, seed, seconds, 1, audit=True, timeout=600)
        print(run.summarize(workload, rec, 1))
        traced.append(rec)
    print(f"\n=== {workload}: trace overhead and count repeatability")
    for i, rec in enumerate(traced, 1):
        print(f"  traced run {i}: batch_s {metrics.best_pass_s(rec["passes"]):.3f} s / untraced "
              f"{e2e['batch_s']:.3f} s = {metrics.best_pass_s(rec["passes"]) / e2e['batch_s']:.3f}")
    layers = [metrics.layer_metrics(r, run.CONFIG["modules"], run.module_names(),
                                    [x["name"] for x in r["publish"] + r["audit"]])
              for r in traced]
    for name in REPEATABLE:
        a, b = layers[0][name], layers[1][name]
        print(f"  {name:28s} {a:>14g} {b:>14g}  {'repeats' if a == b else 'UNSTEADY: do not use'}")


def full_pass(classpath, workload, seed):
    """A traced run over the workload's full list; the traffic mix of the
    whole list beside that of its pinned queries, from the same pass."""
    w = run.CONFIG["workloads"][workload]
    print(f"\n=== {workload}: traced run over all {len(w['all'])} queries")
    rec = run.run_jvm(classpath, workload, seed, 0, 1, queries=w["all"], min_passes=1,
                      timeout=1700)
    timed = rec["passes"][0]
    for q in timed["queries"]:
        status = metrics.classify(q, run.EXPECTED.get(q["name"]))
        if status != "ok":
            print(f"  non-ok: {q['name']}: {status}")
    for name, tiled, wall in metrics.tiling_errors(rec):
        print(f"  tiling: {name}: layers {tiled} s vs wall {wall:.4f} s")
    full_mix = metrics.traffic_mix(rec, run.CONFIG["modules"])
    pinned_mix = metrics.traffic_mix(rec, run.CONFIG["modules"], set(w["queries"]))
    print(f"  traffic mix {'full list':>12} {'pinned list':>12}")
    for k in full_mix:
        print(f"  {k:26s} {full_mix[k]:12.3f} {pinned_mix[k]:12.3f}")
    print(f"  timed pass wall {timed['wall_s']:.1f} s over {len(timed['queries'])} queries")
    if workload == "report_batch":
        per_query = metrics.jobs_per_query(rec, [timed])
        for name, n in sorted(per_query, key=lambda x: -x[1]):
            print(f"  {name:32s} {n:4d} jobs")
        counts = [n for _, n in per_query]
        top = max(per_query, key=lambda x: x[1])
        print(f"  jobs per query: median {statistics.median(counts)} (probe {PROBE_MEDIAN}), "
              f"max {top[1]} on {top[0]} (probe {PROBE_MAX} on q_calibration); "
              f"total {sum(counts)} over {len(counts)} queries")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=run.SPEC["run_seconds"])
    ap.add_argument("--full", action="store_true")
    args = ap.parse_args()
    classpath = run.build()
    for workload in run.CONFIG["workloads"]:
        workload_report(classpath, workload, args.seed, args.seconds)
        if args.full:
            full_pass(classpath, workload, args.seed)


if __name__ == "__main__":
    main()
