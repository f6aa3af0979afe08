#!/usr/bin/env python3
"""Compare a Bench JSON record against the committed per-query reference
band (BASELINE_QUERIES.json) and print per-query FLAGS, every query the
record names in `failed`, and the median-ratio loaded-host detector; flags become attributable only via
the re-run adjudication protocol (BASELINE.md).

Usage:
    python3 scripts/check_bench.py [bench.json]   # default /tmp/graft_bench.json

When Bench's per-query record sits beside the bench record (`X.json` ->
`X_queries.json`), each FLAG and NEW line also carries that query's
rep-1 counters: construction seconds, jobs, stages, tasks and summed task
run seconds, so a flag reads against the work that explains it.

Bench totals vary up to +-40% between idle runs on this host (BASELINE.md),
so a single total cannot attribute a regression to a query. The committed
band makes it attributable: a query is flagged only when it exceeds
max(3x its reference, reference + 1.0 s) -- wide enough to absorb host
variance, tight enough that a real plan regression (a lost broadcast, a new
shuffle, a collapsed partition) still trips it. If >80% of queries trip the
3x rule at once, the run is uniformly slow (loaded host) and the verdict is
"host variance", not a per-query regression.
"""
import json
import sys
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_counters(bench_path: str) -> dict:
    """query -> its rep-1 counter note, from Bench's per-query record
    beside `bench_path`; {} when there is none."""
    path = os.path.splitext(bench_path)[0] + "_queries.json"
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        rec = json.load(f)
    notes = {}
    for r in rec.get("results", []):
        if not r.get("counters"):
            continue
        c = r["counters"][0]
        notes[r["query"]] = (
            f" [construct {r['construct_s'][0]:.2f} s, {c['jobs']} jobs, "
            f"{c['stages']} stages, {c['tasks']} tasks, "
            f"task-run {c['task_run_ms'] / 1000.0:.2f} s]")
    return notes


def main() -> int:
    bench_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/graft_bench.json"
    with open(os.path.join(REPO, "BASELINE_QUERIES.json")) as f:
        ref = json.load(f)
    with open(bench_path) as f:
        rec = json.loads(f.read().strip().splitlines()[-1])

    refs = ref["queries_sec"]
    notes = load_counters(bench_path)
    # Bench names every query that threw in `failed`; its entry in
    # `queries` is the time to the failure, not a result
    failed = sorted(rec.get("failed", []))
    got = rec["queries"]
    timed = {n: sec for n, sec in got.items() if n not in failed}
    flagged, ratio_trips, new = [], 0, []
    for name, sec in sorted(timed.items()):
        r = refs.get(name)
        if r is None:
            new.append((name, sec))
            continue
        if sec > 3.0 * r:
            ratio_trips += 1
        if sec > max(3.0 * r, r + 1.0):
            flagged.append((name, sec, r, f"{sec / r:.1f}x reference"))

    compared = sum(1 for n in timed if n in refs)
    uniform = compared > 0 and ratio_trips > 0.8 * compared
    # the loaded-host detector the adjudication protocol actually uses
    # (BASELINE.md r17-r18): a calm run reads ~1.0, and flags on a run
    # reading >=1.25 rotate between runs instead of reproducing
    ratios = sorted(sec / refs[n] for n, sec in timed.items()
                    if n in refs and refs[n] > 0)
    median_ratio = ratios[len(ratios) // 2] if ratios else 0.0
    # gate_total_sec is 2x the r1-final 64-query baseline (gate_note);
    # print it SCALED to the measured inventory so the line reads
    # correctly against today's total (r12 verdict cosmetic finding)
    gate_per_q = ref["gate_total_sec"] / 64.0
    scaled_gate = gate_per_q * len(got)
    print(f"bench total {rec.get('value', 0.0):.1f} s over {len(got)} queries "
          f"({compared} with a reference, {len(new)} new) "
          f"vs reference band {ref['total_band_sec']} / gate "
          f"{scaled_gate:.1f} s (= 2x the {gate_per_q / 2:.3f} s/query r1 "
          f"baseline rate x {len(got)} queries; raw 64-query gate "
          f"{ref['gate_total_sec']} s); median per-query ratio vs refs "
          f"{median_ratio:.3f}")
    for name, sec in new:
        print(f"  NEW   {name}: {sec:.2f} s (no reference yet -- append one "
              "after two clean runs)" + notes.get(name, ""))
    for name in failed:
        print(f"  FAILED {name}: the query threw (see the [bench] stderr line)")
    if uniform:
        print(f"HOST VARIANCE: {ratio_trips}/{compared} queries exceed 3x "
              "uniformly -- re-run on an idle host before chasing regressions")
        return 1 if failed else 0
    for name, sec, r, why in flagged:
        print(f"  FLAG {name}: {sec:.2f} s vs reference {r} s ({why})"
              + notes.get(name, ""))
    if flagged:
        print(f"{len(flagged)} flag(s) -- adjudicate per protocol "
              "(BASELINE.md): a flag is ATTRIBUTABLE only when it "
              "reproduces on a calm re-run (median ratio ~1.0); flags "
              "that rotate between runs are host state"
              + (f" (this run's median ratio {median_ratio:.2f} says "
                 "loaded -- re-run before chasing)"
                 if median_ratio >= 1.25 else ""))
    elif not failed:
        print("0 flags")
    return 1 if flagged or failed else 0


if __name__ == "__main__":
    sys.exit(main())
