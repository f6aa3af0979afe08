"""Pure functions that turn the harness's raw record into metrics.

Nothing here touches the engine, the file system or the clock, so
`perfbench/tests/test_metrics.py` covers all of it.
"""
import math
import random
import statistics

MB = 1048576.0
# the tracer's span clock (nanoTime-derived epoch ms) and Spark's phase
# clock (whole epoch ms) may disagree by this much
CLOCK_SLACK_MS = 2


# -- seeded inputs -------------------------------------------------------

def pass_orders(queries, seed, workload, n):
    """`n` query orders for one run: one permutation of the pinned list,
    fixed by (workload, seed) alone, for every pass. Each query then runs
    behind the same queries in every pass, so its walls compare across
    passes (see `best_pass_s`)."""
    order = random.Random(f"{workload}:{seed}").sample(list(queries), len(queries))
    return [list(order) for _ in range(n)]


# -- percentiles ---------------------------------------------------------

def percentile(values, q):
    """Linear-interpolated q-th percentile (0 <= q <= 100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(values, threshold):
    """How many samples lie strictly above `threshold`."""
    return sum(1 for v in values if v > threshold)


def tail_percentile(values, q=90, min_beyond=10):
    """The q-th percentile, or None when fewer than `min_beyond` samples
    lie beyond it (too few to say anything about that tail)."""
    if not values:
        return None
    p = percentile(values, q)
    return p if beyond(values, p) >= min_beyond else None


# -- spans ---------------------------------------------------------------

def covered(interval, children):
    """Length of the part of `interval` covered by the union of the
    `children` intervals (which may overlap each other or stick out)."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in children if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(interval, children):
    """A span's duration minus the part of it its child spans cover."""
    return (interval[1] - interval[0]) - covered(interval, children)


# -- per-query status ----------------------------------------------------

def classify(rec, expected):
    """`ok`, `wrong_rows`, `error:<ExceptionClass>`, `missing`, or
    `unchecked` when there is no expected count to compare with.

    `expected` is the DuckDB oracle's row count, or the string ">0" for a
    query with no oracle (it must return some rows)."""
    if rec.get("missing"):
        return "missing"
    if rec.get("error"):
        return "error:" + rec["error"]
    if expected is None:
        return "unchecked"
    rows = rec.get("rows")
    if expected == ">0":
        return "ok" if rows is not None and rows > 0 else "wrong_rows"
    return "ok" if rows == expected else "wrong_rows"


def statuses(passes, expected):
    """[(pass index, query record, status)] over every timed query."""
    return [(i, q, classify(q, expected.get(q["name"])))
            for i, p in enumerate(passes) for q in p["queries"]]


# -- end-to-end metrics --------------------------------------------------

def best_pass_s(passes):
    """The wall of one pass with each query at its fastest: the sum of
    each query's lowest wall over the passes, plus the least time a pass
    spent outside its queries. The passes of a run share one order, so a
    frame one query builds for the next is built in the same place in
    every pass. A stall of the shared host that hits one query in one
    pass drops out; a query made slower in every pass does not."""
    best = {}
    for p in passes:
        for q in p["queries"]:
            if "wall_s" in q:
                best[q["name"]] = min(best.get(q["name"], q["wall_s"]), q["wall_s"])
    outside = min(p["wall_s"] - sum(q.get("wall_s", 0.0) for q in p["queries"]) for p in passes)
    return sum(best.values()) + outside


def end_to_end(rec, expected):
    """The untraced run's user-visible metrics, plus the sample counts."""
    st = statuses(rec["passes"], expected)
    ok_walls = [q["wall_s"] for _, q, s in st if s == "ok"]
    failed = sum(1 for _, _, s in st if s != "ok")
    p90 = tail_percentile(ok_walls, 90)
    heap = [q["heap_mb"] for p in rec["passes"] for q in p["queries"] if "heap_mb" in q]
    return {
        "batch_s": best_pass_s(rec["passes"]),
        "batch_cpu_s": min(p["cpu_s"] for p in rec["passes"]),
        "query_p50_s": statistics.median(ok_walls) if ok_walls else None,
        "query_p90_s": p90,
        "setup_s": rec["setup_s"],
        "failed_frac": failed / len(st) if st else 1.0,
        "heap_live_peak_mb": max(heap) if heap else None,
    }, {"passes": len(rec["passes"]), "queries": len(st), "failed": failed,
        "latency_samples": len(ok_walls)}


# -- per-layer metrics ---------------------------------------------------

def action_qe(span):
    """The QueryExecution record of the query's `count` action: the last
    `count` whose planning started after the action did (compared at
    whole-ms resolution), or None when the listener delivered none or
    construction threw before the action."""
    if "action_ms" not in span:
        return None
    t1 = math.floor(span["action_ms"]) - CLOCK_SLACK_MS
    found = [e for e in span["qes"] if e["func"] == "count" and e["plan_start_ms"] >= t1]
    return found[-1] if found else None


def query_layers(q):
    """Seconds of construct / plan / action for one traced query, each from
    its own clock, or None when its `count` action was not observed.

    construct = the harness's timing of `fn(spark, d)`; plan = the count's
    QueryPlanningTracker phases (analysis, optimization, planning); action
    = Spark's timing of the count's SQL execution, less the optimization
    and planning that run inside it."""
    e = action_qe(q["span"])
    if e is None:
        return None
    inside = e["optimization_ms"] + e["planning_ms"]
    return {"construct": q["construct_s"],
            "plan": (e["analysis_ms"] + inside) / 1000.0,
            "action": (e["exec_ms"] - inside) / 1000.0}


def tiling_errors(rec, tolerance=0.05):
    """Traced queries whose separately measured construct + plan + action
    miss the measured wall by more than `tolerance` of it, as (name,
    layer sum or None when the count action was not observed, wall)."""
    bad = []
    for p in rec["passes"]:
        for q in p["queries"]:
            if "span" in q and not q.get("error"):
                lay = query_layers(q)
                tiled = None if lay is None else sum(lay.values())
                if tiled is None or abs(tiled - q["wall_s"]) > tolerance * q["wall_s"]:
                    bad.append((q["name"], tiled, q["wall_s"]))
    return bad


def _jobs_in(span, jobs):
    """Jobs the harness thread tagged with this span, started inside it."""
    tag = span["tag"]
    return [j for j in jobs if (j.get("tag") or "").split("|")[0] == tag
            and span["start_ms"] - 1 <= j["start_ms"] <= span["end_ms"] + 1]


def _stages(rec, owners):
    """Stages of the jobs launched inside the spans of `owners`."""
    jobs = [j for x in owners if "span" in x for j in _jobs_in(x["span"], rec["trace"]["jobs"])]
    ids = {j["job"] for j in jobs}
    return [st for st in rec["trace"]["stages"] if st["job"] in ids]


def publish_work(rec, owners):
    """(jobs launched, rows written) inside the spans of `owners`."""
    jobs = sum(len(_jobs_in(x["span"], rec["trace"]["jobs"])) for x in owners if "span" in x)
    return jobs, sum(st.get("output_rows", 0) for st in _stages(rec, owners))


def jobs_per_query(rec, passes):
    """[(query, jobs launched)] over the given passes, in run order."""
    jobs = rec["trace"]["jobs"]
    return [(q["name"], len(_jobs_in(q["span"], jobs)))
            for p in passes for q in p["queries"] if "span" in q]


def layer_metrics(rec, modules, module_names, publishers):
    """Every per-layer metric of one traced run. Query-side figures are per
    timed pass; publish figures are per publisher call."""
    trace = rec["trace"]
    cores = trace["cores"]
    jobs, passes = trace["jobs"], rec["passes"]
    npass = max(1, len(passes))
    stages_by_job = {}
    for st in trace["stages"]:
        stages_by_job.setdefault(st["job"], []).append(st)
    m = {"session.build_s": rec["session_build_s"]}

    # publish: the workload's publishers in set-up, the rest in the audit
    pubs = rec.get("publish", []) + rec.get("audit", [])
    for name in publishers:
        m[f"publish.{name}_s"] = sum(x["wall_s"] for x in pubs if x["name"] == name)
    pub_stages = _stages(rec, pubs)
    m["publish.bytes_written"] = sum(st.get("output_bytes", 0) for st in pub_stages)
    m["publish.rows_written"] = sum(st.get("output_rows", 0) for st in pub_stages)
    m["publish.files_written"] = rec.get("publish_files", 0)

    # construct / plan / action over the timed passes
    construct = {name: 0.0 for name in module_names}
    construct_s = gap_s = action_s = 0.0
    construct_jobs = 0
    per_query, qstages = [], []
    qe_sum = {k: 0.0 for k in ("analysis_ms", "optimization_ms", "planning_ms",
                               "exchanges", "broadcasts", "cache_scans", "scan_rows")}
    rows_out = 0
    for p in passes:
        for q in p["queries"]:
            if "span" not in q:
                continue
            sp = q["span"]
            lay = query_layers(q)
            c = q.get("construct_s", q["wall_s"])
            construct_s += c
            mod = modules.get(q["name"])
            construct[mod] = construct.get(mod, 0.0) + c
            mine = _jobs_in(sp, jobs)
            per_query.append(len(mine))
            construct_jobs += sum(1 for j in mine if j["tag"].endswith("|construct"))
            a = lay["action"] if lay else (sp["end_ms"] - sp.get("action_ms", sp["end_ms"])) / 1000.0
            act = (sp["end_ms"] - 1000.0 * a, sp["end_ms"])
            action_s += (act[1] - act[0]) / 1000.0
            gap_s += self_time(act, [(j["start_ms"], j["end_ms"]) for j in mine
                                     if j["tag"].endswith("|action")]) / 1000.0
            qstages += [st for j in mine for st in stages_by_job.get(j["job"], [])]
            for e in sp["qes"]:
                for k in qe_sum:
                    qe_sum[k] += e[k]
            rows_out += q.get("rows") or 0
    m["construct_s"] = construct_s / npass
    m["construct.jobs"] = construct_jobs / npass
    for name in module_names:
        m[f"construct.{name}_s"] = construct.get(name, 0.0) / npass
    m["plan.analysis_s"] = qe_sum["analysis_ms"] / 1000.0 / npass
    m["plan.optimization_s"] = qe_sum["optimization_ms"] / 1000.0 / npass
    m["plan.planning_s"] = qe_sum["planning_ms"] / 1000.0 / npass
    m["plan.exchanges"] = qe_sum["exchanges"] / npass
    m["plan.broadcasts"] = qe_sum["broadcasts"] / npass

    m["sched.jobs"] = sum(per_query) / npass
    m["sched.stages"] = len(qstages) / npass
    m["sched.tasks"] = sum(st["tasks"] for st in qstages) / npass
    m["sched.single_task_stages"] = sum(1 for st in qstages if st["tasks"] == 1) / npass
    m["sched.jobs_per_query_p50"] = statistics.median(per_query) if per_query else 0
    m["sched.jobs_per_query_max"] = max(per_query, default=0)
    m["sched.driver_gap_s"] = gap_s / npass

    run_s = sum(st.get("run_ms", 0) for st in qstages) / 1000.0
    m["exec.task_run_s"] = run_s / npass
    m["exec.task_cpu_s"] = sum(st.get("cpu_ns", 0) for st in qstages) / 1e9 / npass
    m["exec.gc_s"] = sum(st.get("gc_ms", 0) for st in qstages) / 1000.0 / npass
    m["exec.busy_frac"] = run_s / (cores * action_s) if action_s else 0.0
    for key, name in (("input_bytes", "input_mb"), ("shuffle_read_bytes", "shuffle_read_mb"),
                      ("shuffle_write_bytes", "shuffle_write_mb"), ("spill_bytes", "spill_mb"),
                      ("output_bytes", "output_mb")):
        m[f"exec.{name}"] = sum(st.get(key, 0) for st in qstages) / MB / npass
    m["exec.rows_scanned_per_row_out"] = qe_sum["scan_rows"] / rows_out if rows_out else 0.0

    m.update(cache_metrics(passes, qe_sum["cache_scans"], npass))

    # streaming micro-batches wherever they ran: a gated drain publishes
    # its result once, in set-up (a publisher or the warm-up pass)
    spans = pubs + [q for p in [rec["warmup"]] + passes for q in p["queries"]]
    batches = [b for x in spans if "span" in x for b in x["span"]["batches"]]
    m["stream.batches"] = len(batches)
    m["stream.input_rows"] = sum(b["rows"] for b in batches)
    m["stream.batch_s"] = sum(b["batch_ms"] for b in batches) / 1000.0
    return m


def traffic_mix(rec, modules, names=None):
    """What kind of work a query list is, from one traced run's timed
    passes (only the queries in `names`, when given): the construct /
    plan / action shares of query wall, jobs per query, the single-task
    share of stages, executor busy fraction and the share of action wall
    with no job running. `report.py --full` compares a workload's pinned
    list with its full list on these."""
    if names is not None:
        rec = dict(rec, passes=[dict(p, queries=[q for q in p["queries"] if q["name"] in names])
                                for p in rec["passes"]])
    lays = [query_layers(q) for p in rec["passes"] for q in p["queries"]
            if "span" in q and not q.get("error")]
    lays = [x for x in lays if x]
    total = sum(sum(x.values()) for x in lays) or 1.0
    m = layer_metrics(rec, modules, [], [])
    jobs = [n for _, n in jobs_per_query(rec, rec["passes"])]
    action = sum(x["action"] for x in lays) or 1.0
    npass = max(1, len(rec["passes"]))
    return {"construct_share": sum(x["construct"] for x in lays) / total,
            "plan_share": sum(x["plan"] for x in lays) / total,
            "action_share": sum(x["action"] for x in lays) / total,
            "jobs_per_query_p50": statistics.median(jobs) if jobs else 0,
            "jobs_per_query_mean": statistics.mean(jobs) if jobs else 0,
            "single_task_stage_share": m["sched.single_task_stages"] / m["sched.stages"]
            if m["sched.stages"] else 0.0,
            "busy_frac": m["exec.busy_frac"],
            "driver_gap_share": m["sched.driver_gap_s"] * npass / action}


def cache_metrics(passes, scans, npass):
    """The `Iter.share` frame cache, from the storage snapshot taken after
    each query: frames built (cached RDDs seen in a pass), peak occupancy,
    and partitions that vanished inside a pass (evicted; the pass-start
    `clearShared` is not counted)."""
    builds = entries = dropped = 0
    mem = disk = 0
    for p in passes:
        seen, last = set(), {}
        for q in p["queries"]:
            if "span" not in q:
                continue
            sp = q["span"]
            now = {int(k): v for k, v in sp["cache_rdds"].items()}
            dropped += sum(max(0, n - now.get(r, 0)) for r, n in last.items())
            seen |= set(now)
            last = now
            entries = max(entries, len(now))
            mem = max(mem, sp["cache_mem_bytes"])
            disk = max(disk, sp["cache_disk_bytes"])
        builds += len(seen)
    return {"cache.entries_peak": entries, "cache.mem_peak_mb": mem / MB,
            "cache.disk_peak_mb": disk / MB, "cache.scans": scans / npass,
            "cache.builds": builds / npass,
            "cache.reuse_ratio": (scans - builds) / scans if scans else 0.0,
            "cache.dropped_blocks": dropped / npass}
