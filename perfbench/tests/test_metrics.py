"""Tests for the benchmark's own logic: python3 -m unittest discover -s perfbench/tests"""
import json
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
import metrics  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates(self):
        xs = list(range(1, 101))
        self.assertAlmostEqual(metrics.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 90.1)
        self.assertEqual(metrics.percentile([7.0], 90), 7.0)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)

    def test_tail_needs_ten_samples_beyond(self):
        # 92 samples: p90 is 82.9 and 83..92 (10 samples) lie above it
        self.assertAlmostEqual(metrics.tail_percentile(list(range(1, 93)), 90), 82.9)
        # 91 samples: p90 is 82 and only 83..91 (9 samples) lie above it
        self.assertIsNone(metrics.tail_percentile(list(range(1, 92)), 90))
        # ties at the top do not count as "beyond"
        self.assertIsNone(metrics.tail_percentile([1.0] * 50 + [2.0] * 60, 90))
        self.assertIsNone(metrics.tail_percentile([], 90))

    def test_beyond_is_strict(self):
        self.assertEqual(metrics.beyond([1, 2, 2, 3], 2), 1)


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(metrics.self_time((0, 10), []), 10)

    def test_overlapping_children_count_once(self):
        # [2,5] and [4,7] overlap on [4,5]: together they cover 5 units
        self.assertEqual(metrics.self_time((0, 10), [(2, 5), (4, 7)]), 5)

    def test_nested_and_sticking_out(self):
        # [1,3] inside [0,4]; [8,12] sticks out past the parent's end
        self.assertEqual(metrics.self_time((0, 10), [(0, 4), (1, 3), (8, 12)]), 4)

    def test_children_outside_are_ignored(self):
        self.assertEqual(metrics.self_time((5, 10), [(0, 5), (10, 11)]), 5)


class StatusTest(unittest.TestCase):
    def test_ok_and_wrong_count(self):
        self.assertEqual(metrics.classify({"name": "q", "rows": 3, "wall_s": 1}, 3), "ok")
        self.assertEqual(metrics.classify({"name": "q", "rows": 4, "wall_s": 1}, 3), "wrong_rows")

    def test_throwing_query(self):
        rec = {"name": "q", "error": "org.apache.spark.SparkException", "wall_s": 0.2}
        self.assertEqual(metrics.classify(rec, 3), "error:org.apache.spark.SparkException")

    def test_missing_query(self):
        self.assertEqual(metrics.classify({"name": "q", "missing": True}, 3), "missing")

    def test_no_expectation_is_unchecked(self):
        self.assertEqual(metrics.classify({"name": "q", "rows": 5}, None), "unchecked")

    def test_non_oracle_needs_rows(self):
        self.assertEqual(metrics.classify({"name": "q", "rows": 5}, ">0"), "ok")
        self.assertEqual(metrics.classify({"name": "q", "rows": 0}, ">0"), "wrong_rows")

    def test_throwing_query_is_not_a_latency_sample(self):
        rec = {"setup_s": 1.0, "passes": [{"wall_s": 2.0, "cpu_s": 3.0, "queries": [
            {"name": "a", "rows": 1, "wall_s": 0.5, "heap_mb": 10.0},
            {"name": "b", "error": "java.lang.RuntimeException", "wall_s": 0.01},
            {"name": "c", "missing": True}]}]}
        e2e, counts = metrics.end_to_end(rec, {"a": 1, "b": 1, "c": 1})
        self.assertEqual(e2e["query_p50_s"], 0.5)
        self.assertEqual(counts["failed"], 2)
        self.assertEqual(counts["latency_samples"], 1)
        self.assertAlmostEqual(e2e["failed_frac"], 2 / 3)


class LayerTest(unittest.TestCase):
    """One traced query: 100 ms of construction with one eager `collect`
    job, then a `count` whose tracker gives 5 ms analysis, 15 ms
    optimization and 10 ms planning and whose SQL execution takes 95 ms
    (optimization and planning included); its two overlapping jobs run
    from 140 to 180 ms and 170 to 190 ms; the query ends at 200 ms."""

    def record(self, wall_s=0.2, count=True, action_ms=100.4):
        qes = [{"func": "collect", "plan_start_ms": 10, "plan_end_ms": 20, "exec_ms": 40.0,
                "analysis_ms": 1, "optimization_ms": 2, "planning_ms": 3,
                "exchanges": 1, "broadcasts": 0, "cache_scans": 0, "scan_rows": 50}]
        if count:
            qes.append({"func": "count", "plan_start_ms": 100, "plan_end_ms": 130,
                        "exec_ms": 95.0, "analysis_ms": 5, "optimization_ms": 15,
                        "planning_ms": 10, "exchanges": 2, "broadcasts": 1, "cache_scans": 2,
                        "scan_rows": 50})
        span = {"tag": "query:q", "start_ms": 0.0, "action_ms": action_ms, "end_ms": 200.0,
                "qes": qes, "batches": [], "cache_rdds": {"7": 4}, "cache_mem_bytes": 1048576,
                "cache_disk_bytes": 0}
        jobs = [{"job": 1, "tag": "query:q|construct", "start_ms": 30, "end_ms": 60},
                {"job": 2, "tag": "query:q|action", "start_ms": 140, "end_ms": 180},
                {"job": 3, "tag": "query:q|action", "start_ms": 170, "end_ms": 190}]
        stages = [{"job": j, "tasks": t, "run_ms": 40, "cpu_ns": 2e7, "gc_ms": 0}
                  for j, t in ((1, 1), (2, 4), (3, 1))]
        return {"session_build_s": 1.0, "publish": [], "warmup": {"queries": []},
                "passes": [{"wall_s": wall_s, "queries": [
                    {"name": "q", "rows": 10, "construct_s": 0.1, "wall_s": wall_s,
                     "heap_mb": 50.0, "span": span}]}],
                "trace": {"jobs": jobs, "stages": stages, "cores": 4}}

    @staticmethod
    def query(rec):
        return rec["passes"][0]["queries"][0]

    def test_layers_come_from_separate_clocks(self):
        lay = metrics.query_layers(self.query(self.record()))
        self.assertAlmostEqual(lay["construct"], 0.1)
        self.assertAlmostEqual(lay["plan"], 0.03)
        self.assertAlmostEqual(lay["action"], 0.07)
        self.assertEqual(metrics.tiling_errors(self.record()), [])

    def test_unaccounted_time_fails_the_tiling_check(self):
        # the three layers sum to 0.2 s; a 0.25 s wall leaves 20% unaccounted
        (name, tiled, wall), = metrics.tiling_errors(self.record(wall_s=0.25))
        self.assertEqual(name, "q")
        self.assertAlmostEqual(tiled, 0.2)

    def test_unobserved_action_is_flagged(self):
        self.assertEqual(metrics.tiling_errors(self.record(count=False)), [("q", None, 0.2)])

    def test_action_found_at_whole_ms_resolution(self):
        # planning started in the millisecond the action began (100 <= 100.9)
        self.assertIsNotNone(metrics.action_qe(self.query(self.record(action_ms=100.9))["span"]))
        # an eager count during construction is never taken for the action
        rec = self.record(count=False)
        self.query(rec)["span"]["qes"][0]["func"] = "count"
        self.assertIsNone(metrics.action_qe(self.query(rec)["span"]))

    def test_query_that_threw_in_construction(self):
        rec = self.record()
        q = self.query(rec)
        del q["span"]["action_ms"], q["construct_s"], q["rows"]
        q["error"] = "java.lang.IllegalStateException"
        self.assertIsNone(metrics.query_layers(q))
        self.assertEqual(metrics.tiling_errors(rec), [])
        self.assertAlmostEqual(metrics.layer_metrics(rec, {}, [], [])["construct_s"], 0.2)

    def test_layer_metrics(self):
        m = metrics.layer_metrics(self.record(), {"q": "EvalOps"}, ["EvalOps"], [])
        self.assertAlmostEqual(m["construct_s"], 0.1)
        self.assertAlmostEqual(m["construct.EvalOps_s"], 0.1)
        self.assertEqual(m["construct.jobs"], 1)
        self.assertEqual(m["sched.jobs"], 3)
        self.assertEqual(m["sched.single_task_stages"], 2)
        # the action runs from 130 to 200 ms; its jobs cover 140..190
        self.assertAlmostEqual(m["sched.driver_gap_s"], 0.02)
        self.assertAlmostEqual(m["exec.busy_frac"], 0.12 / (4 * 0.07))
        self.assertAlmostEqual(m["plan.optimization_s"], 0.017)
        self.assertEqual(m["exec.rows_scanned_per_row_out"], 10.0)
        self.assertEqual(m["cache.builds"], 1)
        self.assertAlmostEqual(m["cache.reuse_ratio"], 0.5)

    def test_traffic_mix(self):
        mix = metrics.traffic_mix(self.record(), {"q": "EvalOps"})
        self.assertAlmostEqual(mix["construct_share"], 0.5)
        self.assertAlmostEqual(mix["plan_share"], 0.15)
        self.assertAlmostEqual(mix["action_share"], 0.35)
        self.assertEqual(mix["jobs_per_query_p50"], 3)
        self.assertAlmostEqual(mix["single_task_stage_share"], 2 / 3)
        self.assertAlmostEqual(mix["driver_gap_share"], 0.02 / 0.07)


class PassTest(unittest.TestCase):
    def test_heap_peak_over_the_sampled_pass(self):
        # an untraced run samples the heap after each query of its first pass
        rec = {"setup_s": 1.0, "passes": [
            {"wall_s": 1.3, "cpu_s": 2.5, "queries": [{"name": "a", "rows": 1, "wall_s": 0.6, "heap_mb": 110.0},
                                                    {"name": "b", "rows": 1, "wall_s": 0.6, "heap_mb": 70.0}]},
            {"wall_s": 1.1, "cpu_s": 2.0, "queries": [{"name": "a", "rows": 1, "wall_s": 0.5},
                                                    {"name": "b", "rows": 1, "wall_s": 0.5}]}]}
        e2e, counts = metrics.end_to_end(rec, {"a": 1, "b": 1})
        self.assertEqual(e2e["heap_live_peak_mb"], 110.0)
        self.assertEqual(counts["queries"], 4)
        # CPU time: the pass that used least
        self.assertEqual(e2e["batch_cpu_s"], 2.0)

    def test_batch_takes_each_query_at_its_fastest(self):
        passes = [{"wall_s": 1.5, "queries": [{"name": "a", "wall_s": 0.9},
                                              {"name": "b", "wall_s": 0.4}]},
                  {"wall_s": 1.3, "queries": [{"name": "a", "wall_s": 0.5},
                                              {"name": "b", "wall_s": 0.6}]}]
        # 0.5 + 0.4, plus the least time outside the queries (0.2)
        self.assertAlmostEqual(metrics.best_pass_s(passes), 1.1)

    def test_batch_keeps_a_query_slow_in_every_pass(self):
        fast = [{"wall_s": 1.0, "queries": [{"name": "a", "wall_s": 0.5},
                                            {"name": "b", "wall_s": 0.5}]}] * 2
        slow = [{"wall_s": 1.5, "queries": [{"name": "a", "wall_s": 1.0},
                                            {"name": "b", "wall_s": 0.5}]}] * 2
        self.assertAlmostEqual(metrics.best_pass_s(slow) - metrics.best_pass_s(fast), 0.5)


class SeedTest(unittest.TestCase):
    QS = [f"q{i}" for i in range(30)]

    def test_same_seed_same_sequence(self):
        a = metrics.pass_orders(self.QS, 7, "w", 5)
        self.assertEqual(a, metrics.pass_orders(self.QS, 7, "w", 5))

    def test_other_seed_other_sequence(self):
        self.assertNotEqual(metrics.pass_orders(self.QS, 7, "w", 5),
                            metrics.pass_orders(self.QS, 8, "w", 5))

    def test_every_pass_has_the_same_order(self):
        orders = metrics.pass_orders(self.QS, 3, "w", 4)
        self.assertTrue(all(o == orders[0] for o in orders))

    def test_each_pass_is_a_permutation(self):
        for order in metrics.pass_orders(self.QS, 3, "w", 4):
            self.assertEqual(sorted(order), sorted(self.QS))

    def test_prefix_stable_in_pass_count(self):
        self.assertEqual(metrics.pass_orders(self.QS, 3, "w", 2),
                         metrics.pass_orders(self.QS, 3, "w", 6)[:2])


class ConfigTest(unittest.TestCase):
    """The pinned lists must resolve: every pinned query has a module and an
    expected row count, and every publisher is one prepareFixtures calls."""
    PUBLISHERS = {"sessionStore", "LayoutOps.prepare", "partitionedEventsDir", "ivfIndexDir",
                  "pqIndexDir", "clusterStoreDir", "docClusterStoreDir", "ingestSinkDir",
                  "historyReportDir", "FormatOps.prepare", "basketStoreDir",
                  "tradeEdgeStoreDir", "streamSourceDir", "prepareGatedStreams"}

    def test_pinned_lists_resolve(self):
        config = json.loads((HERE / "workloads.json").read_text())
        expected = json.loads((HERE / "expected_rows.json").read_text())
        for name, w in config["workloads"].items():
            for q in w["queries"]:
                self.assertIn(q, config["modules"], f"{name}: {q}")
                self.assertIsNotNone(expected.get(q), f"{name}: {q} has no expected count")
            self.assertLessEqual(set(w["publishers"]), self.PUBLISHERS)


if __name__ == "__main__":
    unittest.main()
