"""Self-tests of the benchmark's arithmetic.

    python3 perfbench/run.py --selftest
"""
import json
import os
import unittest

import metrics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 0.5), 50)
        self.assertEqual(metrics.percentile(xs, 0.9), 90)
        self.assertEqual(metrics.percentile([7], 0.9), 7)

    def test_ten_samples_beyond(self):
        # p90 needs ten samples above it: 100 samples have exactly ten
        self.assertEqual(metrics.beyond(100, 0.9), 10)
        self.assertEqual(metrics.tail(list(range(100)), 0.9), 89)
        self.assertEqual(metrics.beyond(99, 0.9), 9)
        self.assertIsNone(metrics.tail(list(range(99)), 0.9))
        self.assertIsNone(metrics.tail([1.0] * 22, 0.9))
        # the rule is about samples beyond, not the percentile's value
        self.assertEqual(metrics.tail([5.0] * 40, 0.5), 5.0)


class IntervalUnion(unittest.TestCase):
    def test_union_merges_overlap_and_touching(self):
        self.assertEqual(metrics.union([(5, 7), (0, 2), (1, 3), (3, 4)]), [(0, 4), (5, 7)])
        self.assertEqual(metrics.length([(0, 10), (2, 3), (9, 12)]), 12)
        self.assertEqual(metrics.length([(4, 4), (6, 5)]), 0)

    def test_self_time_never_sums_past_wall(self):
        # jobs overlap each other and the planning phase; the build span
        # covers both; one job outlives the op
        shares, gap = metrics.self_times(0, 100, [
            ("job", [(10, 40), (30, 60), (90, 130)]),
            ("plan", [(5, 15)]),
            ("build", [(0, 50)])])
        self.assertEqual(shares, {"job": 60, "plan": 5, "build": 5})
        self.assertEqual(gap, 30)
        self.assertLessEqual(sum(shares.values()), 100)
        self.assertEqual(sum(shares.values()) + gap, 100)

    def test_repeated_layer_name_accumulates(self):
        shares, gap = metrics.self_times(0, 10, [("a", [(0, 2)]), ("a", [(1, 4)])])
        self.assertEqual(shares, {"a": 4})
        self.assertEqual(gap, 6)


def _synthetic_result():
    ops = [{"id": i, "name": "q1_agg", "round": 1, "kind": "traced", "start": s,
            "end": s + 100.0, "rows": 3, "ok": True, "note": ""}
           for i, s in ((0, 1000.0), (1, 1200.0))]
    job = {"stages": 1, "tasks": 4, "failed": 0, "retried": 0, "run_ms": 300.0,
           "busy_ms": 320.0, "skews": [1.5]}
    return {
        "cpus": 4,
        "ops": ops,
        "rounds": [{"round": 0, "kind": "reference", "start": 0.0, "end": 500.0},
                   {"round": 1, "kind": "traced", "start": 900.0, "end": 1400.0}],
        "trace": {"gc_ms": 12.0, "heap_live_mb": 200.0, "probes": {},
                  "events": {
                      "jobs": [dict(job, group="perfbench-op-0", start=1010.0, end=1090.0),
                               dict(job, group="perfbench-op-0", start=1050.0, end=1150.0),
                               dict(job, group="stream-run", start=1210.0, end=1230.0)],
                      "query_execs": [{"func": "collect", "ok": True, "graft_rules_ms": 1.0,
                                       "bucket_join_rows": 0.0,
                                       "phases": {"analysis": [1001.0, 1004.0],
                                                  "optimization": [1004.0, 1008.0],
                                                  "planning": [1008.0, 1012.0]}}],
                      "progress": [],
                      "spans": [{"name": "queries.build", "start": 1000.0, "end": 1006.0,
                                 "op": 0, "parent": "op"}]}}}


class LayerMetrics(unittest.TestCase):
    def test_layers_of_synthetic_trace(self):
        m = metrics.layers(_synthetic_result())
        self.assertEqual(m["spark.jobs"], 3)
        self.assertEqual(m["plans.query_execs"], 1)
        # op 0: jobs cover 1010..1100 inside the op, planning 1008..1010,
        # optimization 1004..1008, analysis 1001..1004, build 1000..1001
        self.assertAlmostEqual(m["spark.job_s"], 0.090 + 0.020)
        self.assertAlmostEqual(m["plans.planning_s"], 0.002)
        self.assertAlmostEqual(m["queries.build_s"], 0.001)
        self.assertAlmostEqual(m["spark.driver_gap_s"], 0.0 + 0.080)
        self.assertLessEqual(m["trace.layer_sum_max_frac"], 1.0)
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.0)


class MetricNames(unittest.TestCase):
    def test_name_rule(self):
        for ok in ("setup_s", "spark.job_s", "a-b.c_d", "0x"):
            self.assertTrue(metrics.valid_name(ok), ok)
        for bad in ("", ".lead", "sp ace", "p90%", "x" * 65, "é"):
            self.assertFalse(metrics.valid_name(bad), bad)

    def test_every_emitted_and_declared_name_is_valid(self):
        for k in metrics.layers(_synthetic_result()):
            self.assertTrue(metrics.valid_name(k), k)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        names = [m["name"] for sec in ("workloads", "end_to_end", "per_layer")
                 for m in spec[sec]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(metrics.valid_name(n), n)
        for m in spec["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        self.assertIn("setup_s", [m["name"] for m in spec["end_to_end"]])


if __name__ == "__main__":
    unittest.main()
