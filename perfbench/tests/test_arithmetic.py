"""Tests for the benchmark's own arithmetic and its BENCHMARK.json.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import report  # noqa: E402
import stats  # noqa: E402

REPO = os.path.dirname(os.path.dirname(HERE))


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(stats.percentile(v, 50), 50)
        self.assertEqual(stats.percentile(v, 99), 99)
        self.assertEqual(stats.percentile(v, 100), 100)
        self.assertEqual(stats.percentile([7.0], 99.9), 7.0)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(10000), 99.9)   # 10 beyond p99.9
        self.assertEqual(stats.tail_percentile(9999), 99.0)    # 9.999 beyond p99.9
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(999), 95.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertIsNone(stats.tail_percentile(19))

    def test_tail_value(self):
        v = [float(i) for i in range(1, 1001)]
        self.assertEqual(stats.tail(v), (99.0, 990.0))
        self.assertEqual(stats.tail([1.0, 2.0, 3.0]), ("max", 3.0))


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_time((0, 100), []), 100)

    def test_disjoint_children(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 20), (50, 70)]), 70)

    def test_overlapping_children_count_once(self):
        # (10, 40) and (30, 60) overlap on 10 units: covered is 50, not 60
        self.assertEqual(stats.self_time((0, 100), [(10, 40), (30, 60)]), 50)
        # a child nested inside another adds nothing
        self.assertEqual(stats.self_time((0, 100), [(10, 90), (20, 30)]), 20)

    def test_children_clipped_to_parent(self):
        self.assertEqual(stats.self_time((10, 20), [(0, 15), (18, 40)]), 3)
        self.assertEqual(stats.self_time((10, 20), [(30, 40)]), 10)

    def test_report_uses_property_parents_and_flags_orphans(self):
        spans = [
            {"id": 1, "parent": 0, "kind": "round", "name": "round-1", "module": "",
             "start_us": 0, "end_us": 1000000, "round": 1, "pipeline": "", "attrs": {}},
            {"id": 2, "parent": 1, "kind": "call", "name": "Graph.connectedComponents",
             "module": "algorithms", "start_us": 100000, "end_us": 900000, "round": 1,
             "pipeline": "cc", "attrs": {}},
            # two overlapping jobs under the call: 300 ms covered
            {"id": 3, "parent": 2, "kind": "job", "name": "job-0", "module": "exec",
             "start_us": 200000, "end_us": 400000, "round": -1, "pipeline": "", "attrs": {}},
            {"id": 4, "parent": 2, "kind": "job", "name": "job-1", "module": "exec",
             "start_us": 300000, "end_us": 500000, "round": -1, "pipeline": "", "attrs": {}},
            # a Catalyst phase inside the call, attached by time containment
            {"id": 5, "parent": 0, "kind": "catalyst", "name": "planning", "module": "catalyst",
             "start_us": 600000, "end_us": 700000, "round": -1, "pipeline": "", "attrs": {}},
            # a job from a thread that never got the property
            {"id": 6, "parent": -1, "kind": "job", "name": "job-2", "module": "exec",
             "start_us": 950000, "end_us": 960000, "round": -1, "pipeline": "", "attrs": {}},
        ]
        result = {"workload": "batch_iterative", "rounds": [{"round": 1}], "conf_leaks": []}
        m, orphans, _ = report.layer_metrics(spans, result)
        self.assertAlmostEqual(m["algorithms.self_s"], 0.8 - 0.3 - 0.1)
        self.assertEqual(m["algorithms.jobs"], 2)
        self.assertAlmostEqual(m["catalyst.planning_s"], 0.1)
        self.assertEqual([s["name"] for s, _ in orphans], ["job-2"])


class StreamLatencyTest(unittest.TestCase):
    """Hand-built trace: user 1 sends events at event times 0.1 s, 0.5 s and
    1.2 s (created at 10, 20 and 30 in the creation clock); user 2 one event
    at 0.3 s (created at 15). Tumbling windows are 1 s, sessions break at a
    gap of 0.5 s."""
    user = [1, 2, 1, 1]
    ts = [100000, 300000, 500000, 1200000]
    created = [10, 15, 20, 30]

    def test_tumbling_latency_is_from_last_contributing_event(self):
        exp = stats.tumbling_expected(self.user, self.ts, self.created, 1000000)
        self.assertEqual(exp[(1, 0)], (2, 20, 1000000))
        self.assertEqual(exp[(2, 0)], (1, 15, 1000000))
        self.assertEqual(exp[(1, 1000000)], (1, 30, 2000000))
        # the sink saw window (1, 0) at 100: latency counts from creation 20
        self.assertEqual(stats.emission_latencies(exp, [(1, 0, 100), (2, 0, 40)]), [80, 25])

    def test_sessions(self):
        exp = stats.sessions_expected(self.user, self.ts, self.created, 500000)
        # 0.1 → 0.5 is under the gap, 0.5 → 1.2 is not
        self.assertEqual(exp[(1, 100000)], (2, 20, 1000000))
        self.assertEqual(exp[(1, 1200000)], (1, 30, 1700000))
        self.assertEqual(exp[(2, 300000)], (1, 15, 800000))
        # a next event exactly one gap after the last one joins its session
        tie = stats.sessions_expected([1, 1], [0, 500000], [1, 2], 500000)
        self.assertEqual(tie, {(1, 0): (2, 2, 1000000)})

    def test_check_windows(self):
        exp = stats.tumbling_expected(self.user, self.ts, self.created, 1000000)
        # watermark at 1.5 s: the two [0, 1) windows must be out, exactly
        ok = [(1, 0, 2), (2, 0, 1)]
        self.assertEqual(stats.check_windows(exp, ok, 1500000), (2, []))
        checked, bad = stats.check_windows(exp, [(1, 0, 3)], 1500000)
        self.assertEqual(checked, 2)
        self.assertEqual(len(bad), 2)          # wrong count, and (2, 0) missing
        _, bad = stats.check_windows(exp, ok + [(1, 0, 2)], 1500000)
        self.assertEqual(len(bad), 1)          # emitted twice

    def test_final_watermark_must_cover_the_last_event(self):
        # last event at 1.2 s, delay 0.4 s: the watermark must reach 0.8 s,
        # give or take the millisecond it is reported in
        self.assertTrue(stats.watermark_complete(800000, 1200000, 400000))
        self.assertTrue(stats.watermark_complete(799000, 1200000, 400000))
        self.assertFalse(stats.watermark_complete(700000, 1200000, 400000))


class StreamRateTest(unittest.TestCase):
    def test_rate_interpolates_between_batch_completions(self):
        ticks = [(0, 0, 100)] * 10            # ten chunks of 100 events
        progress = [  # (start ms, duration ms, chunks) of three batches
            {"query": "q", "ts_ms": t, "trigger_ms": d, "input_rows": n}
            for t, d, n in ((0, 1000, 2), (1000, 1000, 4), (2000, 1000, 4))]
        # cumulative events: 200 at 1 s, 600 at 2 s, 1000 at 3 s
        self.assertAlmostEqual(stats.processing_rate(ticks, progress, "q", 1500, 2500), 400.0)
        self.assertAlmostEqual(stats.processing_rate(ticks, progress, "q", 1000, 3000), 400.0)
        self.assertIsNone(stats.processing_rate(ticks, progress, "q", 500, 2500))
        self.assertEqual(stats.events_processed(ticks, progress, "q", 2000), 600)


class BenchmarkSpecTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(REPO, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_keys(self):
        self.assertEqual(set(self.spec), {"command", "paths", "run_seconds", "workloads",
                                          "end_to_end", "per_layer"})

    def test_names_units_directions(self):
        name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
        names = [w["name"] for w in self.spec["workloads"]]
        for m in self.spec["end_to_end"] + self.spec["per_layer"]:
            names.append(m["name"])
            self.assertRegex(m["unit"], unit)
            self.assertIn(m["better"], ("lower", "higher"))
        for n in names:
            self.assertRegex(n, name)
        self.assertEqual(len(names), len(set(names)))

    def test_end_to_end(self):
        e2e = {m["name"]: m for m in self.spec["end_to_end"]}
        self.assertEqual(e2e["setup_s"]["unit"], "s")
        self.assertEqual(e2e["setup_s"]["better"], "lower")
        self.assertEqual(max(m["bound"] for m in e2e.values()), e2e["setup_s"]["bound"])
        for m in self.spec["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in self.spec["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})

    def test_workloads_and_paths(self):
        self.assertTrue(2 <= len(self.spec["workloads"]) <= 8)
        for w in self.spec["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        self.assertIn(self.spec["paths"][0], self.spec["command"][1])
        self.assertTrue(1 <= self.spec["run_seconds"] <= 60)


if __name__ == "__main__":
    unittest.main()
