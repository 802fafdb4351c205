"""Self-tests of the benchmark's own arithmetic (no JVM needed).

    python3 -m unittest discover -s perfbench/tests -p 'test_stats.py'
"""
import json
import os
import re
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(15))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_nearest_rank(self):
        xs = list(range(1, 201))
        self.assertEqual(stats.percentile(xs, 95), 190)
        self.assertEqual(len([x for x in xs if x > stats.percentile(xs, 95)]), 10)
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)


class Failures(unittest.TestCase):
    def test_failures_are_counted_not_dropped(self):
        t = stats.Tally()
        t.op(True, "pass 0")
        t.op(False, "pass 1 failed: boom")
        self.assertFalse(t.check(1 == 2, "planted count", "got 1, want 2"))
        self.assertTrue(t.check(True, "rows"))
        self.assertEqual((t.attempted, t.failed), (4, 2))
        self.assertEqual(t.fail_ratio, 0.5)
        self.assertEqual(t.failures, ["pass 1 failed: boom", "planted count: got 1, want 2"])
        line = json.loads(stats.result_line(t, {"latency_ms_p50": (3.5, "ms")}))
        self.assertEqual((line["correct"], line["attempted"], line["failed"]), (False, 4, 2))

    def test_nothing_attempted_is_a_failure(self):
        line = json.loads(stats.result_line(stats.Tally(), {}))
        self.assertEqual((line["correct"], line["attempted"], line["failed"]), (True, 1, 1))


class SelfTime(unittest.TestCase):
    # root [0,100] with children A [10,40] and B [30,60] (overlapping),
    # A has A1 [15,20]; C [90,120] overruns its parent and is clipped
    SPANS = [
        {"id": 0, "parent": -1, "start_ms": 0.0, "end_ms": 100.0},
        {"id": 1, "parent": 0, "start_ms": 10.0, "end_ms": 40.0},
        {"id": 2, "parent": 0, "start_ms": 30.0, "end_ms": 60.0},
        {"id": 3, "parent": 1, "start_ms": 15.0, "end_ms": 20.0},
        {"id": 4, "parent": 0, "start_ms": 90.0, "end_ms": 120.0},
    ]

    def test_self_time_subtracts_union_of_children(self):
        s = stats.self_times(self.SPANS)
        self.assertEqual(s, {0: 100 - 50 - 10, 1: 25.0, 2: 30.0, 3: 5.0, 4: 30.0})

    def test_tree_helpers(self):
        self.assertEqual(sorted(stats.descendants(self.SPANS, 1)), [1, 3])
        self.assertEqual(stats.innermost(self.SPANS, 17.0), 3)
        self.assertEqual(stats.innermost(self.SPANS, 50.0), 2)
        self.assertIsNone(stats.innermost(self.SPANS, 500.0))

    def test_driver_gap_is_wall_not_covered_by_jobs(self):
        jobs = [(5, 15), (10, 20), (50, 70), (95, 130)]
        self.assertEqual(stats.union_length(jobs, 0, 100), 15 + 20 + 5)


class MetricNames(unittest.TestCase):
    def test_benchmark_json_matches_the_harness(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]], run.PER_LAYER)
        self.assertEqual(tuple(w["name"] for w in bench["workloads"]), run.WORKLOADS)

    def test_every_metric_printed_with_its_unit(self):
        metrics = {k: (1.5, u) for k, u in run.END_TO_END + run.PER_LAYER}
        line = json.loads(stats.result_line(stats.Tally(), metrics))
        for name, unit in run.END_TO_END + run.PER_LAYER:
            self.assertEqual(line["metrics"][name], {"value": 1.5, "unit": unit})
        text = stats.table([(k, v, u) for k, (v, u) in metrics.items()])
        for name, unit in run.END_TO_END + run.PER_LAYER:
            self.assertRegex(text, r"(?m)^%s\s+1\.5\s+%s\s*$" % (re.escape(name), re.escape(unit)))


if __name__ == "__main__":
    unittest.main()
