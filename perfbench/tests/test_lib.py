"""Self-tests for the benchmark's own helpers.

Run from the repository root:
    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import lib  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


def empty_record():
    return {"samples": {}, "values": {"window.items": 1.0, "window.driver_cpu_ms": 1.0,
                                      "window.executor_cpu_ms": 1.0},
            "spark": {}, "spans": [], "setup_s": [1.0]}


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = [15, 20, 35, 40, 50]
        self.assertEqual(lib.percentile(xs, 5), 15)
        self.assertEqual(lib.percentile(xs, 30), 20)
        self.assertEqual(lib.percentile(xs, 40), 20)
        self.assertEqual(lib.percentile(xs, 50), 35)
        self.assertEqual(lib.percentile(xs, 100), 50)

    def test_order_does_not_matter(self):
        self.assertEqual(lib.percentile([3, 1, 2], 50), 2)

    def test_one_and_none(self):
        self.assertEqual(lib.percentile([7.5], 90), 7.5)
        self.assertIsNone(lib.percentile([], 50))

    def test_p90_of_hundred(self):
        self.assertEqual(lib.percentile(list(range(1, 101)), 90), 90)

    def test_rejects_out_of_range(self):
        with self.assertRaises(ValueError):
            lib.percentile([1], 0)

    def test_median(self):
        self.assertEqual(lib.median([3, 1, 2]), 2)
        self.assertEqual(lib.median([4, 1, 2, 3]), 2.5)
        self.assertIsNone(lib.median([]))


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(lib.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(lib.union_length([]), 0)

    def test_self_time_subtracts_covered_children(self):
        spans = [
            (1, 0, "bench.window", 0.0, 100.0),
            (2, 1, "operators.merge", 10.0, 60.0),
            (3, 2, "spark.job", 20.0, 30.0),
            (4, 2, "spark.job", 25.0, 40.0),   # overlaps the first job
            (5, 1, "operators.scanRange", 70.0, 80.0),
        ]
        selfs, wall = lib.self_times(spans)
        self.assertEqual(wall, 100.0)
        self.assertAlmostEqual(selfs["bench"], 40.0)       # 100 - 50 - 10
        self.assertAlmostEqual(selfs["operators"], 40.0)   # (50 - 20) + 10
        self.assertAlmostEqual(selfs["spark"], 25.0)       # 10 + 15
        self.assertAlmostEqual(sum(selfs.values()), 105.0)  # overlapping jobs both count

    def test_children_clipped_to_parent(self):
        spans = [(1, 0, "bench.window", 0.0, 10.0), (2, 1, "spark.job", 5.0, 20.0)]
        selfs, _ = lib.self_times(spans)
        self.assertAlmostEqual(selfs["bench"], 5.0)

    def test_spans_outside_window_ignored(self):
        spans = [(1, 0, "bench.setup", 0.0, 10.0), (2, 1, "spark.job", 1.0, 2.0),
                 (3, 0, "bench.window", 20.0, 30.0)]
        selfs, wall = lib.self_times(spans)
        self.assertEqual(selfs, {"bench": 10.0})
        self.assertEqual(wall, 10.0)

    def test_commit_stats(self):
        spans = [(1, 0, "operators.merge", 0.0, 10.0), (2, 1, "spark.job", 2.0, 4.0),
                 (3, 1, "spark.job", 3.0, 6.0), (4, 0, "operators.append", 20.0, 25.0)]
        jobs, driver_only = lib.commit_stats(spans)
        self.assertEqual(jobs, [2.0, 0.0])
        self.assertEqual(driver_only, [6.0, 5.0])


class NormalizedTest(unittest.TestCase):
    def test_rounds_and_sorts(self):
        self.assertEqual(lib.normalized([(2, "b", 0.123449), (1, None, 1.00001)]),
                         [(1, None, 1.0), (2, "b", 0.1234)])

    def test_int_and_float_compare_equal(self):
        self.assertEqual(lib.normalized([(5, 1.0)]), lib.normalized([(5.0, 1)]))

    def test_none_sorts_last(self):
        self.assertEqual(lib.normalized([(None,), (3,)]), [(3,), (None,)])


class NamesTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_charset(self):
        for ok in ["setup_s", "streaming.batch_ms.p95", "a-b", "0x"]:
            self.assertTrue(lib.valid_name(ok), ok)
        for bad in ["", "_x", ".x", "a b", "a/b", "x" * 65, "é"]:
            self.assertFalse(lib.valid_name(bad), bad)

    def test_benchmark_names_and_units(self):
        names = [w["name"] for w in self.spec["workloads"]]
        for kind in ["end_to_end", "per_layer"]:
            for m in self.spec[kind]:
                names.append(m["name"])
                self.assertTrue(lib.UNIT_RE.match(m["unit"]), m)
                self.assertIn(m["better"], ["higher", "lower"])
        for n in names:
            self.assertTrue(lib.valid_name(n), n)
        self.assertEqual(len(names), len(set(names)))

    def test_declared_metrics_are_the_measured_ones(self):
        self.assertEqual([m["name"] for m in self.spec["end_to_end"]],
                         list(lib.end_to_end(empty_record())))
        self.assertEqual([m["name"] for m in self.spec["per_layer"]],
                         list(lib.per_layer(empty_record())) + ["trace.overhead_share"])

    def test_workloads_match_runner(self):
        sys.path.insert(0, os.path.join(ROOT, "perfbench"))
        import run
        self.assertEqual([w["name"] for w in self.spec["workloads"]], run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
