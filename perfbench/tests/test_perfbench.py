"""Tests of the benchmark's own arithmetic and contract.

  python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics as mx  # noqa: E402
import run  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(mx.percentile(xs, 50), 50)
        self.assertEqual(mx.percentile(xs, 90), 90)
        self.assertEqual(mx.percentile(xs, 100), 100)
        self.assertEqual(mx.percentile([7], 90), 7)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(mx.tail(list(range(99)), highest=90.0))
        self.assertEqual(mx.tail(list(range(1, 101)), highest=90.0), (90.0, 90))

    def test_tail_reports_the_highest_level_allowed(self):
        self.assertEqual(mx.tail(list(range(1, 201)))[0], 95.0)
        self.assertEqual(mx.tail(list(range(1, 1001)))[0], 99.0)
        self.assertEqual(mx.tail(list(range(1, 10001)))[0], 99.9)
        # capped by `highest` even when more levels qualify
        self.assertEqual(mx.tail(list(range(1, 10001)), highest=90.0)[0], 90.0)

    def test_every_reported_tail_has_ten_beyond(self):
        for n in range(1, 400):
            t = mx.tail(list(range(n)))
            if t is not None:
                self.assertGreaterEqual(sum(1 for x in range(n) if x > t[1]), 10, n)


class FailureAccountingTest(unittest.TestCase):
    ops = [{"id": 0, "name": "a", "ok": True}, {"id": 1, "name": "b", "ok": False},
           {"id": 2, "name": "c", "ok": True}, {"id": 3, "name": "a", "ok": True}]

    def test_in_op_failures_count(self):
        self.assertEqual(mx.failure_accounting(self.ops), (4, 1))

    def test_condemned_ops_fail(self):
        self.assertEqual(mx.failure_accounting(self.ops, lambda o: o["name"] == "a"), (4, 3))

    def test_an_op_fails_once_however_many_reasons(self):
        self.assertEqual(mx.failure_accounting(self.ops, lambda o: o["name"] == "b"), (4, 1))

    def test_missing_ok_is_a_failure(self):
        self.assertEqual(mx.failure_accounting([{"id": 0}]), (1, 1))

    def test_nothing_attempted(self):
        self.assertEqual(mx.failure_accounting([]), (0, 0))

    def test_failures_keep_the_result_incorrect(self):
        line = mx.result_line(False, 4, 1, {"x_ms": (1.5, "ms")})
        self.assertEqual(line, {"correct": False, "attempted": 4, "failed": 1,
                                "metrics": {"x_ms": {"value": 1.5, "unit": "ms"}}})


class MetricNameTest(unittest.TestCase):
    def test_rule(self):
        for good in ("op_p50_ms", "queries.q01_pricing_summary.p50_ms", "a-b.c_1"):
            self.assertTrue(mx.valid_name(good), good)
        for bad in ("", "a b", "p50/ms", "x:y", "naïve", "a,b"):
            self.assertFalse(mx.valid_name(bad), bad)

    def test_result_line_rejects_a_bad_name(self):
        with self.assertRaises(ValueError):
            mx.result_line(True, 1, 0, {"p50 ms": (1.0, "ms")})

    def test_declared_metrics_follow_the_rule_and_match_the_benchmark_file(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            spec = json.load(f)
        for k in list(run.END_TO_END) + list(run.PER_LAYER):
            self.assertTrue(mx.valid_name(k), k)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         list(run.END_TO_END.items()))
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         list(run.PER_LAYER.items()))
        for w in spec["workloads"]:
            self.assertIn(w["name"], run.SCALE)


class SpanTest(unittest.TestCase):
    def span(self, i, name, lo, hi, parent):
        return {"id": i, "name": name, "start_ns": lo, "end_ns": hi, "parent": parent, "op": 0}

    def test_self_time_subtracts_the_union_of_children(self):
        spans = [self.span(0, "op", 0, 100, -1),
                 self.span(1, "queries.exec", 10, 60, 0),
                 self.span(2, "queries.planning", 20, 30, 1),
                 self.span(3, "queries.optimization", 25, 40, 1),
                 self.span(4, "queries.build", 50, 90, 0)]
        st = mx.self_times(spans)
        self.assertEqual(st[0], 100 - 80)    # children cover 10..90
        self.assertEqual(st[1], 50 - 20)     # grandchildren cover 20..40
        self.assertEqual(st[4], 40)
        self_ms, coverage = mx.span_summary(spans)
        self.assertAlmostEqual(coverage, 0.8)
        self.assertAlmostEqual(self_ms["bench"], 20 / 1e6)

    def test_overhead_compares_the_loops_on_the_ops_both_ran(self):
        untraced = [{"index": 0, "ms": 100.0}, {"index": 1, "ms": 200.0},
                    {"index": 2, "ms": 300.0}]
        traced = [{"index": 0, "ms": 110.0}, {"index": 1, "ms": 220.0}]
        # op 2 ran untraced only: the medians are over ops 0 and 1
        self.assertAlmostEqual(mx.overhead(untraced, traced), 0.1)
        self.assertEqual(mx.overhead([], traced), 0.0)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_files_other_seed_other_files(self):
        with tempfile.TemporaryDirectory() as d:
            self.assertEqual(gen.check(os.path.join(d, "g"), scale=0.02), [])


if __name__ == "__main__":
    unittest.main()
