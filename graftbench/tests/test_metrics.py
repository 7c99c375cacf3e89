"""Self-tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s graftbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchlib import metrics  # noqa: E402


class Tail(unittest.TestCase):
    def test_tail_needs_ten_samples_above(self):
        self.assertIsNone(metrics.tail_percentile(19))
        self.assertEqual(metrics.tail_percentile(20), 50.0)
        self.assertEqual(metrics.tail_percentile(39), 50.0)
        self.assertEqual(metrics.tail_percentile(40), 75.0)
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(199), 90.0)
        self.assertEqual(metrics.tail_percentile(200), 95.0)
        self.assertEqual(metrics.tail_percentile(1000), 99.0)


class SelfTime(unittest.TestCase):
    @staticmethod
    def span(i, parent, start, end):
        return {"id": i, "parent": parent, "start_s": start, "end_s": end}

    def test_leaf_self_time_is_its_duration(self):
        self.assertAlmostEqual(metrics.self_times([self.span(0, -1, 1.0, 3.5)])[0], 2.5)

    def test_children_are_subtracted(self):
        spans = [self.span(0, -1, 0.0, 10.0), self.span(1, 0, 1.0, 4.0),
                 self.span(2, 0, 5.0, 6.0)]
        got = metrics.self_times(spans)
        self.assertAlmostEqual(got[0], 6.0)
        self.assertAlmostEqual(got[1], 3.0)

    def test_overlapping_children_count_once(self):
        spans = [self.span(0, -1, 0.0, 10.0), self.span(1, 0, 1.0, 5.0),
                 self.span(2, 0, 3.0, 7.0)]
        self.assertAlmostEqual(metrics.self_times(spans)[0], 4.0)

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span(0, -1, 2.0, 4.0), self.span(1, 0, 1.0, 3.0)]
        self.assertAlmostEqual(metrics.self_times(spans)[0], 1.0)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [self.span(0, -1, 0.0, 10.0), self.span(1, 0, 0.0, 8.0),
                 self.span(2, 1, 0.0, 8.0)]
        got = metrics.self_times(spans)
        self.assertAlmostEqual(got[0], 2.0)
        self.assertAlmostEqual(got[1], 0.0)
        self.assertAlmostEqual(got[2], 8.0)


class FailedFraction(unittest.TestCase):
    def test_base_is_operations_attempted(self):
        self.assertEqual(metrics.failed_frac(40, 0), 0.0)
        self.assertEqual(metrics.failed_frac(40, 10), 0.25)

    def test_no_attempts_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.failed_frac(0, 0)

    def test_more_failures_than_attempts_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.failed_frac(3, 4)

    def test_ok_frac_reported_is_one_minus_failed_frac(self):
        raw = {
            "setup_s": [3.0, 1.0, 2.0],
            "cold": {"s": 9.0},
            "passes": [
                {"leg": "c4", "s": 4.0, "items": 400, "peak_exec_mem": 2 ** 20,
                 "ops": [{"s": 1.0}, {"s": 3.0}]},
                {"leg": "c4", "s": 9.0, "items": 400, "peak_exec_mem": 0, "ops": []},
                {"leg": "c4", "s": 2.0, "items": 400, "peak_exec_mem": 0, "ops": []},
                {"leg": "c1", "s": 8.0, "items": 400, "peak_exec_mem": 0, "ops": []},
            ],
            "attempted": 4, "failed": 1,
        }
        m = metrics.end_to_end(raw)
        self.assertEqual(m["ok_frac"][0], 0.75)
        self.assertEqual(m["setup_s"][0], 2.0)
        self.assertEqual(m["pass_s"][0], 4.0)
        self.assertEqual(m["scaling_eff_1to4"][0], 0.5)
        self.assertEqual(m["items_per_s"][0], 100.0)
        self.assertEqual(m["peak_exec_mem_mb"][0], 1.0)
        self.assertEqual([k for k, _ in metrics.E2E], list(m))


if __name__ == "__main__":
    unittest.main()
