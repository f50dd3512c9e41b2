#!/usr/bin/env python3
"""Self-tests for the benchmark's own arithmetic and result checks.

    python3 perfbench/test_bench.py
"""
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pandas as pd  # noqa: E402

from bench import metrics, oracle, stats  # noqa: E402
import compare  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.nearest_rank(xs, 50), 50)
        self.assertEqual(stats.nearest_rank(xs, 99), 99)
        self.assertEqual(stats.nearest_rank(xs, 100), 100)
        self.assertEqual(stats.nearest_rank([3, 1, 2], 50), 2)
        self.assertEqual(stats.nearest_rank([5], 1), 5)
        with self.assertRaises(ValueError):
            stats.nearest_rank([], 50)

    def test_tail_percentile_keeps_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(10000), 99.9)
        self.assertEqual(stats.tail_percentile(25), 60)
        self.assertIsNone(stats.tail_percentile(19))
        for n in (20, 37, 100, 250, 5000):
            p = stats.tail_percentile(n)
            rank = -(-p * n // 100)
            self.assertGreaterEqual(n - rank, 10, n)

    def test_tail_falls_back_to_max(self):
        self.assertEqual(stats.tail([4, 9, 1]), (100, 9))
        xs = list(range(100))
        self.assertEqual(stats.tail(xs), (90, 89))

    def test_quartiles_and_spread(self):
        q1, q2, q3 = stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual((q1, q2, q3), (2.75, 5.5, 8.25))
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]),
                               5.5 / 5.5)


class Accounting(unittest.TestCase):
    def test_error_rate(self):
        self.assertEqual(stats.error_rate(10, 0), 0.0)
        self.assertEqual(stats.error_rate(8, 2), 0.25)
        with self.assertRaises(ValueError):
            stats.error_rate(0, 0)
        with self.assertRaises(ValueError):
            stats.error_rate(3, 4)

    def test_share(self):
        self.assertEqual(stats.share(1, 4), 0.25)
        self.assertEqual(stats.share(0, 0), 0.0)

    def test_failed_and_wrong_requests_count_and_pool_no_latency(self):
        raw = {"workload": "read_api", "ops": [
            {"name": "a", "ms": 10.0, "error": None, "result": "h1"},
            {"name": "a", "ms": 1.0, "error": "java.lang.Exception: x",
             "result": None},
            {"name": "b", "ms": 20.0, "error": None, "result": "h2"},
            {"name": "b", "ms": 30.0, "error": None, "result": "h3"},
        ]}
        verdicts = {("a", "h1"): None, ("b", "h2"): None,
                    ("b", "h3"): "rowcount 1 != oracle 2"}
        attempted, failed, reasons, lat = metrics.accounting(raw, verdicts)
        self.assertEqual((attempted, failed), (4, 2))
        self.assertEqual(sorted(lat), [10.0, 20.0])
        self.assertEqual(len(reasons), 2)

    def _stream(self, committed_seconds, verdict=None):
        rate, start = 10, 1_000_000
        prog = [{"name": "alert_stream", "batch": b, "rows": rate,
                 "start_offset": None if b == 0 else str(b),
                 "end_offset": str(b + 1)} for b in range(committed_seconds)]
        raw = {"workload": "alert_stream", "rate": rate, "start_ms": start,
               "window_ms": [start + 2000, start + 4000], "progress": prog,
               "sink_return_ms": {str(b): start + (b + 1) * 1000 + 500
                                  for b in range(committed_seconds)},
               "stream_error": None, "result_key": "k"}
        return metrics.accounting(raw, {("alert_stream", "k"): verdict})

    def test_stream_events_in_window(self):
        attempted, failed, _, lat = self._stream(5)
        self.assertEqual((attempted, failed), (20, 0))
        # events 20..29 were created 2000..2900 ms after the start and
        # delivered by batch 2, whose sink returned at 3500 ms
        self.assertEqual(sorted(lat)[0], 3500 - 2900)
        self.assertEqual(max(lat), 4500 - 3000)

    def test_uncommitted_events_fail(self):
        attempted, failed, reasons, lat = self._stream(3)
        self.assertEqual((attempted, failed, len(lat)), (20, 10, 10))
        self.assertIn("not committed", reasons[0])

    def test_wrong_alerts_fail_every_event(self):
        attempted, failed, _, lat = self._stream(5, "rowcount 1 != oracle 2")
        self.assertEqual((attempted, failed, lat), (20, 20, []))


class EventTime(unittest.TestCase):
    def test_creation_time_from_id_and_rate(self):
        self.assertEqual(stats.creation_ms(0, 5000.0, 5000), 5000.0)
        self.assertEqual(stats.creation_ms(5000, 5000.0, 5000), 6000.0)
        self.assertEqual(stats.creation_ms(2500, 0.0, 5000), 500.0)

    def test_batch_latencies(self):
        lat = stats.batch_latencies_ms(0, 4, 2000.0, 0.0, 2)
        self.assertEqual(lat, [2000.0, 1500.0, 1000.0, 500.0])


class Spans(unittest.TestCase):
    def test_self_time_subtracts_covered_children_once(self):
        parent = {"t0": 0.0, "t1": 100.0}
        kids = [{"t0": 10.0, "t1": 30.0}, {"t0": 20.0, "t1": 40.0},
                {"t0": 90.0, "t1": 120.0}]
        self.assertEqual(stats.self_ms(parent, kids), 100 - 30 - 10)
        self.assertEqual(stats.self_ms(parent, []), 100)

    def test_union(self):
        self.assertEqual(stats.union_ms([(0, 1), (1, 2), (5, 6)]), 3)
        self.assertEqual(stats.union_ms([]), 0)


class OracleDiff(unittest.TestCase):
    def test_equal_frames_pass_regardless_of_column_order(self):
        a = pd.DataFrame({"x": [1, 2], "y": [float("nan"), 1.5]})
        b = pd.DataFrame({"y": [float("nan"), 1.5], "x": [1, 2]})
        self.assertIsNone(oracle.diff(a, b))

    def test_value_rowcount_and_dtype_mismatches(self):
        a = pd.DataFrame({"x": [1, 2]})
        self.assertIn("row=1", oracle.diff(a, pd.DataFrame({"x": [1, 3]})))
        self.assertIn("rowcount", oracle.diff(a, pd.DataFrame({"x": [1]})))
        self.assertIn("dtype", oracle.diff(a, pd.DataFrame({"x": [1.0, 2.0]})))

    def test_lists_compare_by_value(self):
        a = pd.DataFrame({"l": [[1, 2], []]})
        self.assertIsNone(oracle.diff(a, pd.DataFrame({"l": [[1, 2], []]})))
        self.assertIn("col=l", oracle.diff(a, pd.DataFrame({"l": [[1, 3], []]})))


class Compare(unittest.TestCase):
    def _runs(self, values, name="latency_p50_ms"):
        return [{"seed": i, "end_to_end": {name: v}} for i, v in enumerate(values)]

    def test_verdicts(self):
        m = {"name": "latency_p50_ms", "better": "lower", "bound": 0.1}
        parent = self._runs([100, 101, 99, 100, 102, 98, 100, 101, 99, 100])
        for values, want in [
            ([130] * 10, "worse"),
            ([80, 81, 79, 80, 82, 78, 80, 81, 79, 80], "better"),
            ([100, 101, 99, 100, 102, 98, 100, 101, 99, 100], "unchanged"),
        ]:
            change = self._runs(values)
            v, _, _ = compare.verdict(m, parent, change,
                                      compare.pairs(parent, change))
            self.assertEqual(v, want, values)

    def test_wide_parent_spread_is_unresolved(self):
        m = {"name": "latency_p50_ms", "better": "lower", "bound": 0.1}
        parent = self._runs([60, 140, 70, 130, 100, 90, 110, 80, 120, 100])
        change = self._runs([95, 105, 70, 130, 100, 90, 110, 80, 120, 100])
        v, _, _ = compare.verdict(m, parent, change, compare.pairs(parent, change))
        self.assertEqual(v, "unresolved")


if __name__ == "__main__":
    unittest.main()
