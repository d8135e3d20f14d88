"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import unittest

import metrics


def span(sid, parent, start, end, op="q#0", name="s"):
    return {"id": sid, "parent": parent, "name": name, "op": op, "start_ns": start, "end_ns": end}


class TailTest(unittest.TestCase):
    def test_p99_when_ten_samples_lie_beyond_it(self):
        xs = list(range(1, 1001))  # 1000 samples
        self.assertEqual(metrics.tail(xs), (990, 99.0))

    def test_highest_percentile_with_ten_beyond_when_too_few(self):
        xs = list(range(100, 0, -1))  # order must not matter
        value, pct = metrics.tail(xs)
        self.assertEqual(value, 90)
        self.assertEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_no_percentile_without_ten_beyond(self):
        value, pct = metrics.tail([1.0] * 10)
        self.assertTrue(math.isnan(value))
        self.assertEqual(pct, 0.0)
        self.assertEqual(metrics.tail(list(range(11))), (0, 100.0 / 11))


class SelfTimeTest(unittest.TestCase):
    def test_leaf_span_is_all_self(self):
        self.assertEqual(metrics.self_times([span(1, 0, 0, 100)]), {1: 100})

    def test_children_are_subtracted_once_where_they_overlap(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60), span(4, 1, 80, 90)]
        self_t = metrics.self_times(spans)
        self.assertEqual(self_t[1], 100 - 50 - 10)  # [10,60) and [80,90) covered
        self.assertEqual(self_t[2], 30)

    def test_only_direct_children_count_and_overhang_is_clipped(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 50, 150), span(3, 2, 60, 70)]
        self_t = metrics.self_times(spans)
        self.assertEqual(self_t[1], 50)
        self.assertEqual(self_t[2], 90)

    def test_jobs_become_children_of_the_innermost_span_of_their_operation(self):
        anchor = (1_000, 5_000_000)  # epoch ms 1000 is monotonic ns 5e6
        spans = [span(1, 0, 5_000_000, 9_000_000, op="q#0"),
                 span(2, 1, 6_000_000, 8_000_000, op="q#0"),
                 span(3, 0, 5_000_000, 9_000_000, op="other#0")]
        jobs = [{"start_ms": 1_001, "end_ms": 1_002, "op": "q"},
                {"start_ms": 1_002, "end_ms": 1_004, "op": "q"},
                {"start_ms": 1_001, "end_ms": 1_002, "op": None}]
        out = metrics.with_jobs(spans, jobs, anchor)
        added = [s for s in out if s["name"] == "job"]
        self.assertEqual([s["parent"] for s in added], [2, 2])
        self_t = metrics.self_times(out)
        self.assertEqual(self_t[2], 0)
        self.assertEqual(self_t[3], 4_000_000)


class CoverageTest(unittest.TestCase):
    def test_union_inside_window(self):
        self.assertEqual(metrics.covered([(0, 10), (5, 20), (30, 40)], 2, 35), 18 + 5)
        self.assertEqual(metrics.covered([], 0, 10), 0)


class PairedSelfTest(unittest.TestCase):
    def test_each_request_loses_its_own_inner_spans(self):
        spans = [span(1, 0, 0, 10_000, op="p0", name="req"), span(2, 0, 0, 9_000, op="p0", name="get"),
                 span(3, 0, 0, 500, op="p0", name="eval"), span(4, 0, 0, 1_000_000, op="p1", name="req"),
                 span(5, 0, 0, 999_000, op="p1", name="get"), span(6, 0, 0, 3_000, op="p2", name="req"),
                 span(7, 0, 0, 5_000, op="r1", name="req")]
        # p0: 10 - 9 - 0.5 us, p1: 1000 - 999 us; p2 and r1 have no inner span
        self.assertEqual(metrics.paired_self_us(spans, "req", ("get", "eval")), (0.5 + 1.0) / 2)


class FailedFracTest(unittest.TestCase):
    def test_share_of_attempts(self):
        self.assertEqual(metrics.failed_frac(0, 40), 0.0)
        self.assertEqual(metrics.failed_frac(3, 12), 0.25)

    def test_nothing_attempted_counts_as_all_failed(self):
        self.assertEqual(metrics.failed_frac(0, 0), 1.0)


if __name__ == "__main__":
    unittest.main()
