#!/usr/bin/env python3
"""Unit tests of tools/ab.py's verdict arithmetic: python3 tools/test_ab.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import ab  # noqa: E402


class Wins(unittest.TestCase):
    def test_counts_pairs_by_direction(self):
        p, c = [10, 10, 10], [9, 11, 10]
        self.assertEqual(ab.wins(p, c, "lower"), 1)
        self.assertEqual(ab.wins(p, c, "higher"), 1)


class Gain(unittest.TestCase):
    parent = [100, 102, 98, 101, 99, 100, 103, 97, 100, 101]  # IQR 2

    def test_clear_gain(self):
        change = [x - 10 for x in self.parent]
        self.assertTrue(ab.gain(self.parent, change, "lower"))
        self.assertFalse(ab.gain(self.parent, change, "higher"))

    def test_nine_of_ten_is_enough(self):
        change = [x - 10 for x in self.parent]
        change[0] = self.parent[0] + 1
        self.assertTrue(ab.gain(self.parent, change, "lower"))

    def test_eight_of_ten_is_not(self):
        change = [x - 10 for x in self.parent]
        change[0] = self.parent[0] + 1
        change[1] = self.parent[1] + 1
        self.assertFalse(ab.gain(self.parent, change, "lower"))

    def test_gap_must_exceed_parent_spread(self):
        # wins every pair, but by 1 while the parent's IQR is about 2
        change = [x - 1 for x in self.parent]
        self.assertEqual(ab.wins(self.parent, change, "lower"), 10)
        self.assertFalse(ab.gain(self.parent, change, "lower"))

    def test_higher_is_better(self):
        change = [x + 10 for x in self.parent]
        self.assertTrue(ab.gain(self.parent, change, "higher"))


class BoundCheck(unittest.TestCase):
    parent = [100, 102, 98, 101, 99]  # median 100, IQR 2

    def test_within_bound(self):
        self.assertEqual(ab.bound_check(self.parent, [120, 124, 121, 119, 122], "lower", 0.25), "ok")

    def test_worse_than_bound(self):
        self.assertEqual(ab.bound_check(self.parent, [130, 131, 129, 128, 132], "lower", 0.25), "worse")
        self.assertEqual(ab.bound_check(self.parent, [70, 71, 72, 69, 70], "higher", 0.25), "worse")

    def test_better_is_ok(self):
        self.assertEqual(ab.bound_check(self.parent, [60, 61, 62, 59, 60], "lower", 0.25), "ok")

    def test_wide_parent_is_unresolved(self):
        wide = [50, 100, 150, 80, 120]  # IQR 40 > 25% of 100
        self.assertEqual(ab.bound_check(wide, [100, 101, 99, 100, 102], "lower", 0.25), "unresolved")

    def test_wide_parent_beaten_everywhere_is_ok(self):
        wide = [50, 100, 150, 80, 120]
        self.assertEqual(ab.bound_check(wide, [40, 45, 42, 41, 44], "lower", 0.25), "ok")
        self.assertEqual(ab.bound_check(wide, [160, 170, 155, 161, 180], "higher", 0.25), "ok")


if __name__ == "__main__":
    unittest.main()
