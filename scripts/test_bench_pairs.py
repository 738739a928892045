#!/usr/bin/env python3
"""Verdicts of scripts/bench_pairs.py on canned numbers (no JVM):

    python3 scripts/test_bench_pairs.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from bench_pairs import verdict  # noqa: E402

PARENT = [0.56, 0.54, 0.62, 0.55, 0.57, 0.60, 0.53, 0.58, 0.56, 0.61]


class VerdictTest(unittest.TestCase):

    def test_gain_needs_nine_tenths_of_pairs_and_a_median_beyond_the_parent_iqr(self):
        change = [x - 0.13 for x in PARENT]
        self.assertEqual(verdict(PARENT, change, 10, 10, True, 0.25), "gain")
        self.assertEqual(verdict(PARENT, change, 9, 10, True, 0.25), "gain")
        # 8/10 pairs won: no gain, but every change run beats every parent run
        self.assertEqual(verdict(PARENT, change, 8, 10, True, 0.25), "no worse")
        # every pair won, medians 0.01 apart against a parent IQR of ~0.05
        close = [x - 0.01 for x in PARENT]
        self.assertEqual(verdict(PARENT, close, 10, 10, True, 0.25), "no worse")

    def test_direction_follows_the_metric(self):
        higher = [x + 0.13 for x in PARENT]
        self.assertEqual(verdict(PARENT, higher, 10, 10, False, 0.25), "gain")
        self.assertEqual(verdict(PARENT, higher, 0, 10, True, 0.25), "no worse")

    def test_worse_beyond_the_bound(self):
        slower = [x * 1.3 for x in PARENT]
        self.assertEqual(verdict(PARENT, slower, 0, 10, True, 0.25), "worse")
        slightly = [x * 1.1 for x in PARENT]
        self.assertEqual(verdict(PARENT, slightly, 0, 10, True, 0.25), "no worse")

    def test_a_spread_wider_than_the_bound_is_unresolved(self):
        noisy = [0.4, 0.9, 0.5, 0.8, 0.45, 0.85, 0.5, 0.9, 0.4, 0.7]
        self.assertEqual(verdict(PARENT, noisy, 4, 10, True, 0.25), "unresolved")
        # unless every change run beats every parent run
        fast_noisy = [0.1, 0.3, 0.15, 0.25, 0.12, 0.28, 0.2, 0.3, 0.1, 0.22]
        self.assertEqual(verdict(PARENT, fast_noisy, 8, 10, True, 0.25), "no worse")

    def test_missing_runs_are_unresolved(self):
        self.assertEqual(verdict(PARENT, [], 0, 10, True, 0.25), "unresolved")


if __name__ == "__main__":
    unittest.main()
