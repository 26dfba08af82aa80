"""Tests for the A/B runner's verdict: python3 -m unittest tools/test_ab.py"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ab import verdict  # noqa: E402


class VerdictTest(unittest.TestCase):

    def test_gain_needs_nine_in_ten_wins_and_a_gap_beyond_the_parent_iqr(self):
        base = [4.29, 4.32, 4.09, 4.30, 4.31, 4.28, 4.10, 4.33, 4.29, 4.30]
        change = [b - 1.7 for b in base]
        v = verdict(base, change, "lower", 0.15)
        self.assertEqual((v["wins"], v["losses"], v["ties"]), (10, 0, 0))
        self.assertTrue(v["gain"])
        self.assertEqual(v["bound"], "better")

    def test_eight_wins_in_ten_is_no_gain(self):
        base = [10.0] * 10
        change = [5.0] * 8 + [11.0, 12.0]
        v = verdict(base, change, "lower", 0.25)
        self.assertEqual(v["wins"], 8)
        self.assertFalse(v["gain"])

    def test_ties_count_for_neither_side(self):
        base = [3.0] * 10
        change = [2.0] * 9 + [3.0]
        v = verdict(base, change, "lower", 0.15)
        self.assertEqual((v["wins"], v["ties"]), (9, 1))
        self.assertTrue(v["gain"])
        v = verdict(base, [2.0] * 8 + [3.0, 3.0], "lower", 0.15)
        self.assertFalse(v["gain"])

    def test_gap_inside_the_parent_iqr_is_no_gain(self):
        base = [100.0, 140.0, 90.0, 150.0, 95.0, 145.0, 100.0, 150.0, 92.0, 148.0]
        change = [b - 1.0 for b in base]
        v = verdict(base, change, "lower", 0.25)
        self.assertEqual(v["wins"], 10)
        self.assertFalse(v["gain"])

    def test_higher_is_better_flips_the_direction(self):
        base = [0.80] * 10
        v = verdict(base, [0.90] * 10, "higher", None)
        self.assertTrue(v["gain"])
        self.assertEqual(v["bound"], "no bound")
        v = verdict(base, [0.70] * 10, "higher", None)
        self.assertEqual((v["wins"], v["losses"]), (0, 10))
        self.assertFalse(v["gain"])

    def test_bound_worse_within_and_unresolved(self):
        base = [10.0, 10.1, 9.9, 10.0, 10.05, 9.95, 10.0, 10.1, 9.9, 10.0]
        self.assertEqual(verdict(base, [b * 1.3 for b in base], "lower", 0.25)["bound"],
                         "worse")
        self.assertEqual(verdict(base, [b * 1.1 for b in base], "lower", 0.25)["bound"],
                         "within bound")
        noisy = [6.0, 8.5, 6.1, 8.4, 6.2, 8.6, 6.0, 8.3, 6.1, 8.5]
        self.assertEqual(verdict(noisy, [n * 1.05 for n in noisy], "lower", 0.25)["bound"],
                         "unresolved")

    def test_ratios_are_change_over_base_per_pair(self):
        v = verdict([2.0, 4.0], [1.0, 5.0], "lower", 0.1)
        self.assertEqual(v["ratios"], [0.5, 1.25])


if __name__ == "__main__":
    unittest.main()
