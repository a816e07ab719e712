"""The comparator's verdict rule."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import compare  # noqa: E402


class VerdictTest(unittest.TestCase):
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]

    def test_gain_needs_nine_of_ten_wins_and_a_gap_beyond_parent_iqr(self):
        change = [x - 1.0 for x in self.parent]
        r = compare.verdict(self.parent, change, "lower", 0.1)
        self.assertEqual(r["verdict"], "gain")
        self.assertEqual(r["wins"], 10)

    def test_small_consistent_gap_inside_parent_iqr_is_not_a_gain(self):
        change = [x - 0.01 for x in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1)["verdict"],
                         "same")

    def test_eight_wins_is_not_a_gain(self):
        change = [x - 1.0 for x in self.parent]
        change[0] += 5
        change[1] += 5
        self.assertNotEqual(compare.verdict(self.parent, change, "lower", 0.5)["verdict"],
                            "gain")

    def test_regression_beyond_bound(self):
        change = [x * 1.2 for x in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1)["verdict"],
                         "REGRESSION")
        # the same numbers are a gain when higher is better
        self.assertEqual(compare.verdict(self.parent, change, "higher", 0.1)["verdict"],
                         "gain")

    def test_unresolved_when_spread_exceeds_bound(self):
        noisy = [5.0, 15.0, 6.0, 14.0, 5.5, 14.5, 6.5, 13.5, 7.0, 13.0]
        change = [x * 1.01 for x in noisy]
        self.assertEqual(compare.verdict(noisy, change, "lower", 0.05)["verdict"],
                         "unresolved")


if __name__ == "__main__":
    unittest.main()
