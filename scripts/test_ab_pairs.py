"""Self-tests of ab_pairs.py's seed parsing, pair order and summary math
(no Spark, no benchmark runs).

Run from the checkout root: python3 -m unittest scripts/test_ab_pairs.py
"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import ab_pairs  # noqa: E402


class AbPairsTest(unittest.TestCase):
    def test_parse_seeds(self):
        self.assertEqual(ab_pairs.parse_seeds("31-35"), [31, 32, 33, 34, 35])
        self.assertEqual(ab_pairs.parse_seeds("1,4,7"), [1, 4, 7])
        self.assertEqual(ab_pairs.parse_seeds("1-2,9"), [1, 2, 9])

    def test_first_side_alternates(self):
        self.assertEqual([ab_pairs.order(i)[0] for i in range(4)],
                         ["parent", "change", "parent", "change"])
        self.assertEqual(sorted(ab_pairs.order(1)), ["change", "parent"])

    def test_quartiles_inclusive(self):
        self.assertEqual(ab_pairs.quartiles([1, 2, 3, 4, 5]), (2, 3, 4))
        self.assertEqual(ab_pairs.quartiles([4, 1, 3, 2]), (1.75, 2.5, 3.25))
        self.assertEqual(ab_pairs.quartiles([7.0]), (7.0, 7.0, 7.0))

    def test_won_respects_direction_and_ties(self):
        self.assertEqual(ab_pairs.won([5, 5, 5], [4, 5, 6], "lower"), 1)
        self.assertEqual(ab_pairs.won([5, 5, 5], [4, 5, 6], "higher"), 1)

    def test_summarize_lower_is_better(self):
        parent = [5.28, 5.76, 5.90, 6.37, 5.52]
        change = [4.30, 3.86, 4.13, 3.87, 4.14]
        s = ab_pairs.summarize(parent, change, "lower")
        self.assertAlmostEqual(s["parent"]["median"], 5.76)
        self.assertAlmostEqual(s["change"]["median"], 4.13)
        self.assertAlmostEqual(s["parent_iqr"], 5.90 - 5.52)
        self.assertAlmostEqual(s["ratio"], 4.13 / 5.76)
        self.assertEqual((s["won"], s["pairs"]), (5, 5))
        self.assertTrue(s["gain_exceeds_iqr"])

    def test_gain_within_parent_iqr_is_not_a_gain(self):
        s = ab_pairs.summarize([10, 12, 14], [11.5, 11, 13], "lower")
        self.assertAlmostEqual(s["parent_iqr"], 2.0)
        self.assertFalse(s["gain_exceeds_iqr"])  # 12 -> 11.5 is inside 2.0
        self.assertFalse(ab_pairs.summarize([1, 2, 3], [1, 2, 3], "higher")["gain_exceeds_iqr"])


if __name__ == "__main__":
    unittest.main()
