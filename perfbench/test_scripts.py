"""Checks of the benchmark's Python side.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import compare
import run


class ScoreTest(unittest.TestCase):
    def test_thrown_and_mismatched_keys_both_fail(self):
        art = {
            "execs": [{"key": "a", "pass": 0, "error": None},
                      {"key": "b", "pass": 0, "error": "IllegalStateException: boom"},
                      {"key": "a", "pass": 1, "error": None}],
            "fingerprints": {"a": "3:17:ab", "b": "error: IllegalStateException: boom"},
        }
        attempted, errors, mismatches = run.score(art, {"a": "3:17:ab", "b": "5:1:cd"})
        self.assertEqual(attempted, 5)
        self.assertEqual(errors, [("b", 0, "IllegalStateException: boom")])
        self.assertEqual(mismatches, ["b"])

    def test_key_without_expected_fingerprint_is_a_mismatch(self):
        art = {"execs": [{"key": "a", "pass": 0, "error": None}], "fingerprints": {"a": "1:1:1"}}
        self.assertEqual(run.score(art, {})[2], ["a"])


class VerdictTest(unittest.TestCase):
    base = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]

    def test_gain_needs_nine_of_ten_wins_beyond_the_base_spread(self):
        change = [x - 10 for x in self.base]
        self.assertEqual(compare.verdict(self.base, change, "lower", 0.1), ("gain", 10))
        change[0] = change[1] = 200
        self.assertNotEqual(compare.verdict(self.base, change, "lower", 0.1)[0], "gain")

    def test_regression_is_judged_against_the_bound(self):
        self.assertEqual(compare.verdict(self.base, [x * 1.2 for x in self.base], "lower", 0.1)[0],
                         "regression")
        self.assertEqual(compare.verdict(self.base, [x * 1.05 for x in self.base], "lower", 0.1)[0],
                         "same")
        self.assertEqual(compare.verdict(self.base, [x * 0.8 for x in self.base], "higher", 0.1)[0],
                         "regression")

    def test_spread_wider_than_bound_is_unresolved(self):
        wide = [50, 150, 60, 140, 70, 130, 80, 120, 90, 110]
        self.assertEqual(compare.verdict(wide, list(wide), "lower", 0.1)[0], "unresolved")


if __name__ == "__main__":
    unittest.main()
