import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import compare  # noqa: E402

BOUND = 0.1


def v(parent, change, better="lower"):
    return compare.verdict(parent, change, better, BOUND)["verdict"]


class Verdicts(unittest.TestCase):
    parent = [1.00, 1.01, 0.99, 1.02, 0.98, 1.00, 1.01, 0.99, 1.00, 1.02]

    def test_clear_gain(self):
        change = [x - 0.2 for x in self.parent]
        self.assertEqual(v(self.parent, change), "improved")

    def test_gain_needs_ten_pairs(self):
        change = [x - 0.2 for x in self.parent]
        self.assertEqual(v(self.parent[:9], change[:9]), "unchanged")

    def test_gain_needs_nine_in_ten_wins(self):
        change = [x - 0.2 for x in self.parent]
        change[0] = change[1] = 1.5          # two losses in ten
        self.assertEqual(v(self.parent, change), "unchanged")

    def test_gain_must_exceed_parent_spread(self):
        change = [x - 0.001 for x in self.parent]
        self.assertEqual(v(self.parent, change), "unchanged")

    def test_higher_is_better(self):
        change = [x + 0.2 for x in self.parent]
        self.assertEqual(v(self.parent, change, "higher"), "improved")
        self.assertEqual(v(self.parent, change, "lower"), "regressed")

    def test_regression_beyond_bound(self):
        change = [x * 1.2 for x in self.parent]
        self.assertEqual(v(self.parent, change), "regressed")

    def test_within_bound_is_unchanged(self):
        change = [x * 1.05 for x in self.parent]
        self.assertEqual(v(self.parent, change), "unchanged")

    def test_wide_spread_is_unresolved(self):
        noisy = [0.6, 1.4, 0.7, 1.3, 0.8, 1.2, 0.9, 1.1, 1.0, 1.0]
        self.assertEqual(v(noisy, [x * 0.95 for x in noisy]), "unresolved")
        # ... unless every change run beats every parent run
        self.assertEqual(v(noisy, [0.5] * 10), "improved")


class Rows(unittest.TestCase):
    def test_rows_and_fail_frac(self):
        bench = {"end_to_end": [{"name": "pass_s", "better": "lower",
                                 "bound": BOUND}]}
        def rec(x, failed):
            return {"end_to_end": {"pass_s": x}, "failed": failed,
                    "attempted": 10}
        parent = {"w": [rec(1.0, 0) for _ in range(10)]}
        change = {"w": [rec(0.5, 1) for _ in range(10)]}
        rows = compare.compare(parent, change, bench)
        self.assertEqual([r[1] for r in rows], ["pass_s", "fail_frac"])
        self.assertEqual(rows[0][2]["verdict"], "unchanged (more failures)")
        self.assertEqual(rows[1][2]["verdict"], "worse")
        self.assertIn("fail_frac", compare.fmt(rows))
        only_parent = compare.compare(parent, {}, bench)
        self.assertEqual(only_parent[0][2]["verdict"], "missing runs")


if __name__ == "__main__":
    unittest.main()
