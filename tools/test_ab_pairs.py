"""Tests of ab_pairs.py's pure summary logic. Run from the repository root:

    python3 -m unittest discover -s tools -p 'test_ab_pairs.py'
"""
import unittest

import ab_pairs

METRICS = [{"name": "pass_s", "unit": "s", "better": "lower", "bound": 0.25},
           {"name": "rows_per_s", "unit": "1/s", "better": "higher", "bound": 0.25}]


def runs(a_vals, b_vals, name="pass_s", workload="contract"):
    out = []
    for i, (x, y) in enumerate(zip(a_vals, b_vals)):
        out.append({"workload": workload, "pair": i, "side": "a", "ok": True, "metrics": {name: x}})
        out.append({"workload": workload, "pair": i, "side": "b", "ok": True, "metrics": {name: y}})
    return out


class SummarizeTest(unittest.TestCase):
    def row(self, rs, name="pass_s"):
        return next(r for r in ab_pairs.summarize(rs, METRICS)["contract"] if r["metric"] == name)

    def test_lower_is_better_wins_and_median(self):
        r = self.row(runs([2.0, 2.2, 2.1, 2.4, 2.3], [1.9, 2.3, 2.0, 2.1, 2.2]))
        self.assertEqual(r["n"], 5)
        self.assertEqual(r["wins"], 4)
        self.assertAlmostEqual(r["a"][1], 2.2)
        self.assertAlmostEqual(r["b"][1], 2.1)
        self.assertAlmostEqual(r["a"][0], 2.05)      # exclusive quartiles, as the
        self.assertAlmostEqual(r["a"][2], 2.35)      # benchmark's gain rule reads them
        self.assertAlmostEqual(r["iqr_a"], 2.35 - 2.05)
        self.assertFalse(r["gap_gt_iqr"])
        self.assertTrue(r["within_bound"])
        self.assertLess(r["worse_rel"], 0)

    def test_higher_is_better_regression_past_bound(self):
        r = self.row(runs([100, 110, 105], [70, 72, 74], "rows_per_s"), "rows_per_s")
        self.assertEqual(r["wins"], 0)
        self.assertAlmostEqual(r["worse_rel"], (105 - 72) / 105)
        self.assertFalse(r["within_bound"])
        self.assertTrue(r["gap_gt_iqr"])

    def test_bound_edge_is_within(self):
        r = self.row(runs([1.0, 1.0], [1.25, 1.25]))
        self.assertAlmostEqual(r["worse_rel"], 0.25)
        self.assertTrue(r["within_bound"])

    def test_failed_or_half_pairs_are_left_out(self):
        rs = runs([1.0, 1.0, 1.0], [1.1, 1.1, 1.1])
        rs[1]["ok"] = False          # pair 0, side b failed
        rs = rs[:-1]                 # pair 2 has no b run
        self.assertEqual(self.row(rs)["n"], 1)
        self.assertEqual(ab_pairs.failures(rs)["contract"], {"a": 0, "b": 1})

    def test_missing_metric_gives_empty_row(self):
        self.assertEqual(self.row(runs([1.0], [1.0]), "rows_per_s"), {"metric": "rows_per_s", "n": 0})

    def test_workloads_are_kept_apart(self):
        rs = runs([1.0], [2.0]) + runs([5.0], [4.0], workload="volume")
        s = ab_pairs.summarize(rs, METRICS)
        self.assertEqual(sorted(s), ["contract", "volume"])
        self.assertEqual(s["volume"][0]["wins"], 1)
        self.assertEqual(s["contract"][0]["wins"], 0)

    def test_quartiles_of_one_sample(self):
        self.assertEqual(ab_pairs.quartiles([3.0]), (3.0, 3.0, 3.0))

    def test_table_marks_a_bound_breach(self):
        rs = runs([1.0, 1.0], [2.0, 2.0])
        t = ab_pairs.table(ab_pairs.summarize(rs, METRICS), ab_pairs.failures(rs),
                           {"a": "base", "b": "change"})
        self.assertIn("| pass_s (s) | 1 [1, 1] | 2 [2, 2] | 0/2 |", t)
        self.assertIn("| +100.0% | 25% | NO |", t)


if __name__ == "__main__":
    unittest.main()
