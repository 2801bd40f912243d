"""Tests of the benchmark's pure logic. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


def sample(op, status="ok", fp="1:2", t=1.0, pass_=0):
    return {"op": op, "pass": pass_, "status": status, "fp": fp,
            "reclaim": 0.0, "prepare": 0.0, "build": 0.0, "action": t}


class TailTest(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        xs = list(range(1, 41))  # 40 samples
        value, pct, n = stats.tail(xs)
        self.assertEqual(n, 40)
        self.assertAlmostEqual(pct, 75.0)
        # Harrell-Davis estimate of p75 of 1..40: between the 30th and 31st
        self.assertAlmostEqual(value, 30.5, places=6)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.tail([5, 1, 4, 2, 3, 9, 8, 7, 6, 10, 11, 12]),
                         stats.tail(list(range(1, 13))))

    def test_constant_samples(self):
        self.assertAlmostEqual(stats.tail([0.7] * 39)[0], 0.7, places=12)

    def test_one_sample_crossing_the_rank_moves_it_little(self):
        # the order statistic with 10 samples above it jumps from 2 to 1
        # when one sample crosses; the estimate moves by a fraction of that
        before = stats.tail([1.0] * 29 + [2.0] * 11)[0]
        after = stats.tail([1.0] * 30 + [2.0] * 10)[0]
        self.assertGreater(before, after)
        self.assertLess(before - after, 0.5)

    def test_smallest_sample_with_a_tail(self):
        value, pct, n = stats.tail(list(range(11)))
        self.assertEqual(n, 11)
        self.assertAlmostEqual(pct, 100.0 / 11)
        self.assertTrue(0 < value < 1)

    def test_too_few_samples_gives_max(self):
        self.assertEqual(stats.tail([3, 1, 2]), (3, 100.0, 3))

    def test_empty(self):
        value, pct, n = stats.tail([])
        self.assertNotEqual(value, value)  # nan
        self.assertEqual(n, 0)

    def test_p50(self):
        self.assertAlmostEqual(stats.p50([3, 1, 2]), 2.0, places=12)
        self.assertAlmostEqual(stats.p50([1, 2, 3, 10]), stats.p50([10, 3, 2, 1]), places=12)
        self.assertAlmostEqual(stats.p50([1, 2, 3, 4]), 2.5, places=12)
        self.assertNotEqual(stats.p50([]), stats.p50([]))  # nan

    def test_betainc(self):
        self.assertAlmostEqual(stats.betainc(1, 1, 0.3), 0.3, places=12)
        self.assertAlmostEqual(stats.betainc(2, 3, 0.4), 0.5248, places=12)
        self.assertAlmostEqual(stats.betainc(29.7, 10.3, 0.7) + stats.betainc(10.3, 29.7, 0.3),
                               1.0, places=12)
        self.assertEqual((stats.betainc(2, 3, 0.0), stats.betainc(2, 3, 1.0)), (0.0, 1.0))


class VerdictTest(unittest.TestCase):
    def test_matching_fingerprint(self):
        self.assertEqual(stats.verdict(sample("q1", fp="6:42"), {"q1": "6:42"}), "ok")

    def test_wrong_fingerprint(self):
        self.assertEqual(stats.verdict(sample("q1", fp="6:41"), {"q1": "6:42"}), "wrong")

    def test_row_count_is_part_of_fingerprint(self):
        self.assertEqual(stats.verdict(sample("q1", fp="7:42"), {"q1": "6:42"}), "wrong")

    def test_unknown_op_cannot_pass(self):
        self.assertEqual(stats.verdict(sample("q9"), {"q1": "1:2"}), "wrong")

    def test_error_and_timeout_keep_their_reason(self):
        self.assertEqual(stats.verdict(sample("q1", status="error"), {"q1": "1:2"}), "error")
        self.assertEqual(stats.verdict(sample("q1", status="timeout"), {"q1": "1:2"}), "timeout")


class AccountTest(unittest.TestCase):
    def test_failures_never_enter_latencies(self):
        exp = {"a": "1:2", "b": "1:2", "c": "1:2"}
        acc = stats.account([
            sample("a", t=2.0),
            sample("b", status="error", t=0.001),
            sample("c", fp="0:null", t=0.002),
            sample("a", t=3.0, pass_=1),
        ], exp)
        self.assertEqual(acc["attempted"], 4)
        self.assertEqual(acc["failed"], 2)
        self.assertEqual(acc["by_reason"], {"error": 1, "wrong": 1})
        self.assertEqual(sorted(acc["latencies"]), [2.0, 3.0])
        self.assertEqual(acc["by_op"], {"a": [2.0, 3.0], "b": [], "c": []})

    def test_latency_is_the_sum_of_the_steps(self):
        s = {"op": "a", "pass": 0, "status": "ok", "fp": "1:2",
             "reclaim": 0.1, "prepare": 0.2, "build": 0.3, "action": 0.4}
        self.assertAlmostEqual(stats.account([s], {"a": "1:2"})["latencies"][0], 1.0)


class TypicalPassTest(unittest.TestCase):
    def test_sums_each_ops_median(self):
        self.assertAlmostEqual(stats.typical_pass({"a": [1.0, 3.0, 2.0], "b": [0.5]}), 2.5)

    def test_an_op_that_never_succeeded_gives_no_pass(self):
        acc = stats.account([sample("a"), sample("b", status="error")], {"a": "1:2", "b": "1:2"})
        self.assertIsNone(stats.typical_pass(acc["by_op"]))


class RowsPerSecondTest(unittest.TestCase):
    def test_rows_over_summed_medians(self):
        by_op = {"g8": [1.0, 3.0, 2.0], "g64": [0.5], "scan": [9.0]}
        rows = {"g8": 100, "g64": 50, "scan": 100}
        self.assertAlmostEqual(stats.rows_per_s(by_op, rows, ["g8", "g64"]), 150 / 2.5)

    def test_a_failed_greatest_op_gives_none(self):
        self.assertIsNone(stats.rows_per_s({"g8": [1.0], "g64": []}, {"g8": 1, "g64": 1},
                                           ["g8", "g64"]))


class SpanTest(unittest.TestCase):
    def spans(self):
        return [
            {"id": 1, "parent": 0, "op": "o", "name": "op q1", "start_ms": 0.0, "end_ms": 100.0},
            {"id": 2, "parent": 1, "op": "o", "name": "build", "start_ms": 0.0, "end_ms": 40.0},
            {"id": 3, "parent": 1, "op": "o", "name": "action", "start_ms": 40.0, "end_ms": 100.0},
            {"id": 4, "parent": -1, "op": "o", "name": "job 7", "start_ms": 50.0, "end_ms": 90.0},
            {"id": 5, "parent": 4, "op": "o", "name": "stage 3", "start_ms": 55.0, "end_ms": 70.0},
            {"id": 6, "parent": 4, "op": "o", "name": "stage 4", "start_ms": 65.0, "end_ms": 80.0},
        ]

    def test_orphans_join_the_client_span_they_start_in(self):
        s = stats.adopt_orphans(self.spans())
        self.assertEqual(s[3]["parent"], 3)

    def test_self_time_subtracts_merged_children(self):
        t = stats.self_times(stats.adopt_orphans(self.spans()))
        self.assertAlmostEqual(t["op"], 0.0)
        self.assertAlmostEqual(t["build"], 0.040)
        self.assertAlmostEqual(t["action"], 0.020)
        self.assertAlmostEqual(t["job"], 0.015)  # 40 ms minus 55..80 merged
        self.assertAlmostEqual(t["stage"], 0.030)


if __name__ == "__main__":
    unittest.main()
