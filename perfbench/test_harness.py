"""Self-tests for the benchmark harness (no JVM needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402
import workloads  # noqa: E402


class TailTest(unittest.TestCase):
    def test_at_least_ten_samples_beyond_the_tail(self):
        for n in (20, 21, 37, 100, 101, 999):
            xs = list(range(1, n + 1))
            pct, v = metrics.tail(xs)
            self.assertGreaterEqual(sum(x > v for x in xs), metrics.MIN_BEYOND, n)
            # the next whole percentile up would leave fewer than ten beyond
            if pct < 100:
                nxt = metrics.nearest_rank(xs, pct + 1)
                self.assertLess(sum(x > nxt for x in xs), metrics.MIN_BEYOND, n)

    def test_known_percentiles(self):
        self.assertEqual(metrics.tail(list(range(1, 101))), (90, 90))
        self.assertEqual(metrics.tail(list(range(1, 1001))), (99, 990))
        self.assertEqual(metrics.tail(list(range(1, 21))), (50, 10))

    def test_few_samples_report_the_maximum(self):
        self.assertEqual(metrics.tail([5.0, 1.0, 3.0]), (100, 5.0))
        self.assertEqual(metrics.tail(list(range(19))), (100, 18))

    def test_order_does_not_matter(self):
        xs = [float(x) for x in np.random.default_rng(3).permutation(50)]
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))


class BalancedTest(unittest.TestCase):
    def test_every_label_weighs_the_same(self):
        # "a" ran three times, "b" once: b's one sample counts like all of a's
        median, per_s = metrics.balanced([("a", 1), ("a", 1), ("a", 1), ("b", 9)])
        self.assertAlmostEqual(median, 3)
        self.assertEqual(per_s, 200)
        self.assertAlmostEqual(metrics.balanced([("a", 2), ("b", 4), ("c", 8)])[0], 4)
        self.assertAlmostEqual(metrics.balanced([("a", 1), ("a", 3), ("b", 8), ("c", 4)])[0], 4)

    def test_every_label_moves_the_median(self):
        # doubling one of four labels' latency raises the median by 2 ** (1/4)
        base = [("a", 100), ("b", 200), ("c", 300), ("d", 400)]
        slower = [("a", 200)] + base[1:]
        self.assertAlmostEqual(metrics.balanced(slower)[0] / metrics.balanced(base)[0],
                               2 ** 0.25)

    def test_a_partial_pass_does_not_shift_the_mix(self):
        full = [("a", 100), ("b", 200), ("c", 300)] * 2
        self.assertEqual(metrics.balanced(full), metrics.balanced(full + [("a", 100)]))


class FailRatioTest(unittest.TestCase):
    def test_counts_failures_and_wrong_results_over_attempts(self):
        self.assertEqual(metrics.fail_ratio(0, 40), 0.0)
        self.assertEqual(metrics.fail_ratio(3, 12), 0.25)
        self.assertEqual(metrics.fail_ratio(0, 0), 1.0)

    def test_compare_rows_flags_wrong_results(self):
        cols = ["g", "total"]
        rows = [[1, 10.5], [2, 20.25]]
        self.assertIsNone(metrics.compare_rows(cols, rows, ["total", "g"],
                                               [(20.25, 2), (10.5, 1)]))
        self.assertIsNone(metrics.compare_rows(cols, rows, cols,
                                               [[2, 20.25 * (1 + 1e-12)], [1, 10.5]]))
        self.assertIsNotNone(metrics.compare_rows(cols, rows, cols, [[1, 10.5], [2, 20.3]]))
        self.assertIsNotNone(metrics.compare_rows(cols, rows, cols, [[1, 10.5]]))
        self.assertIsNotNone(metrics.compare_rows(cols, rows, ["g", "sum"], rows))


class SeedTest(unittest.TestCase):
    KEYS = np.arange(2000, dtype=np.int64)

    def batches(self, seed):
        return workloads.ingest_batches(seed, self.KEYS, rounds=6)

    def test_one_seed_one_input_sequence(self):
        a, b = self.batches(7), self.batches(7)
        self.assertEqual(len(a), len(b))
        for x, y in zip(a, b):
            self.assertEqual(x["op"], y["op"])
            np.testing.assert_array_equal(x["keys"], y["keys"])
            for col in x.get("rows", {}):
                np.testing.assert_array_equal(x["rows"][col], y["rows"][col])
        self.assertEqual(workloads.query_plan(workloads.BI_QUERIES, 7),
                         workloads.query_plan(workloads.BI_QUERIES, 7))

    def test_seeds_differ(self):
        a, b = self.batches(1), self.batches(2)
        self.assertTrue(any(x["op"] != y["op"] or not np.array_equal(x["keys"], y["keys"])
                            for x, y in zip(a, b)))
        self.assertNotEqual(workloads.query_plan(workloads.BI_QUERIES, 1),
                            workloads.query_plan(workloads.BI_QUERIES, 2))

    def test_rounds_hold_one_batch_of_each_kind_in_order(self):
        ops = [b["op"] for b in self.batches(5)]
        self.assertEqual(ops, workloads.ROUND * 6)

    def test_batches_keep_the_table_keyed(self):
        live = set(self.KEYS.tolist())
        for b in self.batches(9):
            keys = b["keys"].tolist()
            self.assertEqual(len(keys), len(set(keys)))
            if b["op"] == "delete_mor":
                self.assertTrue(set(keys) <= live)
                live -= set(keys)
            elif b["op"] == "append":
                self.assertFalse(set(keys) & live)
                live |= set(keys)
            else:
                live |= set(keys)


class ReferenceFoldTest(unittest.TestCase):
    def test_fold_matches_a_hand_computed_table(self):
        with tempfile.TemporaryDirectory() as d:
            base = os.path.join(d, "base.parquet")
            pq.write_table(pa.table({
                "o_orderkey": pa.array([0, 1, 2, 5], pa.int64()),
                "o_custkey": pa.array([10, 11, 12, 15], pa.int64()),
                "o_totalprice": [1.25, 2.5, 3.75, 10.0],
                "o_orderpriority": ["a", "b", "c", "d"]}), base)
            ref = workloads.ReferenceTable(base)
        ref.apply({"op": "merge_mor", "keys": np.array([1, 6]), "rows": {
            "o_orderkey": np.array([1, 6]), "o_custkey": np.array([21, 26]),
            "o_totalprice": np.array([7.5, 0.01]), "o_orderpriority": np.array(["x", "y"])}})
        ref.apply({"op": "delete_mor", "keys": np.array([2])})
        self.assertEqual(ref.rows, {0: (10, 1.25, "a"), 1: (21, 7.5, "x"),
                                    5: (15, 10.0, "d"), 6: (26, 0.01, "y")})
        # g = key % 5: {0: keys 0, 5}, {1: keys 1, 6}
        self.assertEqual(ref.aggregate(), {0: [2, 1125, 125, 1000], 1: [2, 751, 1, 750]})


if __name__ == "__main__":
    unittest.main()
