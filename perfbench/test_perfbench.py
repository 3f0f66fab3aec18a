"""Unit tests for the benchmark's own arithmetic and input handling.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import arith
import gen


class TailPercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        values = list(range(1, 101))
        self.assertEqual(arith.percentile(values, 50), 50)
        self.assertEqual(arith.percentile(values, 90), 90)
        self.assertEqual(arith.percentile([7.0], 90), 7.0)

    def test_p90_needs_ten_samples_beyond(self):
        # 99 samples: only 9 lie beyond the 90th percentile
        self.assertEqual(arith.beyond(99, 90.0), 9)
        self.assertIsNone(arith.p90([float(i) for i in range(1, 100)]))
        # 100 samples: exactly 10 beyond
        self.assertEqual(arith.beyond(100, 90.0), 10)
        self.assertEqual(arith.p90([float(i) for i in range(1, 101)]), 90.0)
        self.assertEqual(arith.p90([float(i) for i in range(1000, 0, -1)]), 900.0)

    def test_too_few_samples_report_no_tail(self):
        self.assertIsNone(arith.p90([1.0] * 6))
        self.assertIsNone(arith.p90([]))


class SelfTimeTest(unittest.TestCase):
    def test_prefix_differences(self):
        selfs = arith.self_times({
            "read": ("", 1.0),
            "filter": ("read", 1.5),
            "reshape": ("filter", 4.0),
        })
        self.assertEqual(selfs, {"read": 1.0, "filter": 0.5, "reshape": 2.5})

    def test_branches_subtract_their_own_parent(self):
        selfs = arith.self_times({"a": ("", 2.0), "b": ("a", 5.0), "c": ("a", 3.0)})
        self.assertEqual(selfs["b"], 3.0)
        self.assertEqual(selfs["c"], 1.0)


class ItemsPerSecondTest(unittest.TestCase):
    def test_units(self):
        # 86,400 intensity cells in a 4 s pass -> 21,600 cells per second
        self.assertEqual(arith.items_per_s(86400, 4.0), 21600.0)
        self.assertEqual(arith.items_per_s(6000, 0.5), 12000.0)

    def test_rejects_non_positive_time(self):
        with self.assertRaises(ValueError):
            arith.items_per_s(10, 0.0)


class InputsTest(unittest.TestCase):
    def test_same_seed_same_inputs_and_stale_files_regenerate(self):
        with tempfile.TemporaryDirectory() as root:
            d, first, reused = gen.ensure_inputs(root, "corpus_ingest", 7)
            self.assertFalse(reused)
            _, again, reused = gen.ensure_inputs(root, "corpus_ingest", 7)
            self.assertTrue(reused)
            self.assertEqual(first["files"], again["files"])
            with open(os.path.join(d, "corpus.parquet"), "ab") as f:
                f.write(b"stale")
            _, regenerated, reused = gen.ensure_inputs(root, "corpus_ingest", 7)
            self.assertFalse(reused)
            self.assertEqual(regenerated["files"], first["files"])
            _, other, _ = gen.ensure_inputs(root, "corpus_ingest", 8)
            self.assertNotEqual(other["files"], first["files"])


if __name__ == "__main__":
    unittest.main()
