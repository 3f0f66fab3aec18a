#!/usr/bin/env python3
"""Unit tests for tools/perfdiff.py on synthetic artifacts.

    python3 -m unittest tools/test_perfdiff.py
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import perfdiff  # noqa: E402

BENCHMARK = {
    "end_to_end": [
        {"name": "pass_s", "unit": "s", "better": "lower", "bound": 0.25},
        {"name": "items_per_s", "unit": "1/s", "better": "higher", "bound": 0.25},
        {"name": "alloc_mb", "unit": "MB", "better": "lower", "bound": 0.15},
        {"name": "cpu_s", "unit": "s", "better": "lower", "bound": 0.25},
    ],
    "per_layer": [
        {"name": "spark.jobs", "unit": "count", "better": "lower"},
        {"name": "trace.overhead_s", "unit": "s", "better": "lower"},
    ],
}


def write(directory, workload, seed, trace, end_to_end, per_layer=None, passes=None,
          raw=None, op_p90_s=None):
    art = {
        "workload": workload, "seed": seed, "trace": trace, "op_p90_s": op_p90_s,
        "end_to_end": {k: {"value": v, "unit": "s"} for k, v in end_to_end.items()},
        "per_layer": {k: {"value": v, "unit": "count"} for k, v in (per_layer or {}).items()},
        "raw": dict(raw or {}, passes=passes or []),
    }
    name = f"{workload}-seed{seed}-trace{int(trace)}.json"
    with open(os.path.join(directory, name), "w") as f:
        json.dump(art, f)


class PerfDiffTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.parent = os.path.join(self.tmp.name, "parent")
        self.change = os.path.join(self.tmp.name, "change")
        os.makedirs(self.parent)
        os.makedirs(self.change)
        for i, seed in enumerate(range(1, 11)):
            jitter = 0.01 * (i % 3)
            write(self.parent, "lfq", seed, False, {
                "pass_s": 4.0 + jitter, "items_per_s": 100.0 + i,
                "alloc_mb": 1000.0, "cpu_s": 10.0 + (i % 2)},
                raw={"peak_heap_mb": 800.0 + i, "peak_rss_mb": 1300.0},
                op_p90_s=None if i == 0 else 4.2)
            write(self.change, "lfq", seed, False, {
                # a clear gain; throughput up on every pair
                "pass_s": 2.5 + jitter, "items_per_s": 160.0 + i,
                # 30 % more memory against a 0.15 bound
                "alloc_mb": 1300.0,
                # a coin flip
                "cpu_s": 10.0 + ((i + 1) % 2)},
                # the heap peaks higher on every pair but one
                raw={"peak_heap_mb": 900.0 + i if i else 700.0, "peak_rss_mb": 1300.0},
                op_p90_s=2.7)
        def traced_pass(jobs):
            return {"traced": True, "spans": [{"name": n, "jobs": j} for n, j in jobs]}
        untraced = {"traced": False, "spans": [{"name": "probe", "jobs": 99}]}
        write(self.parent, "lfq", 99, True, {"pass_s": 5.0},
              {"spark.jobs": 15, "trace.overhead_s": 0.018}, [
            untraced,
            traced_pass([("curate", 11), ("probe", 20), ("probe", 20)]),
            traced_pass([("curate", 11), ("probe", 20), ("probe", 20)])])
        write(self.change, "lfq", 99, True, {"pass_s": 3.0},
              {"spark.jobs": 11, "trace.overhead_s": -0.465}, [
            untraced,
            traced_pass([("curate", 9), ("probe", 13), ("probe", 13)]),
            traced_pass([("curate", 10), ("probe", 13), ("probe", 13), ("append", 2)])])
        # present on one side only: never paired
        write(self.change, "lfq", 50, False, {"pass_s": 0.1, "items_per_s": 1.0,
                                              "alloc_mb": 1.0, "cpu_s": 0.1})
        directions = perfdiff.metric_directions(BENCHMARK)
        self.rows = {r["metric"]: r for r in perfdiff.compare(
            perfdiff.load_runs(self.parent), perfdiff.load_runs(self.change), directions)}

    def tearDown(self):
        self.tmp.cleanup()

    def test_quartiles_and_pairs(self):
        r = self.rows["pass_s"]
        self.assertEqual(r["pairs"], 10)
        self.assertAlmostEqual(r["parent"][1], 4.01)
        self.assertAlmostEqual(r["change"][1], 2.51)
        self.assertLessEqual(r["parent"][0], r["parent"][1])
        self.assertLessEqual(r["parent"][1], r["parent"][2])

    def test_gain_needs_nine_tenths_of_pairs_and_a_median_gap_beyond_the_parent_iqr(self):
        self.assertEqual(self.rows["pass_s"]["wins"], 10)
        self.assertEqual(self.rows["pass_s"]["verdict"], "gain")
        # "higher is better" is honoured
        self.assertEqual(self.rows["items_per_s"]["verdict"], "gain")
        # 5 wins, 5 losses: nothing to claim
        self.assertEqual(self.rows["cpu_s"]["wins"], 5)
        self.assertEqual(self.rows["cpu_s"]["verdict"], "-")

    def test_worse_beyond_bound(self):
        self.assertEqual(self.rows["alloc_mb"]["wins"], 0)
        self.assertEqual(self.rows["alloc_mb"]["verdict"], "worse")

    def test_per_layer_metrics_come_from_traced_runs(self):
        r = self.rows["spark.jobs"]
        self.assertEqual((r["pairs"], r["wins"]), (1, 1))
        self.assertEqual((r["parent"][1], r["change"][1]), (15.0, 11.0))
        # one pair wins, but a gain needs ten pairs
        self.assertEqual(r["verdict"], "-")

    def test_span_job_counts_per_side_flag_counts_that_do_not_repeat(self):
        jobs = {r["span"]: r for r in perfdiff.job_counts(
            perfdiff.load_runs(self.parent), perfdiff.load_runs(self.change))}
        # traced passes only; every instance of a span name counts
        self.assertEqual(jobs["probe"]["parent"], [20, 20, 20, 20])
        self.assertEqual(jobs["probe"]["change"], [13, 13, 13, 13])
        self.assertTrue(jobs["probe"]["exact"])
        self.assertEqual(perfdiff.fmt_jobs(jobs["probe"]["change"]), "13")
        self.assertFalse(jobs["curate"]["exact"])
        self.assertEqual(perfdiff.fmt_jobs(jobs["curate"]["change"]), "9×1, 10×1")
        # a span on one side only shows as absent on the other
        self.assertEqual(perfdiff.fmt_jobs(jobs["append"]["parent"]), "-")
        table = perfdiff.render_jobs(list(jobs.values()))
        self.assertIn("| lfq | curate | 1 | 11 | 9×1, 10×1 | NO |", table)
        self.assertIn("| lfq | probe | 1 | 20 | 13 | yes |", table)

    def test_median_difference_stays_readable_when_the_parent_median_is_near_zero(self):
        r = self.rows["trace.overhead_s"]
        self.assertAlmostEqual(r["delta"], -0.483)
        self.assertLess(r["rel"], -26.0)  # the ratio reads about -2683 %
        self.assertAlmostEqual(self.rows["pass_s"]["delta"], -1.5)
        table = perfdiff.render(list(self.rows.values()))
        self.assertIn("| -0.483 | -2683.3% |", table)
        self.assertIn("| -1.5 | -37.4% |", table)

    def test_artifact_fields_compare_untraced_pairs_by_median_and_wins(self):
        fields = {r["field"]: r for r in perfdiff.artifact_fields(
            perfdiff.load_runs(self.parent), perfdiff.load_runs(self.change))}
        heap = fields["raw.peak_heap_mb"]
        # ten untraced pairs; the traced seed-99 pair and the unpaired run stay out
        self.assertEqual((heap["pairs"], heap["wins"]), (10, 1))
        self.assertAlmostEqual(heap["parent"], 804.5)
        self.assertAlmostEqual(heap["change"], 904.5)
        # equal values win for neither side
        self.assertEqual(fields["raw.peak_rss_mb"]["wins"], 0)
        # a pair missing the field on one side is left out
        p90 = fields["op_p90_s"]
        self.assertEqual((p90["pairs"], p90["wins"], p90["change"]), (9, 9, 2.7))
        table = perfdiff.render_fields(list(fields.values()))
        self.assertIn("| lfq | raw.peak_heap_mb | 10 | 804.5 | 904.5 | 1/10 |", table)
        self.assertIn("| lfq | op_p90_s | 9 | 4.2 | 2.7 | 9/9 |", table)

    def test_render_has_one_row_per_metric(self):
        table = perfdiff.render(list(self.rows.values()))
        self.assertEqual(len(table.splitlines()), 2 + len(self.rows))
        self.assertIn("| lfq | pass_s | 10 |", table)


if __name__ == "__main__":
    unittest.main()
