#!/usr/bin/env python3
"""Unit tests for tools/perfab.py with a stub perfbench runner.

    python3 -m unittest tools/test_perfab.py
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import perfab  # noqa: E402


class StubRunner:
    """Records each call and writes the artifact perfbench would, tagged
    with the checkout it ran in; `fail` names (seed, checkout) calls
    that exit 1, `silent` those that exit 1 without an artifact."""

    def __init__(self, fail=(), silent=()):
        self.calls = []
        self.fail = set(fail)
        self.silent = set(silent)

    def __call__(self, checkout, workload, seed, seconds, trace):
        self.calls.append((seed, checkout, seconds, trace))
        if (seed, checkout) in self.silent:
            return 1
        results = os.path.join(checkout, ".bench_build", "results")
        os.makedirs(results, exist_ok=True)
        with open(os.path.join(results, f"{workload}-seed{seed}-trace{trace}.json"), "w") as f:
            json.dump({"workload": workload, "seed": seed, "trace": trace,
                       "ran_in": checkout}, f)
        return 1 if (seed, checkout) in self.fail else 0


class PerfAbTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        root = self.tmp.name
        self.checkouts = {"parent": os.path.join(root, "p"), "change": os.path.join(root, "c")}
        self.out = os.path.join(root, "out")

    def tearDown(self):
        self.tmp.cleanup()

    def test_seed_range(self):
        self.assertEqual(perfab.seed_range("801-804"), [801, 802, 803, 804])
        self.assertEqual(perfab.seed_range("7"), [7])

    def test_first_side_alternates_by_seed(self):
        runner = StubRunner()
        perfab.ab(self.checkouts, "corpus_ingest", [10, 11, 12], 10, 1, self.out, runner)
        p, c = self.checkouts["parent"], self.checkouts["change"]
        self.assertEqual([(s, ck) for s, ck, _, _ in runner.calls],
                         [(10, p), (10, c), (11, c), (11, p), (12, p), (12, c)])
        self.assertTrue(all(sec == 10 and tr == 1 for _, _, sec, tr in runner.calls))

    def test_artifacts_land_on_their_side(self):
        failed = perfab.ab(self.checkouts, "lfq_workflow", [3, 4], 10, 0, self.out, StubRunner())
        self.assertEqual(failed, [])
        for side, checkout in self.checkouts.items():
            names = sorted(os.listdir(os.path.join(self.out, side)))
            self.assertEqual(names, ["lfq_workflow-seed3-trace0.json",
                                     "lfq_workflow-seed4-trace0.json"])
            for n in names:
                with open(os.path.join(self.out, side, n)) as f:
                    self.assertEqual(json.load(f)["ran_in"], checkout)

    def test_failed_run_keeps_its_artifact_and_is_reported(self):
        runner = StubRunner(fail={(5, self.checkouts["change"])})
        failed = perfab.ab(self.checkouts, "corpus_ingest", [5], 10, 0, self.out, runner)
        self.assertEqual(failed, [(5, "change")])
        self.assertTrue(os.path.exists(
            os.path.join(self.out, "change", "corpus_ingest-seed5-trace0.json")))

    def test_stale_artifact_of_a_run_that_writes_none_is_not_copied(self):
        change = self.checkouts["change"]
        results = os.path.join(change, ".bench_build", "results")
        os.makedirs(results)
        stale = os.path.join(results, "corpus_ingest-seed6-trace0.json")
        with open(stale, "w") as f:
            json.dump({"stale": True}, f)
        runner = StubRunner(silent={(6, change)})
        failed = perfab.ab(self.checkouts, "corpus_ingest", [6], 10, 0, self.out, runner)
        self.assertEqual(failed, [(6, "change")])
        self.assertFalse(os.path.exists(stale))
        self.assertEqual(os.listdir(os.path.join(self.out, "change")), [])
        self.assertEqual(os.listdir(os.path.join(self.out, "parent")),
                         ["corpus_ingest-seed6-trace0.json"])


if __name__ == "__main__":
    unittest.main()
