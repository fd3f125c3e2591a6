#!/usr/bin/env python3
"""Tests of compare.py on synthetic run sets: python3 perfbench/test_compare.py"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import compare  # noqa: E402

SPEC = {"end_to_end": [
    {"name": "total_s", "unit": "s", "better": "lower", "bound": 0.1},
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.2}]}


def write_runs(directory, workload, totals, trace=False, setup=5.0):
    for seed, total in enumerate(totals, start=1):
        metrics = ({"trace.total_s": {"value": total, "unit": "s"}} if trace
                   else {"total_s": {"value": total, "unit": "s"},
                         "setup_s": {"value": setup, "unit": "s"}})
        rec = {"workload": workload, "seed": seed, "trace": trace,
               "result": {"correct": True, "attempted": 1, "failed": 0,
                          "metrics": metrics}}
        name = f"{workload}-seed{seed}-trace{int(trace)}.json"
        with open(os.path.join(directory, name), "w") as f:
            json.dump(rec, f)


class VerdictTest(unittest.TestCase):
    def test_clear_gain_is_improved(self):
        base = {s: 10.0 + 0.01 * s for s in range(10)}
        change = {s: 8.0 + 0.01 * s for s in range(10)}
        r = compare.verdict(base, change, "lower", 0.1)
        self.assertEqual(r["verdict"], "improved")
        self.assertEqual(r["win_frac"], 1.0)
        self.assertEqual(r["pairs"], 10)

    def test_higher_is_better_metric(self):
        base = {s: 100.0 + s for s in range(10)}
        change = {s: 150.0 + s for s in range(10)}
        self.assertEqual(compare.verdict(base, change, "higher", 0.1)
                         ["verdict"], "improved")
        self.assertEqual(compare.verdict(change, base, "higher", 0.1)
                         ["verdict"], "worse")

    def test_regression_beyond_bound_is_worse(self):
        base = {s: 10.0 for s in range(10)}
        change = {s: 11.5 for s in range(10)}
        self.assertEqual(compare.verdict(base, change, "lower", 0.1)
                         ["verdict"], "worse")

    def test_small_move_is_within_bound(self):
        base = {s: 10.0 + 0.02 * (s % 3) for s in range(10)}
        change = {s: 10.3 + 0.02 * (s % 3) for s in range(10)}
        self.assertEqual(compare.verdict(base, change, "lower", 0.1)
                         ["verdict"], "within bound")

    def test_noisy_base_is_unresolved(self):
        base = {s: [6.0, 14.0][s % 2] for s in range(10)}
        change = {s: [6.5, 14.5][s % 2] for s in range(10)}
        self.assertEqual(compare.verdict(base, change, "lower", 0.1)
                         ["verdict"], "unresolved")

    def test_ties_count_for_neither_side(self):
        base = {s: 10.0 for s in range(10)}
        r = compare.verdict(base, dict(base), "lower", 0.1)
        self.assertEqual(r["win_frac"], 0.0)
        self.assertEqual(r["verdict"], "within bound")

    def test_quartiles_match_statistics_module(self):
        q1, med, q3 = compare.quartiles([1.0, 2.0, 3.0, 4.0, 5.0])
        self.assertEqual((q1, med, q3), (1.5, 3.0, 4.5))


class CompareDirsTest(unittest.TestCase):
    def test_rows_per_workload_and_metric_and_overhead(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            write_runs(a, "w1", [10.0] * 10)
            write_runs(b, "w1", [10.1] * 10)
            write_runs(b, "w1", [10.6], trace=True)
            write_runs(a, "w2", [3.0] * 10)
            rows, overheads = compare.compare(compare.load_runs(a),
                                              compare.load_runs(b), SPEC)
        got = {(w, m["name"]): (r or {}).get("verdict", "missing")
               for w, m, r in rows}
        self.assertEqual(got, {("w1", "total_s"): "within bound",
                               ("w1", "setup_s"): "within bound",
                               ("w2", "total_s"): "missing",
                               ("w2", "setup_s"): "missing"})
        self.assertEqual(len(overheads), 1)
        self.assertAlmostEqual(overheads[0][2], 0.5)


if __name__ == "__main__":
    unittest.main()
