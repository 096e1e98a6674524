"""Tests for the A/B pair summary on canned result lines.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import contextlib
import io
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import ab_pairs  # noqa: E402


def line(seed, side, op_p50, rows, correct=True):
    """One canned result record as ``run`` appends it."""
    return {"workload": "medallion_rebuild", "seed": seed, "side": side,
            "result": {"correct": correct, "attempted": 1, "failed": 0,
                       "metrics": {"op_p50_s": {"value": op_p50, "unit": "s"},
                                   "rows_per_s": {"value": rows, "unit": "rows/s"}}}}


def canned(parent, change):
    recs = []
    for i, (p, c) in enumerate(zip(parent, change)):
        recs += [line(i, "parent", p, 1000 / p), line(i, "change", c, 1000 / c)]
    return recs


PARENT = [6.0, 6.2, 6.4, 6.1, 6.3, 5.9, 6.5, 6.2, 6.0, 6.4]


class Summary(unittest.TestCase):
    def test_a_clear_gain_holds(self):
        s = ab_pairs.summarize(canned(PARENT, [x - 1.5 for x in PARENT]),
                               "op_p50_s", "lower")
        self.assertEqual((s["wins"], s["pairs"]), (10, 10))
        self.assertTrue(s["holds"])
        self.assertAlmostEqual(s["parent"][1], 6.2)
        self.assertAlmostEqual(s["change"][1], 4.7)

    def test_higher_is_better_metrics_count_the_other_way(self):
        s = ab_pairs.summarize(canned(PARENT, [x - 1.5 for x in PARENT]),
                               "rows_per_s", "higher")
        self.assertEqual(s["wins"], 10)
        self.assertTrue(s["holds"])

    def test_eight_of_ten_wins_is_not_enough(self):
        change = [x - 1.5 for x in PARENT]
        change[0], change[1] = PARENT[0] + 0.1, PARENT[1] + 0.1
        s = ab_pairs.summarize(canned(PARENT, change), "op_p50_s", "lower")
        self.assertEqual(s["wins"], 8)
        self.assertFalse(s["holds"])

    def test_ties_count_for_neither_side(self):
        change = [x - 1.5 for x in PARENT]
        change[3] = PARENT[3]
        s = ab_pairs.summarize(canned(PARENT, change), "op_p50_s", "lower")
        self.assertEqual(s["wins"], 9)
        self.assertTrue(s["holds"])

    def test_a_gap_inside_the_parent_quartiles_is_not_a_gain(self):
        s = ab_pairs.summarize(canned(PARENT, [x - 0.1 for x in PARENT]),
                               "op_p50_s", "lower")
        self.assertEqual(s["wins"], 10)
        self.assertFalse(s["holds"])

    def test_fewer_than_ten_pairs_is_not_a_gain(self):
        s = ab_pairs.summarize(canned(PARENT[:9], [x - 1.5 for x in PARENT[:9]]),
                               "op_p50_s", "lower")
        self.assertEqual(s["wins"], 9)
        self.assertFalse(s["holds"])

    def test_a_failed_check_drops_its_pair(self):
        recs = canned(PARENT, [x - 1.5 for x in PARENT])
        recs[1]["result"]["correct"] = False
        recs.append({"workload": "medallion_rebuild", "seed": 11, "side": "parent",
                     "error": "the JVM exited with 1"})
        s = ab_pairs.summarize(recs, "op_p50_s", "lower")
        self.assertEqual(s["pairs"], 9)

    def test_sides_alternate_which_runs_first(self):
        self.assertEqual([ab_pairs.order(i)[0] for i in range(4)],
                         ["parent", "change", "parent", "change"])

    def test_result_sets_split_the_pairs_by_side(self):
        base, new = ab_pairs.result_sets(canned(PARENT, PARENT), 5)
        self.assertEqual(base["run_seconds"], 5)
        self.assertEqual(len(base["runs"]), 10)
        self.assertEqual(len(new["runs"]), 10)
        r = new["runs"][0]
        self.assertEqual((r["workload"], r["seed"], r["trace"]), ("medallion_rebuild", 0, 0))
        self.assertNotIn("side", r)

    def test_show_prints_each_metric_and_the_verdict(self):
        spec = {"workloads": [{"name": "medallion_rebuild"}],
                "end_to_end": [{"name": "op_p50_s", "better": "lower"},
                               {"name": "rows_per_s", "better": "higher"}]}
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            ab_pairs.show(json.loads(json.dumps(
                canned(PARENT, [x - 1.5 for x in PARENT]))), spec)
        text = out.getvalue()
        self.assertIn("== medallion_rebuild: 20 runs, 0 errored", text)
        self.assertRegex(text, r"op_p50_s\s+6\.2 \[.*\]\s+4\.7 \[.*\]\s+10/10  holds")


if __name__ == "__main__":
    unittest.main()
