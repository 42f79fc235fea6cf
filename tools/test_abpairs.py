"""Unit test of tools/abpairs.py's summary on canned result lines.

    python3 tools/test_abpairs.py
"""
import json
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import abpairs  # noqa: E402


def line(pair, side, pass_s, rss, correct=True):
    return json.dumps({"pair": pair, "seed": 100 + pair, "side": side, "result": {
        "correct": correct, "attempted": 10, "failed": 0, "metrics": {
            "pass_s": {"value": pass_s, "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"}}}})


BETTER = {"pass_s": "lower", "peak_rss_mb": "lower", "ingest_eps": "higher"}


class SummaryTest(unittest.TestCase):
    def records(self, lines):
        return [json.loads(x) for x in lines]

    def test_medians_quartiles_and_wins(self):
        parent = [0.20, 0.22, 0.21, 0.25, 0.19, 0.20, 0.23, 0.21, 0.22, 0.20]
        change = [0.12, 0.13, 0.22, 0.14, 0.12, 0.11, 0.13, 0.12, 0.14, 0.13]
        lines = []
        for i, (p, c) in enumerate(zip(parent, change)):
            lines += [line(i, "parent", p, 1500.0), line(i, "change", c, 1500.0)]
        s = abpairs.summarize(self.records(lines), BETTER)
        self.assertNotIn("ingest_eps", s)  # absent from every line
        p = s["pass_s"]
        self.assertEqual(p["pairs"], 10)
        self.assertAlmostEqual(p["parent"]["median"], 0.21)
        self.assertAlmostEqual(p["parent"]["q1"], 0.20)
        self.assertAlmostEqual(p["parent"]["q3"], 0.22)
        self.assertAlmostEqual(p["change"]["median"], 0.13)
        self.assertEqual(p["wins"], 9)  # pair 2 is lost (0.22 vs 0.21)
        self.assertAlmostEqual(p["change_frac"], (0.13 - 0.21) / 0.21)
        self.assertAlmostEqual(p["parent_iqr_frac"], 0.02 / 0.21)
        self.assertTrue(p["claimable"])
        # equal values are ties: no wins, nothing to claim
        r = s["peak_rss_mb"]
        self.assertEqual((r["wins"], r["claimable"], r["change_frac"]), (0, False, 0.0))
        self.assertIn("pass_s", abpairs.format_summary(s))

    def test_higher_is_better_and_half_pairs(self):
        lines = [
            json.dumps({"pair": 0, "side": "parent", "result": {"metrics": {"ingest_eps": {"value": 10.0}}}}),
            json.dumps({"pair": 0, "side": "change", "result": {"metrics": {"ingest_eps": {"value": 12.0}}}}),
            json.dumps({"pair": 1, "side": "change", "result": {"metrics": {"ingest_eps": {"value": 1.0}}}}),
        ]
        s = abpairs.summarize(self.records(lines), BETTER)["ingest_eps"]
        self.assertEqual((s["pairs"], s["wins"]), (1, 1))  # pair 1 has no parent run
        self.assertEqual(s["parent"]["q1"], 10.0)


if __name__ == "__main__":
    unittest.main()
