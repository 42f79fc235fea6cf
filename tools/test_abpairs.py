"""Unit test of tools/abpairs.py's summary on canned result lines.

    python3 tools/test_abpairs.py
"""
import json
import os
import subprocess
import sys
import tempfile
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


def sample(query, build_s, exec_s, error=None):
    return {"pass": 0, "query": query, "build_s": build_s, "exec_s": exec_s, "error": error}


class QueryLayersTest(unittest.TestCase):
    def test_run_medians_skip_failed_samples(self):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "result.json")
            with open(path, "w") as f:
                json.dump({"samples": [
                    sample("q1", 0.30, 1.0), sample("q1", 0.10, 2.0), sample("q1", 0.20, 3.0),
                    sample("q2", 0.05, 0.5),
                    sample("q2", float("nan"), float("nan"), "IllegalArgumentException: x"),
                ]}, f)
            m = abpairs.query_medians(path)
            self.assertEqual(m, {"q1": {"build_s": 0.20, "exec_s": 2.0},
                                 "q2": {"build_s": 0.05, "exec_s": 0.5}})
            with open(path, "w") as f:
                json.dump({"samples": []}, f)  # an ingest run has none
            self.assertIsNone(abpairs.query_medians(path))
            self.assertIsNone(abpairs.query_medians(os.path.join(d, "missing.json")))

    def test_medians_over_pairs_per_side(self):
        def rec(pair, side, build_s, exec_s, queries=("q1",)):
            return {"pair": pair, "side": side,
                    "queries": {q: {"build_s": build_s, "exec_s": exec_s} for q in queries}}
        records = [
            rec(0, "parent", 0.40, 1.0), rec(0, "change", 0.05, 1.1),
            rec(1, "change", 0.07, 0.9), rec(1, "parent", 0.50, 1.2),
            rec(2, "parent", 0.45, 1.1), rec(2, "change", 0.06, 1.0, queries=("q1", "q9")),
            rec(3, "parent", 9.0, 9.0),  # no change run: left out
        ]
        s = abpairs.summarize_queries(records)
        self.assertEqual(set(s), {"q1"})  # q9 has no parent run
        self.assertAlmostEqual(s["q1"]["parent"]["build_s"], 0.45)
        self.assertAlmostEqual(s["q1"]["change"]["build_s"], 0.06)
        self.assertAlmostEqual(s["q1"]["parent"]["exec_s"], 1.1)
        self.assertAlmostEqual(s["q1"]["change"]["exec_s"], 1.0)
        table = abpairs.format_queries(s)
        self.assertIn("q1", table)
        self.assertIn("0.4500", table)


class ReadsTest(unittest.TestCase):
    def test_run_medians_from_an_ingest_result(self):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "result.json")
            with open(path, "w") as f:
                json.dump({"workload": "telegram_ingest", "samples": [],
                           "reads": [0.09, 0.30, 0.08, 0.10, 0.07],
                           "read_waits": [0.0, 0.4, 0.1, 0.0]}, f)
            self.assertIsNone(abpairs.query_medians(path))
            self.assertEqual(abpairs.read_medians(path),
                             {"read_s": 0.09, "read_wait_s": 0.05})
            with open(path, "w") as f:
                json.dump({"samples": [sample("q1", 0.1, 1.0)]}, f)  # a batch run
            self.assertIsNone(abpairs.read_medians(path))
            self.assertIsNone(abpairs.read_medians(os.path.join(d, "missing.json")))

    def test_medians_over_pairs_per_side(self):
        def rec(pair, side, read_s, read_wait_s):
            return {"pair": pair, "side": side,
                    "reads": {"read_s": read_s, "read_wait_s": read_wait_s}}
        records = [
            rec(0, "parent", 0.11, 0.02), rec(0, "change", 0.08, 0.01),
            rec(1, "change", 0.09, 0.03), rec(1, "parent", 0.12, 0.05),
            rec(2, "parent", 0.10, 0.04), rec(2, "change", 0.07, 0.02),
            rec(3, "parent", 9.0, 9.0),  # no change run: left out
        ]
        s = abpairs.summarize_reads(records)
        self.assertAlmostEqual(s["parent"]["read_s"], 0.11)
        self.assertAlmostEqual(s["parent"]["read_wait_s"], 0.04)
        self.assertAlmostEqual(s["change"]["read_s"], 0.08)
        self.assertAlmostEqual(s["change"]["read_wait_s"], 0.02)
        self.assertIn("0.11 ", abpairs.format_reads(s))
        self.assertIsNone(abpairs.summarize_reads(records[-1:]))


class SnapshotTest(unittest.TestCase):
    def git(self, repo, *args):
        subprocess.run(["git", "-c", "user.name=t", "-c", "user.email=t@example.com", *args],
                       cwd=repo, check=True, capture_output=True)

    def write(self, path, text):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(text)

    def read(self, path):
        with open(path) as f:
            return f.read()

    def test_tracked_edits_and_untracked_files_without_ignored_ones(self):
        with tempfile.TemporaryDirectory() as tmp:
            repo, dest = os.path.join(tmp, "repo"), os.path.join(tmp, "snap")
            os.makedirs(repo)
            self.git(repo, "init", "-q")
            self.write(os.path.join(repo, ".gitignore"), "target/\n")
            self.write(os.path.join(repo, "src", "a.scala"), "committed a")
            self.write(os.path.join(repo, "src", "same.scala"), "committed same")
            self.write(os.path.join(repo, "gone.txt"), "committed gone")
            self.git(repo, "add", "-A")
            self.git(repo, "commit", "-q", "-m", "c")
            self.write(os.path.join(repo, "src", "a.scala"), "edited a")  # uncommitted edit
            os.remove(os.path.join(repo, "gone.txt"))  # deleted, not committed
            self.write(os.path.join(repo, "res", "new.txt"), "untracked")
            self.write(os.path.join(repo, "target", "out.class"), "ignored")

            self.assertEqual(abpairs.snapshot_tree(repo, dest), 4)
            self.assertEqual(self.read(os.path.join(dest, "src", "a.scala")), "edited a")
            self.assertEqual(self.read(os.path.join(dest, "src", "same.scala")), "committed same")
            self.assertEqual(self.read(os.path.join(dest, "res", "new.txt")), "untracked")
            self.assertTrue(os.path.exists(os.path.join(dest, ".gitignore")))
            self.assertFalse(os.path.exists(os.path.join(dest, "gone.txt")))
            self.assertFalse(os.path.exists(os.path.join(dest, "target")))

            # a second snapshot refreshes the files and keeps the side's build
            self.write(os.path.join(dest, ".bench_build", "build.stamp"), "kept")
            os.remove(os.path.join(repo, "res", "new.txt"))
            self.write(os.path.join(repo, "src", "a.scala"), "edited again")
            self.assertEqual(abpairs.snapshot_tree(repo, dest), 3)
            self.assertEqual(self.read(os.path.join(dest, "src", "a.scala")), "edited again")
            self.assertFalse(os.path.exists(os.path.join(dest, "res", "new.txt")))
            self.assertEqual(self.read(os.path.join(dest, ".bench_build", "build.stamp")), "kept")
            self.assertEqual(self.read(os.path.join(dest, "src", "same.scala")), "committed same")

    def test_refuses_a_directory_it_did_not_write(self):
        with tempfile.TemporaryDirectory() as tmp:
            repo, dest = os.path.join(tmp, "repo"), os.path.join(tmp, "other")
            os.makedirs(repo)
            self.git(repo, "init", "-q")
            self.write(os.path.join(dest, "keep.txt"), "not a snapshot")
            with self.assertRaises(SystemExit):
                abpairs.snapshot_tree(repo, dest)
            self.assertEqual(self.read(os.path.join(dest, "keep.txt")), "not a snapshot")


if __name__ == "__main__":
    unittest.main()
