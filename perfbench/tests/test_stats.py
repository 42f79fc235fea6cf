"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_beta_cdf(self):
        # I_x(2, 2) = 3x^2 - 2x^3; I_x(1, b) = 1 - (1 - x)^b
        for x in (0.1, 0.5, 2 / 3, 0.9):
            self.assertAlmostEqual(stats.beta_cdf(x, 2, 2), 3 * x * x - 2 * x ** 3)
            self.assertAlmostEqual(stats.beta_cdf(x, 1, 7.5), 1 - (1 - x) ** 7.5)
        self.assertEqual(stats.beta_cdf(0.0, 3, 4), 0.0)
        self.assertEqual(stats.beta_cdf(1.0, 3, 4), 1.0)

    def test_harrell_davis_weights(self):
        # n = 3, median: the top value weighs 1 - I_{2/3}(2, 2) = 7/27
        self.assertAlmostEqual(stats.percentile([0, 0, 1], 50), 7 / 27)
        self.assertAlmostEqual(stats.percentile([1, 2], 50), 1.5)
        self.assertAlmostEqual(stats.percentile([5, 1, 4, 2, 3], 50), 3.0)  # symmetric
        self.assertAlmostEqual(stats.percentile([7.0] * 9, 99), 7.0)

    def test_quantiles_are_ordered_and_bounded(self):
        xs = [0.31, 0.12, 0.98, 0.45, 0.27, 0.66, 0.05, 0.77, 0.5, 0.2, 0.35]
        qs = [stats.percentile(xs, p) for p in (10, 25, 50, 75, 90, 99)]
        self.assertEqual(qs, sorted(qs))
        self.assertTrue(min(xs) < qs[0] and qs[-1] < max(xs))
        self.assertAlmostEqual(stats.percentile(xs, 50), statistics.median(xs), delta=0.03)
        self.assertEqual(stats.median([9.0, 1.0, 1.2]), 1.2)

    def test_sample_count_rule(self):
        self.assertEqual([stats.min_samples(p) for p in (50, 75, 90, 99)], [20, 40, 100, 1000])
        xs = [0.1] * 99
        with self.assertRaises(ValueError):
            stats.tail(xs, 90)
        self.assertAlmostEqual(stats.tail(xs + [0.1], 90), 0.1)
        self.assertAlmostEqual(stats.tail(xs[:40], 75), 0.1)
        with self.assertRaises(ValueError):
            stats.median([])


class BacklogTest(unittest.TestCase):
    def test_due_follows_a_piecewise_schedule(self):
        schedule = [(0.0, 10, 20), (2.0, 40, 80)]
        self.assertEqual([stats.due(schedule, t) for t in (0.0, 1.05, 2.0, 2.5, 9.0)],
                         [1, 11, 21, 41, 100])

    def test_series_counts_due_minus_committed(self):
        series = stats.backlog_series([(-0.5, 1), (1.0, 5), (2.0, 15)], [(0.0, 10, 12)])
        self.assertEqual(series, [(1.0, 6), (2.0, 0)])

    def test_keeping_up_is_not_growth(self):
        rate = 40.0
        # one batch every 2 s serving everything due 2 s earlier
        commits = [(t, max(0, int((t - 2) * rate))) for t in range(2, 20, 2)]
        series = stats.backlog_series(commits, [(0.0, rate, 800)])
        self.assertFalse(stats.backlog_growing(series, rate, 0, 20))

    def test_falling_behind_is_growth(self):
        rate = 40.0
        # serving 25 per second against 40 offered: backlog gains 15/s
        commits = [(t, int(t * 25)) for t in range(1, 20)]
        series = stats.backlog_series(commits, [(0.0, rate, 800)])
        self.assertTrue(stats.backlog_growing(series, rate, 0, 20))

    def test_only_the_rung_interval_counts(self):
        # keeps up at 20/s for 10 s, then falls behind on a 60/s rung
        schedule = [(0.0, 20, 200), (10.0, 60, 480)]
        commits = [(t, stats.due(schedule, t - 1)) for t in range(1, 11)]
        commits += [(t, 200 + int((t - 10) * 30)) for t in range(11, 19)]
        series = stats.backlog_series(commits, schedule)
        self.assertFalse(stats.backlog_growing(series, 20, 0, 10))
        self.assertTrue(stats.backlog_growing(series, 60, 10, 18))

    def test_max_sustainable_rate_stops_at_the_first_failed_rung(self):
        self.assertEqual(stats.max_sustainable_rate([(20, True), (30, True), (45, False), (60, True)]), 30)
        self.assertEqual(stats.max_sustainable_rate([(20, False), (30, True)]), 0.0)
        self.assertEqual(stats.max_sustainable_rate([(20, True)]), 20)

    def test_the_rate_step_itself_is_not_growth(self):
        # 20/s until 10 s, then 80/s: the first commit after the step still
        # shows the old backlog, later ones a flat, higher one
        res = {"latencies": [1.0] * 200, "ladder_latencies": [[1, 1.0]] * 100,
               "schedule": [[0.0, 20.0, 200], [10.0, 80.0, 960]], "warmup_s": 2.0}
        series = [(t, 30.0) for t in range(2, 11, 2)]
        series += [(10.5, 40.0)] + [(12.5 + 2 * i, 150.0 + i % 2) for i in range(5)]
        self.assertTrue(stats.backlog_growing(series, 80, 10, 22))
        self.assertEqual(layers.max_eps(res, series), 80)
        series[-1] = (20.5, 400.0)  # falling behind after the step
        self.assertEqual(layers.max_eps(res, series), 20)


def span(i, parent, kind, start, end):
    return {"id": i, "parent": parent, "kind": kind, "name": f"{kind}{i}",
            "start": start, "end": end, "attrs": {}}


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(1, 0, "query", 0.0, 10.0),
                 span(2, 1, "build", 0.0, 3.0),
                 span(3, 1, "exec", 4.0, 9.0),
                 span(4, 3, "job", 4.5, 8.0),
                 span(5, 4, "stage", 4.5, 6.0),
                 span(6, 4, "stage", 5.0, 7.0)]  # overlaps stage 5
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 2.0)  # 10 - 3 - 5
        self.assertAlmostEqual(st[3], 1.5)  # 5 - 3.5
        self.assertAlmostEqual(st[4], 1.0)  # 3.5 - union(4.5..7) = 2.5
        self.assertAlmostEqual(st[5], 1.5)
        by_kind = stats.self_time_by_kind(spans)
        self.assertAlmostEqual(by_kind["stage"], 3.5)
        # concurrent stages each keep their own self time: wall + overlap
        self.assertAlmostEqual(sum(by_kind.values()), 10.0 + 1.0)

    def test_children_are_clipped_and_open_spans_skipped(self):
        spans = [span(1, 0, "batch", 0.0, 2.0),
                 span(2, 1, "job", 1.5, 3.0),  # ends after its parent
                 span(3, 1, "job", 0.5, None)]  # never closed
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 1.5)
        self.assertNotIn(3, st)


class ForwardCheckTest(unittest.TestCase):
    expected = {("kitA", 100): 1.5, ("kitA", 400): 2.0, ("kitB", 100): 30.1}

    def test_exactly_once_passes(self):
        lines = ["pm,kit=kitA pm25=1.5 100", "pm,kit=kitB pm25=30.1 100", "",
                 "pm,kit=kitA pm25=2.0 400"]
        self.assertEqual(stats.forward_check(self.expected, lines), (0, 0, 0, 0))

    def test_duplicate_missing_unexpected_and_wrong(self):
        lines = ["pm,kit=kitA pm25=1.5 100", "pm,kit=kitA pm25=1.5 100",
                 "pm,kit=kitB pm25=30.2 100", "pm,kit=kitC pm25=1.0 100", "garbage"]
        self.assertEqual(stats.forward_check(self.expected, lines), (1, 1, 2, 1))

    def test_archive_check(self):
        rows = [("kitA", 100, 1.5), ("kitA", 400, 2.0), ("kitB", 100, 30.1)]
        self.assertEqual(stats.archive_check(self.expected, rows), 0)
        self.assertEqual(stats.archive_check(self.expected, rows + [("kitB", 100, 30.1)]), 1)
        self.assertEqual(stats.archive_check(self.expected, rows[:2]), 1)
        self.assertEqual(stats.archive_check(self.expected, [("kitA", 100, 9.9)] + rows[1:]), 1)


class SampleBaseTest(unittest.TestCase):
    def _sample(self, seed):
        import tempfile
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            gen.sample_base(d, seed)
            return {f: pq.read_table(os.path.join(d, f)).to_pydict() for f in sorted(os.listdir(d))}

    def test_seeded_and_deterministic(self):
        a, b, c = self._sample(1), self._sample(1), self._sample(2)
        self.assertEqual(a, b)
        self.assertNotEqual(a["documents.parquet"], c["documents.parquet"])
        self.assertEqual(sorted(a), sorted(os.listdir(gen.BASE)))

    def test_embedding_ids_stay_contiguous_from_zero(self):
        for seed in range(5):
            ids = sorted(self._sample(seed)["embeddings.parquet"]["vec_id"])
            self.assertEqual(ids, list(range(len(ids))))
            self.assertGreaterEqual(len(ids), 500 - gen.MAX_CUT)


class HistoryTest(unittest.TestCase):
    def _write(self, fn, *args):
        import tempfile
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "out.tsv")
            rows = fn(path, *args)
            with open(path) as f:
                return rows, f.read()

    def test_seeded_and_read_back_exactly(self):
        (a, text), (b, _) = self._write(gen.history, 3, 4), self._write(gen.history, 3, 4)
        self.assertEqual(a, b)
        self.assertEqual(len(a), 4 * 12)
        back = {}
        for line in text.splitlines():
            k, t, v = line.split("\t")
            back[(k, int(t))] = float(v)
        self.assertEqual(back, a)

    def test_history_precedes_and_never_meets_the_telegrams(self):
        history, _ = self._write(gen.history, 3, 4)
        live, _ = self._write(gen.telegrams, 3, 200, 4)
        self.assertEqual({k for k, _ in history}, {k for k, _ in live})
        self.assertLess(max(t for _, t in history), min(t for _, t in live))


class BenchmarkFileTest(unittest.TestCase):
    def test_per_layer_metrics_match_the_layers_module(self):
        root = os.path.dirname(os.path.dirname(HERE))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]], layers.NAMES)


if __name__ == "__main__":
    unittest.main()
