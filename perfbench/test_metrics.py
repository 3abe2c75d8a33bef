"""Tests of the benchmark's metric helpers (no Spark needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


class TailPercentileTest(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(metrics.tail_percentile([1.0] * 10))
        self.assertIsNone(metrics.tail_percentile([]))

    def test_keeps_ten_samples_beyond(self):
        xs = [float(i) for i in range(1, 101)]  # 1..100, shuffled below
        xs = xs[50:] + xs[:50]
        pct, value, n = metrics.tail_percentile(xs)
        self.assertEqual((pct, value, n), (90.0, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_twenty_samples_is_the_median(self):
        pct, value, n = metrics.tail_percentile([float(i) for i in range(20)])
        self.assertEqual((pct, value, n), (50.0, 9.0, 20))


class UnionLengthTest(unittest.TestCase):
    def test_overlap_nesting_and_gaps(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 30), (22, 25)]), 25)

    def test_empty_and_zero_length(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(3, 3), (5, 4)]), 0)

    def test_touching_intervals(self):
        self.assertEqual(metrics.union_length([(0, 1), (1, 2)]), 2)


class IdleGapTest(unittest.TestCase):
    def test_gap_is_call_time_outside_jobs(self):
        jobs = [(10, 30), (20, 50), (80, 120)]
        # covered inside the call: 10..50 and 80..100
        self.assertEqual(metrics.idle_gap((0, 100), jobs), 40)

    def test_no_jobs_is_all_gap(self):
        self.assertEqual(metrics.idle_gap((5, 9), []), 4)


def span(id_, parent, layer, start, end):
    return {"id": id_, "parent": parent, "layer": layer, "name": layer, "pass": 0,
            "start_ms": start, "end_ms": end}


class SelfTimeTest(unittest.TestCase):
    def test_layers_partition_the_pass(self):
        spans = [span(0, -1, "api", 10, 60), span(1, 0, "bench", 20, 40)]
        jobs = [(25, 35), (45, 55), (70, 80)]
        layers = metrics.self_times((0, 100), spans, jobs)
        # api: 50 minus child 20..40 and job 45..55; bench: the pass outside
        # 10..60 and 70..80 (40) plus the child's 20 minus its job (10)
        self.assertEqual(layers, {"api": 20, "bench": 50, "stage": 30})
        self.assertEqual(sum(layers.values()), 100)

    def test_jobs_go_to_the_innermost_span(self):
        spans = [span(0, -1, "api", 0, 100), span(1, 0, "sql", 10, 20)]
        self.assertEqual(metrics.attribute(spans, [(12, 18), (50, 60), (150, 160)]), [1, 0, None])

    def test_concurrent_jobs_count_once(self):
        spans = [span(0, -1, "api", 0, 10)]
        layers = metrics.self_times((0, 10), spans, [(2, 6), (3, 8)])
        self.assertEqual(layers, {"api": 4, "stage": 6, "bench": 0})


class TaskSkewTest(unittest.TestCase):
    def test_worst_stage_max_over_median(self):
        tasks = [(1, 0, 100), (1, 0, 100), (1, 0, 400), (2, 0, 200), (2, 0, 300)]
        self.assertEqual(metrics.task_skew(tasks), 4.0)

    def test_small_stages_are_ignored(self):
        self.assertEqual(metrics.task_skew([(1, 0, 1), (1, 0, 50)]), 1.0)


class TracingOverheadTest(unittest.TestCase):
    def test_traced_pass_against_its_neighbours(self):
        walls = [(10.0, False), (8.8, True), (8.0, False), (7.7, True), (7.0, False), (6.0, True)]
        passes = [{"wall_s": w, "traced": t} for w, t in walls]
        # 8.8 / 9.0 - 1 and 7.7 / 7.5 - 1; the last traced pass has no right neighbour
        self.assertAlmostEqual(metrics.tracing_overhead(passes), (8.8 / 9.0 + 7.7 / 7.5) / 2 - 1)


class EndToEndTest(unittest.TestCase):
    def test_metrics_from_raw(self):
        raw = {"passes": [{"wall_s": 2.0, "cpu_s": 6.0}, {"wall_s": 4.0, "cpu_s": 30.0},
                          {"wall_s": 3.0, "cpu_s": 9.0}],
               "jvm_to_session_s": 1.0, "generate_s": 0.5, "load_s": [3.0, 1.0, 2.0], "warmup_s": 4.0,
               "rows": 300, "docs": 600, "verify": {"recall": 0.9}}
        got = metrics.end_to_end(raw)
        self.assertEqual(got, {"setup_s": 7.5, "wall_s": 3.0, "cpu_s": 9.0, "rows_per_s": 100.0,
                               "docs_per_s": 200.0, "recall": 0.9})
        self.assertEqual([n for n, _ in metrics.END_TO_END], list(got))


if __name__ == "__main__":
    unittest.main()
