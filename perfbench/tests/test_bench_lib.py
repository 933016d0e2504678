"""Tests for the benchmark's pure helpers.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import unittest
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import bench_lib as lib  # noqa: E402


class TailTest(unittest.TestCase):
    def test_exactly_ten_samples_lie_above_the_tail(self):
        vals = list(range(1, 101))          # 1..100
        v, p, n = lib.tail(vals)
        self.assertEqual((v, p, n), (90, 90.0, 100))
        self.assertEqual(sum(x > v for x in vals), 10)

    def test_order_does_not_matter(self):
        vals = [5, 1, 4, 2, 3] * 10
        self.assertEqual(lib.tail(vals), lib.tail(sorted(vals)))

    def test_small_samples_fall_back_to_the_maximum(self):
        self.assertEqual(lib.tail([3, 1, 2]), (3, 100.0, 3))
        self.assertEqual(lib.tail(list(range(10))), (9, 100.0, 10))

    def test_eleven_samples_leave_the_minimum(self):
        v, p, n = lib.tail(list(range(11)))
        self.assertEqual((v, n), (0, 11))
        self.assertAlmostEqual(p, 100 / 11)

    def test_nearest_rank_and_median(self):
        s = [10, 20, 30, 40]
        self.assertEqual(lib.nearest_rank(s, 0.5), 20)
        self.assertEqual(lib.nearest_rank(s, 0.99), 40)
        self.assertEqual(lib.median([3, 1, 2]), 2)
        self.assertEqual(lib.median([4, 1, 2, 3]), 2.5)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_touching_intervals(self):
        self.assertEqual(lib.union_length([(0, 2), (1, 3), (3, 4)]), 4)
        self.assertEqual(lib.merge([(5, 6), (0, 2), (1, 3)]),
                         [(0, 3), (5, 6)])

    def test_union_ignores_empty_and_inverted_intervals(self):
        self.assertEqual(lib.union_length([(2, 2), (5, 4), (0, 1)]), 1)
        self.assertEqual(lib.union_length([]), 0)

    def test_scheduler_gap_is_job_time_with_no_task_running(self):
        jobs = [(0, 10)]
        tasks = [(1, 4), (2, 5), (7, 9)]       # covered: 1-5, 7-9
        self.assertEqual(lib.uncovered(jobs, tasks), 4)

    def test_gap_counts_each_job_once_and_clips_stray_tasks(self):
        jobs = [(0, 4), (2, 6), (10, 12)]      # merged: 0-6, 10-12
        tasks = [(1, 3), (5, 11)]              # inside jobs: 1-3, 5-6, 10-11
        self.assertEqual(lib.uncovered(jobs, tasks), 8 - 4)

    def test_parallel_tasks_do_not_make_the_gap_negative(self):
        tasks = [(0, 10)] * 4
        self.assertEqual(lib.uncovered([(0, 10)], tasks), 0)

    def test_self_times_are_disjoint_in_precedence_order(self):
        layers = [("compute", [(2, 4)]), ("dispatch", [(1, 5)]),
                  ("driver", [(0, 6), (30, 40)]), ("build", [(0, 3)])]
        got, residual = lib.self_times(layers, 0, 10)
        self.assertEqual(got, {"compute": 2, "dispatch": 2, "driver": 2,
                               "build": 0})
        self.assertEqual(residual, 4)          # 6-10: no layer covers it

    def test_a_missing_layer_shows_as_residual(self):
        got, residual = lib.self_times([("compute", [(0, 3)]),
                                        ("driver", [])], 0, 10)
        self.assertEqual((got["compute"], got["driver"], residual), (3, 0, 7))


class SampleTest(unittest.TestCase):
    POP = [(f"{f}{i:02d}", f"{f}:{i % 3}") for f in "qdst" for i in range(12)]
    QUOTA = {"q:0": 2, "q:1": 1, "d:2": 1, "s:0": 1, "t:1": 2}

    def test_same_seed_same_list(self):
        a = lib.stratified_sample(self.POP, 7, self.QUOTA)
        b = lib.stratified_sample(list(reversed(self.POP)), 7, self.QUOTA)
        self.assertEqual(a, b)

    def test_mix_holds_on_every_seed(self):
        strata = dict(self.POP)
        seen = set()
        for seed in range(50):
            s = lib.stratified_sample(self.POP, seed, self.QUOTA)
            self.assertEqual(len(set(s)), len(s))
            self.assertEqual(Counter(strata[q] for q in s), self.QUOTA)
            seen.add(tuple(s))
        self.assertGreater(len(seen), 40)   # the seed does pick the sample

    def test_short_stratum_is_an_error(self):
        with self.assertRaises(ValueError):
            lib.stratified_sample(self.POP, 1, {"q:0": 5})

    def test_benchmark_quota_fits_its_population(self):
        cfg = json.load(open(os.path.join(os.path.dirname(HERE),
                                          "workloads.json")))["batch_mix"]
        pop = [(q, f"{f}:{t}") for q, (f, t) in cfg["population"].items()]
        families = set()
        for seed in range(20):
            s = lib.stratified_sample(pop, seed, cfg["quota"])
            self.assertEqual(len(s), sum(cfg["quota"].values()))
            families |= {q[0] for q in s}
        self.assertEqual(families, set("qdstxm"))

    def test_forced_queries_come_from_the_population(self):
        cfg = json.load(open(os.path.join(os.path.dirname(HERE),
                                          "workloads.json")))["batch_mix"]
        pop = [(q, f"{f}:{t}") for q, (f, t) in cfg["population"].items()]
        sample = lib.stratified_sample(pop, cfg["sample_seed"], cfg["quota"])
        for q in cfg["forced"]:
            self.assertIn(q, cfg["population"])
            self.assertNotIn(q, sample)


class LatencyTest(unittest.TestCase):
    def test_due_time_follows_the_schedule(self):
        self.assertEqual(lib.due_time(0, 100.0, 10.0), 100.0)
        self.assertEqual(lib.due_time(25, 100.0, 10.0), 102.5)

    def test_latency_is_measured_from_the_newest_rows_due_time(self):
        # rate 10 rows/s from t0 = 0: row 9 is due at 0.9 s, row 19 at 1.9 s
        epochs = [(10, 1.0), (20, 2.5)]
        got = lib.epoch_latencies(epochs, 0.0, 10.0)
        self.assertEqual([round(x, 6) for x in got], [0.1, 0.6])

    def test_a_late_generator_does_not_shorten_latency(self):
        # rows sent late still count from when they were due
        sent = [0.0, 0.1, 0.9, 0.95]              # rows 2 and 3 went out late
        late = lib.lateness(sent, 0.0, 10.0)
        self.assertEqual([round(x, 6) for x in late], [0.0, 0.0, 0.7, 0.65])
        lat = lib.epoch_latencies([(4, 1.0)], 0.0, 10.0)
        self.assertAlmostEqual(lat[0], 0.7)      # 1.0 - due(3) = 1.0 - 0.3

    def test_empty_epochs_are_skipped(self):
        epochs = [(5, 1.0), (5, 1.5), (8, 2.0)]
        self.assertEqual(len(lib.epoch_latencies(epochs, 0.0, 10.0)), 2)


class ContractTest(unittest.TestCase):
    def test_run_py_reports_the_metrics_benchmark_json_lists(self):
        root = os.path.dirname(os.path.dirname(HERE))
        bench = json.load(open(os.path.join(root, "BENCHMARK.json")))
        import importlib.util
        spec = importlib.util.spec_from_file_location(
            "run", os.path.join(os.path.dirname(HERE), "run.py"))
        run = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(run)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]},
                         run.PER_LAYER)
        self.assertEqual({w["name"] for w in bench["workloads"]},
                         set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
