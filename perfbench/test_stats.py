"""Tests of the benchmark's statistics and trace helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402
import stats  # noqa: E402


class MedianQuartiles(unittest.TestCase):
    def test_quartiles_match_the_statistics_module(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        self.assertEqual(stats.quartiles(xs)[1], statistics.median(xs))

    def test_single_sample_is_its_own_quartiles(self):
        self.assertEqual(stats.quartiles([2.5]), (2.5, 2.5, 2.5))


class Tail(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 46))  # 45 samples: the 35th smallest has exactly 10 above it
        p, v, n = stats.tail(xs)
        self.assertEqual((round(p, 2), v, n), (77.78, 35, 45))
        self.assertEqual(sum(x > v for x in xs), 10)

    def test_hundred_samples_give_p90(self):
        p, v, n = stats.tail(list(range(100)))
        self.assertEqual((p, v, n), (90.0, 89, 100))

    def test_twenty_samples_give_the_median(self):
        self.assertEqual(stats.tail(list(range(20))), (50.0, 9, 20))

    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(stats.tail(list(range(19))))

    def test_order_does_not_matter(self):
        xs = [3.0, 1.0, 2.0] * 10
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_nesting(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]), 4.0)

    def test_union_of_nothing_is_zero(self):
        self.assertEqual(stats.union_length([]), 0.0)

    def test_union_clips_to_the_window(self):
        self.assertEqual(stats.union_length([(-5, 1), (9, 20)], 0, 10), 2.0)
        self.assertEqual(stats.union_length([(11, 12)], 0, 10), 0.0)

    def test_self_time_is_wall_minus_covered_children(self):
        # children cover [2, 5] and [4, 6] -> 4 of the 10
        self.assertEqual(stats.self_time(0, 10, [(2, 5), (4, 6)]), 6.0)
        self.assertEqual(stats.self_time(0, 10, [(-1, 11)]), 0.0)


class PhasesCoverWall(unittest.TestCase):
    def test_within_five_percent(self):
        self.assertTrue(stats.phases_cover_wall([1.0, 0.2, 3.0], 4.3))
        self.assertTrue(stats.phases_cover_wall([1.0, 0.2, 3.0], 4.05))
        self.assertFalse(stats.phases_cover_wall([1.0, 0.2, 3.0], 4.5))

    def test_windows_of_a_recorded_call(self):
        call = {"t0": 100.0, "t1": 190.0, "phases": {
            "construct": [100.2, 130.0], "plan": [130.1, 131.5], "execute": [131.6, 189.0]}}
        windows = run.phase_windows(call)
        self.assertEqual([w[0] for w in windows], ["construct", "plan", "execute"])
        self.assertTrue(stats.phases_cover_wall([b - a for _, a, b in windows], run.wall_ms(call)))

    def test_time_outside_the_phases_is_caught(self):
        # a leak probe of 20 ms after a 90 ms call
        call = {"t0": 100.0, "t1": 210.0, "phases": {
            "construct": [100.0, 130.0], "plan": [130.0, 131.5], "execute": [131.5, 190.0]}}
        self.assertFalse(stats.phases_cover_wall(
            [b - a for _, a, b in run.phase_windows(call)], run.wall_ms(call)))

    def test_a_phase_that_never_started_is_left_out(self):
        # construct threw: plan and execute never started
        self.assertEqual(run.phase_windows({"t0": 100.0, "t1": 140.0,
                                            "phases": {"construct": [100.0, 139.0]}}),
                         [("construct", 100.0, 139.0)])


def _trace():
    """Two passes, the second traced. In it q_a constructs with one job (the
    group names it) and executes with one job submitted from a thread
    without the group; q_b runs one execute job."""
    return [
        {"k": "pass", "pass": 0, "traced": False, "t0": 0.0, "t1": 900.0},
        {"k": "query", "pass": 1, "q": "q_a", "t0": 1000.0, "t1": 1300.0, "err": None, "phases": {
            "construct": [1000.0, 1100.0], "plan": [1100.0, 1110.0], "execute": [1110.0, 1300.0]}},
        {"k": "query", "pass": 1, "q": "q_b", "t0": 1300.0, "t1": 1400.0, "err": None, "phases": {
            "construct": [1300.0, 1310.0], "plan": [1310.0, 1320.0], "execute": [1320.0, 1400.0]}},
        {"k": "job", "id": 0, "t0": 1010, "group": "pb|1|q_a|construct", "stages": [0, 1]},
        {"k": "job", "id": 1, "t0": 1150, "group": None, "stages": [2]},
        {"k": "job", "id": 2, "t0": 1330, "group": "pb|1|q_b|execute", "stages": [3, 1]},
        {"k": "stage", "id": 0, "attempt": 0, "t0": 1010, "t1": 1050, "tasks": 1, "failed": False},
        {"k": "stage", "id": 1, "attempt": 0, "t0": 1050, "t1": 1090, "tasks": 1, "failed": False},
        {"k": "stage", "id": 2, "attempt": 0, "t0": 1150, "t1": 1250, "tasks": 2, "failed": False},
        {"k": "stage", "id": 3, "attempt": 1, "t0": 1330, "t1": 1390, "tasks": 1, "failed": False},
        {"k": "task", "stage": 0, "attempt": 0, "t0": 1010, "t1": 1050, "ok": True,
         "run_ms": 40, "cpu_ns": 30_000_000, "gc_ms": 1, "shuffle_w": 1 << 20, "shuffle_r": 0,
         "spill": 0, "peak_mem": 2 << 20, "in_b": 3 << 20, "in_r": 10, "out_b": 0, "out_r": 0},
        {"k": "task", "stage": 1, "attempt": 0, "t0": 1050, "t1": 1090, "ok": True,
         "run_ms": 40, "cpu_ns": 30_000_000, "gc_ms": 0, "shuffle_w": 0, "shuffle_r": 1 << 20,
         "spill": 0, "peak_mem": 1 << 20, "in_b": 0, "in_r": 0, "out_b": 0, "out_r": 0},
        {"k": "task", "stage": 2, "attempt": 0, "t0": 1150, "t1": 1250, "ok": True,
         "run_ms": 100, "cpu_ns": 0, "gc_ms": 0, "shuffle_w": 0, "shuffle_r": 0,
         "spill": 0, "peak_mem": 0, "in_b": 0, "in_r": 0, "out_b": 1 << 20, "out_r": 5},
        {"k": "task", "stage": 2, "attempt": 0, "t0": 1200, "t1": 1260, "ok": False,
         "run_ms": 60, "cpu_ns": 0, "gc_ms": 0, "shuffle_w": 0, "shuffle_r": 0,
         "spill": 0, "peak_mem": 0, "in_b": 0, "in_r": 0, "out_b": 0, "out_r": 0},
        {"k": "task", "stage": 3, "attempt": 1, "t0": 1330, "t1": 1390, "ok": True,
         "run_ms": 60, "cpu_ns": 0, "gc_ms": 0, "shuffle_w": 0, "shuffle_r": 0,
         "spill": 0, "peak_mem": 0, "in_b": 0, "in_r": 0, "out_b": 0, "out_r": 0},
        {"k": "trigger", "t0": 1020, "batch_ms": 30, "commit_ms": 12},
        {"k": "probe", "pass": 1, "q": "q_a", "cached_bytes": 3 << 20, "cached_rdds": 2,
         "temp_views": 1, "conf_added": 0},
        {"k": "probe", "pass": 1, "q": "q_b", "cached_bytes": 1 << 20, "cached_rdds": 1,
         "temp_views": 0, "conf_added": 2},
        {"k": "pass", "pass": 1, "traced": True, "t0": 1000.0, "t1": 1400.0},
    ]


class TraceSummary(unittest.TestCase):
    def setUp(self):
        self.m = run.summarize_trace(_trace(), ["q_a", "q_b"], cores=4)

    def test_phase_times_and_counts(self):
        self.assertAlmostEqual(self.m["construct.s"], 0.11)
        self.assertAlmostEqual(self.m["plan.s"], 0.02)
        self.assertAlmostEqual(self.m["execute.s"], 0.27)
        self.assertEqual((self.m["construct.jobs"], self.m["execute.jobs"]), (1, 2))
        # stage 1 belongs to job 0, the first job that lists it
        self.assertEqual((self.m["construct.stages"], self.m["execute.stages"]), (2, 2))
        self.assertEqual((self.m["construct.tasks"], self.m["execute.tasks"]), (2, 3))

    def test_idle_is_phase_wall_minus_task_union(self):
        # construct of q_a: 100 ms, tasks cover 1010-1090 -> 20 ms idle; q_b's 10 ms run none
        self.assertAlmostEqual(self.m["construct.idle_s"], 0.02 + 0.01)
        # execute: q_a 190 ms with tasks over 1150-1260 (80 idle); q_b 80 ms with 60 covered
        self.assertAlmostEqual(self.m["execute.idle_s"], 0.08 + 0.02)

    def test_task_and_io_sums(self):
        self.assertAlmostEqual(self.m["executor.busy_frac"], 300 / (400 * 4))
        self.assertAlmostEqual(self.m["task.cpu_s"], 0.06)
        self.assertEqual((self.m["shuffle.write_mb"], self.m["shuffle.read_mb"]), (1, 1))
        self.assertEqual((self.m["sources.read_mb"], self.m["sources.read_rows"]), (3, 10))
        self.assertEqual((self.m["sources.write_mb"], self.m["sources.write_rows"]), (1, 5))
        self.assertEqual(self.m["exec_mem.peak_mb"], 2)

    def test_streaming_probes_and_failures(self):
        self.assertEqual(self.m["streaming.triggers"], 1)
        self.assertAlmostEqual(self.m["streaming.commit_s"], 0.012)
        self.assertEqual(self.m["ingest.cached_mb_left"], 3)
        self.assertEqual((self.m["ingest.cached_rdds_left"], self.m["session.temp_views_left"],
                          self.m["session.conf_keys_added"]), (2, 1, 2))
        self.assertEqual((self.m["spark.tasks_failed"], self.m["spark.stages_retried"]), (1, 1))

    def test_per_query_attribution(self):
        self.assertAlmostEqual(self.m["q.q_a.s"], 0.3)
        self.assertEqual((self.m["q.q_a.jobs"], self.m["q.q_b.jobs"]), (2, 1))


class BenchmarkFile(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics run.py prints."""
    PATH = os.path.join(run.ROOT, "BENCHMARK.json")

    @unittest.skipUnless(os.path.exists(PATH), "no BENCHMARK.json beside perfbench/")
    def test_metric_names_and_units_agree(self):
        with open(self.PATH) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]},
                         run.per_layer_units(run.load_workloads()))
        self.assertLessEqual({w["name"] for w in bench["workloads"]}, set(run.load_workloads()))


if __name__ == "__main__":
    unittest.main()
