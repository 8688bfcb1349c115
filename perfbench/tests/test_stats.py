"""Tests of the benchmark's arithmetic and of BENCHMARK.json's names.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_value_comes_with_its_sample_count(self):
        self.assertEqual(stats.percentile([3.0, 1.0, 2.0], 0.5), (2.0, 3))

    def test_interpolates_between_closest_ranks(self):
        xs = [10.0, 20.0, 30.0, 40.0]
        self.assertAlmostEqual(stats.percentile(xs, 0.5)[0], 25.0)
        self.assertAlmostEqual(stats.percentile(xs, 0.9)[0], 37.0)
        self.assertEqual(stats.percentile(xs, 0.0)[0], 10.0)
        self.assertEqual(stats.percentile(xs, 1.0)[0], 40.0)

    def test_single_and_empty_samples(self):
        self.assertEqual(stats.percentile([5.0], 0.9), (5.0, 1))
        self.assertEqual(stats.percentile([], 0.5), (None, 0))


class UnionTest(unittest.TestCase):
    def test_overlaps_count_once(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)

    def test_nested_and_touching_intervals(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_clipped_to_the_window(self):
        self.assertEqual(stats.union_length([(-5, 5), (8, 30)], lo=0, hi=10), 7)
        self.assertEqual(stats.union_length([(20, 30)], lo=0, hi=10), 0)

    def test_empty(self):
        self.assertEqual(stats.union_length([]), 0)

    def test_driver_gap_is_wall_minus_job_union(self):
        op = {"name": "q", "t0": 0.0, "t1": 400.0, "t2": 500.0, "t3": 1000.0,
              "files": 0, "meta_files": 0, "bytes": 0, "codegen_compiles": 7}
        job = dict(stages=1, tasks=4, busy_tasks=2, task_wall_ms=800, run_ms=700, cpu_ns=5e8,
                   gc_ms=10, input_bytes=stats.MB, shuffle_read_bytes=0, shuffle_write_bytes=0,
                   spill_bytes=0)
        jobs = [dict(job, id=1, start_ms=100.0, end_ms=300.0),   # in the body
                dict(job, id=2, start_ms=600.0, end_ms=900.0),   # in the action
                dict(job, id=3, start_ms=700.0, end_ms=950.0)]   # overlaps job 2
        m, tree = stats.op_layers(op, jobs, [], cpus=4)
        self.assertAlmostEqual(m["spark.job_s"], 0.55)
        self.assertAlmostEqual(m["spark.driver_gap_s"], 0.45)
        self.assertAlmostEqual(m["spark.job_frac"], 0.55)
        self.assertEqual((m["entry.body_jobs"], m["exec.action_jobs"], m["spark.jobs"]), (1, 2, 3))
        self.assertAlmostEqual(m["spark.busy_task_frac"], 0.5)
        self.assertEqual(m["codegen.compiles"], 7)
        self.assertAlmostEqual(m["spark.slot_util"], 2.4 / 4)
        self.assertAlmostEqual(tree["children"]["body"]["self_ms"], 200.0)
        self.assertAlmostEqual(tree["children"]["action"]["self_ms"], 150.0)


class SelfTimeTest(unittest.TestCase):
    def test_span_minus_union_of_children(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 30), (20, 40), (90, 120)]), 60)

    def test_no_children(self):
        self.assertEqual(stats.self_time((5, 9), []), 4)

    def test_children_cover_the_span(self):
        self.assertEqual(stats.self_time((0, 10), [(-1, 11)]), 0)


class NamesTest(unittest.TestCase):
    def test_grammar(self):
        for ok in ("pass_s", "spark.job_s", "trace.overhead", "a-1", "0x"):
            self.assertTrue(stats.valid_name(ok), ok)
        for bad in ("", "_x", ".x", "a b", "a/b", "x" * 65, "é"):
            self.assertFalse(stats.valid_name(bad), bad)

    def test_benchmark_json_names_and_units(self):
        spec = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())
        names = [w["name"] for w in spec["workloads"]]
        names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.valid_name(n), n)
        # every per-layer metric the runner reports is declared, and back
        per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
        import run
        reported = dict(stats.LAYER_UNITS, **run.EXTRA_UNITS)
        self.assertEqual(per_layer, reported)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.E2E_UNITS)
        self.assertEqual(tuple(names[:len(spec["workloads"])]), run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
