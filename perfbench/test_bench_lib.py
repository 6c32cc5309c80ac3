"""Unit tests of the benchmark's arithmetic and of BENCHMARK.json's
agreement with run.py. Run: python3 -m unittest discover -s perfbench -p 'test_*.py'"""
import json
import os
import unittest

import bench_lib as lib

HERE = os.path.dirname(os.path.abspath(__file__))


class TailPercentileTest(unittest.TestCase):
    def test_p90_once_a_run_has_100_samples(self):
        pct, value, beyond = lib.tail_percentile(list(range(1, 101)))
        self.assertEqual((pct, value, beyond), (90.0, 90, 10))

    def test_p99_at_1000_samples(self):
        pct, value, beyond = lib.tail_percentile(list(range(1, 1001)))
        self.assertEqual((pct, value, beyond), (99.0, 990, 10))

    def test_falls_back_when_the_higher_percentile_leaves_too_few(self):
        # 99 samples: p90 leaves 9 beyond, so p75 is the highest legal one
        pct, value, beyond = lib.tail_percentile(list(range(1, 100)))
        self.assertEqual((pct, value, beyond), (75.0, 75, 24))

    def test_rule_not_met_below_the_minimum_sample_count(self):
        self.assertIsNone(lib.tail_percentile([5, 1, 3, 2, 4]))
        self.assertIsNone(lib.tail_percentile(list(range(lib.MIN_TAIL_SAMPLES - 1))))
        pct, _, beyond = lib.tail_percentile(list(range(lib.MIN_TAIL_SAMPLES)))
        self.assertEqual((pct, beyond), (75.0, 10))

    def test_order_of_samples_does_not_matter(self):
        vals = list(range(200))
        self.assertEqual(lib.tail_percentile(vals), lib.tail_percentile(vals[::-1]))


class SelfTimeTest(unittest.TestCase):
    def test_disjoint_children(self):
        self.assertEqual(lib.self_time((0, 100), [(10, 20), (30, 50)]), 70)

    def test_overlapping_children_count_once(self):
        self.assertEqual(lib.self_time((0, 100), [(10, 40), (30, 60), (55, 70)]), 40)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(lib.self_time((10, 20), [(0, 15), (18, 30)]), 3)

    def test_no_children_and_empty_children(self):
        self.assertEqual(lib.self_time((5, 9), []), 4)
        self.assertEqual(lib.self_time((5, 9), [(7, 7)]), 4)

    def test_fully_covered(self):
        self.assertEqual(lib.self_time((0, 10), [(0, 6), (6, 10)]), 0)


class RatioTest(unittest.TestCase):
    def test_core_util(self):
        # 4 slots busy for 300 of 400 slot-ms
        self.assertAlmostEqual(lib.core_util(300.0, 100.0, 4), 0.75)
        self.assertEqual(lib.core_util(10.0, 0.0, 4), 0.0)

    def test_ms_per_job(self):
        self.assertAlmostEqual(lib.ms_per_job(450.0, 9), 50.0)
        self.assertEqual(lib.ms_per_job(450.0, 0), 0.0)

    def test_quartile_spread(self):
        self.assertAlmostEqual(lib.quartile_spread([10.0] * 10), 0.0)
        self.assertGreater(lib.quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0]), 0.5)


class OrderTest(unittest.TestCase):
    QUERIES = [f"q{i:02d}" for i in range(12)]

    def test_same_seed_same_order(self):
        self.assertEqual(lib.pass_orders(self.QUERIES, 7, 5), lib.pass_orders(self.QUERIES, 7, 5))

    def test_different_seed_different_order(self):
        self.assertNotEqual(lib.pass_orders(self.QUERIES, 7, 5),
                            lib.pass_orders(self.QUERIES, 8, 5))

    def test_every_pass_is_a_permutation(self):
        for order in lib.pass_orders(self.QUERIES, 3, 4):
            self.assertEqual(sorted(order), self.QUERIES)


class ContractTest(unittest.TestCase):
    def test_benchmark_json_matches_run_py(self):
        import run
        path = os.path.join(HERE, "..", "BENCHMARK.json")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual([w["name"] for w in spec["workloads"]], run.PREPARED)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], list(run.PER_LAYER))

    def test_every_workload_collects_enough_samples_for_the_tail_rule(self):
        import run
        for name, spec in run.WORKLOADS.items():
            samples = run.min_passes(spec["queries"]) * len(spec["queries"])
            self.assertIsNotNone(lib.tail_percentile(list(range(samples))), name)


if __name__ == "__main__":
    unittest.main()
