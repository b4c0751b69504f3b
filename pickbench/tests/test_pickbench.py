"""Tests of the benchmark's own arithmetic and generators.

    python3 -m unittest discover -s pickbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import stats  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def assert_same_files(self, workload, seed_a, seed_b, same):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            gen.write_inputs(workload, seed_a, a)
            gen.write_inputs(workload, seed_b, b)
            names = sorted(os.listdir(a))
            self.assertEqual(names, sorted(os.listdir(b)))
            for root, _, files in os.walk(a):
                for f in files:
                    pa = os.path.join(root, f)
                    pb = os.path.join(b, os.path.relpath(pa, a))
                    equal = filecmp.cmp(pa, pb, shallow=False)
                    if same:
                        self.assertTrue(equal, f"{workload}: {f} differs")
                    elif not equal:
                        return
            if not same:
                self.fail(f"{workload}: seeds {seed_a} and {seed_b} "
                          "gave identical inputs")

    def test_same_seed_gives_identical_bytes(self):
        for w in ("expand_query", "operator_mix"):
            self.assert_same_files(w, 7, 7, same=True)

    def test_other_seed_gives_other_inputs(self):
        for w in ("expand_query", "operator_mix"):
            self.assert_same_files(w, 7, 8, same=False)

    def test_starting_compounds_have_the_promised_shape(self):
        for batch in gen.starting_batches(3):
            self.assertEqual(len(batch), gen.EXPAND_BATCH_SIZE)
            self.assertEqual(len(set(batch)), len(batch))
            for s in batch:
                carbons = s.count("C")
                self.assertTrue(s.endswith("CO") or s.endswith("C(=O)O"), s)
                self.assertGreaterEqual(carbons, 3)
                self.assertTrue(set(s) <= set("CON()="), s)

    def test_requests_mix_hits_and_decoys(self):
        rows = gen.requests(5, n=50)
        self.assertEqual(len(rows), 50 * gen.PEAKS_PER_REQUEST)
        hits = sum(1 for r in rows if r[2] == "hit")
        self.assertGreater(hits / len(rows), 0.6)
        self.assertLess(hits / len(rows), 0.9)


class PercentileTest(unittest.TestCase):
    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 90)
        self.assertEqual(stats.tail_percentile(50), 80)
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertIsNone(stats.tail_percentile(10))
        for n in range(11, 300):
            p = stats.tail_percentile(n)
            rank = -(-p * n // 100)
            self.assertGreaterEqual(n - rank, 10, n)
            if p < 90:  # one percentile higher would leave fewer than 10
                self.assertLess(n - (-(-(p + 1) * n // 100)), 10, n)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)


def span(i, parent, start, end, name="x", it=0):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end,
            "name": name, "iter": it}


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_covered_child_time(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 20, 50),
                 span(4, 3, 25, 45), span(5, 0, 200, 210)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 40)  # children cover 10..50
        self.assertEqual(st[2], 20)
        self.assertEqual(st[3], 30 - 20)
        self.assertEqual(st[4], 20)
        self.assertEqual(st[5], 10)

    def test_child_outside_parent_is_clipped(self):
        st = stats.self_times([span(1, 0, 0, 10), span(2, 1, 5, 20)])
        self.assertEqual(st[1], 5)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 5), (3, 8), (10, 12)]), 10)
        self.assertEqual(stats.union_length([(0, 5), (3, 8)], 4, 6), 2)
        self.assertEqual(stats.union_length([]), 0)

    def test_driver_time_is_span_time_without_jobs(self):
        raw = {"spans": [span(1, 0, 0, 1_000_000_000, "save")],
               "listener": {
                   "jobs": [{"id": 0, "span": 1, "start_ms": 100,
                             "end_ms": 400, "stages": [0]},
                            {"id": 1, "span": 1, "start_ms": 300,
                             "end_ms": 500, "stages": [0, 1]}],
                   "stages": [{"id": 0, "tasks": 4, "task_ms": 800,
                               "max_task_ms": 300, "gc_ms": 10,
                               "shuffle_bytes": 5, "spill_bytes": 0,
                               "records_read": 7},
                              {"id": 1, "tasks": 1, "task_ms": 200,
                               "max_task_ms": 200, "gc_ms": 0,
                               "shuffle_bytes": 0, "spill_bytes": 0,
                               "records_read": 0}]}}
        c = stats.spark_counts(raw, 4, {1})
        self.assertEqual(c["jobs"], 2)
        self.assertEqual(c["stages"], 2)
        self.assertAlmostEqual(c["driver_s"], 0.6)
        self.assertAlmostEqual(c["task_s"], 1.0)
        self.assertAlmostEqual(c["core_util"], 0.25)
        self.assertAlmostEqual(c["max_task_s"], 0.3)


class EndToEndTest(unittest.TestCase):
    def test_medians_over_untraced_passes(self):
        def p(wall, ops, traced=False):
            return {"wall_s": wall, "ops": ops, "traced": traced}
        raw = {"setup_s": [9.0, 0.3, 0.2, 0.4, 0.1],
               "passes": [p(8.0, 80), p(1.0, 1, traced=True), p(5.0, 80),
                          p(4.0, 80), p(None, 0)]}
        m = stats.end_to_end(raw)
        self.assertEqual(m["setup_s"], (0.3, "s"))
        self.assertEqual(m["run_s"], (5.0, "s"))
        self.assertEqual(m["ops_per_s"], (16.0, "1/s"))


if __name__ == "__main__":
    unittest.main()
