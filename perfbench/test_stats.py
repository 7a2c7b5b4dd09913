"""Unit tests for the benchmark's own arithmetic and its declared metrics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


class MedianTest(unittest.TestCase):
    def test_odd_even_and_order(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.median([5.0]), 5.0)

    def test_outlier_does_not_move_it(self):
        self.assertEqual(stats.median([1, 1, 1, 1000]), 1)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class TailTest(unittest.TestCase):
    def test_fewer_than_ten_beyond_is_unsupported(self):
        self.assertIsNone(stats.tail(list(range(10))))
        self.assertIsNone(stats.tail([]))

    def test_exactly_enough_samples(self):
        pct, value, n = stats.tail(list(range(11)))
        # rank 1 of 11 leaves ten samples beyond it
        self.assertEqual((pct, value, n), (9, 0, 11))

    def test_percentile_grows_with_samples(self):
        xs = list(range(1, 101))
        pct, value, n = stats.tail(xs)
        self.assertEqual((pct, value, n), (90, 90, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        pct, value, _ = stats.tail(list(range(1, 1001)))
        self.assertEqual((pct, value), (99, 990))

    def test_unsorted_input(self):
        xs = [5, 3, 9, 1, 7, 2, 8, 4, 6, 0, 10, 11]
        self.assertEqual(stats.tail(xs)[1], 1)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(stats.union([(5, 7), (0, 2), (1, 3), (3, 4)]), [(0, 4), (5, 7)])
        self.assertEqual(stats.length([(0, 2), (1, 3), (10, 11)]), 4)

    def test_subtract(self):
        self.assertEqual(stats.subtract([(0, 10)], [(2, 3), (5, 7)]),
                         [(0, 2), (3, 5), (7, 10)])
        self.assertEqual(stats.subtract([(0, 10)], [(-5, 20)]), [])
        self.assertEqual(stats.subtract([(0, 10)], []), [(0, 10)])

    def test_driver_gap_counts_overlapping_jobs_once(self):
        # wall 0..10; jobs 1..4 and 3..6 overlap (union 1..6) and 8..12
        # sticks out past the end (counts 8..10): gap = 10 - 5 - 2 = 3
        self.assertEqual(stats.driver_gap(0, 10, [(1, 4), (3, 6), (8, 12)]), 3)

    def test_driver_gap_without_jobs_is_wall_time(self):
        self.assertEqual(stats.driver_gap(2, 9, [(20, 30)]), 7)


class SelfTimeTest(unittest.TestCase):
    spans = [
        {"id": 0, "parent": -1, "layer": "pipeline", "t0": 0, "t1": 100},
        {"id": 1, "parent": 0, "layer": "sources", "t0": 10, "t1": 40},
        {"id": 2, "parent": 1, "layer": "state", "t0": 15, "t1": 20},
        {"id": 3, "parent": 0, "layer": "sink", "t0": 50, "t1": 90},
    ]

    def test_self_intervals_exclude_nested_children(self):
        s = stats.self_intervals(self.spans)
        self.assertEqual(s[0], [(0, 10), (40, 50), (90, 100)])
        self.assertEqual(s[1], [(10, 15), (20, 40)])
        self.assertEqual(s[2], [(15, 20)])
        self.assertEqual(s[3], [(50, 90)])

    def test_layers_and_spark_account_for_the_wall_time(self):
        jobs = [(25, 35), (30, 60), (95, 99)]
        per = stats.layer_self_times(self.spans, jobs)
        # job union 25..60 and 95..99, split by whose self time it falls in:
        # root 40..50 and 95..99, sources 25..40, sink 50..60
        self.assertEqual(per["spark"], 10 + 4 + 15 + 10)
        self.assertEqual(per, {"pipeline": 16, "sources": 10, "state": 5, "sink": 30,
                               "spark": 39})
        self.assertEqual(sum(per.values()), 100)

    def test_unspanned_is_root_time_outside_its_children(self):
        # root 0..100, children 10..40 and 50..90 (the grandchild adds nothing)
        self.assertEqual(stats.unspanned(self.spans), 30)

    def test_unspanned_needs_a_split_root(self):
        self.assertIsNone(stats.unspanned(self.spans[:1]))
        self.assertIsNone(stats.unspanned([]))


class DeclarationTest(unittest.TestCase):
    """BENCHMARK.json declares exactly the metrics run.py reports."""

    def test_metric_lists_match(self):
        import run
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]],
                         run.per_layer())
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]), sorted(run.WORKLOADS))
        self.assertLessEqual(len(bench["per_layer"]), 128)


if __name__ == "__main__":
    unittest.main()
