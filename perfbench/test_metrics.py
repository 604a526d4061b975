"""Tests of the benchmark's own arithmetic and of its declared metric names.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import metrics
import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPS = [{"wall_s": 0.1, "traced": True, "resident_mb": 1.0, "stall_s": 0.0}]


class TailRule(unittest.TestCase):
    def test_exactly_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, n = metrics.tail(xs)
        self.assertEqual(n, 100)
        self.assertEqual(value, 90)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 12.0]
        self.assertEqual(metrics.tail(xs)[0], 2.0)  # 12 samples: the 2nd smallest

    def test_too_few_samples_reports_zero_percentile(self):
        value, pct, n = metrics.tail([3.0, 1.0, 2.0])
        self.assertEqual((value, pct, n), (1.0, 0.0, 3))


class SelfTime(unittest.TestCase):
    def test_duration_minus_union_of_children(self):
        # Children overlap each other and one sticks out of the parent.
        self.assertAlmostEqual(
            metrics.self_time((0, 10), [(1, 3), (2, 4), (8, 12)]), 10 - 3 - 2)

    def test_no_children(self):
        self.assertEqual(metrics.self_time((5, 7), []), 2)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 1), (1, 2), (5, 6), (5.5, 7)]), 4)

    def test_layer_rollup(self):
        # queries span [0, 100] ms with an ext.joins child [20, 80] that ran
        # one job with one task busy over [30, 70].
        trace = {"spans": [[0, -1, "queries", "q", 0.0, 100.0, {}],
                           [1, 0, "ext.joins", "q", 20.0, 80.0, {}]],
                 "jobs": [[7, 1]],
                 "tasks": [[1, 30.0, 70.0, 40, 2000000, 0, 0, 7, 0, 0]]}
        m = metrics.layer_metrics(trace, REPS, [])
        self.assertAlmostEqual(m["queries.wall_s"], 0.1)
        self.assertAlmostEqual(m["queries.self_s"], 0.04)
        self.assertAlmostEqual(m["queries.serial_s"], 0.06)
        self.assertEqual(m["queries.jobs"], 1)
        self.assertAlmostEqual(m["ext.joins.self_s"], 0.06)
        self.assertAlmostEqual(m["ext.joins.serial_s"], 0.02)
        self.assertAlmostEqual(m["ext.joins.task_s"], 0.04)
        self.assertAlmostEqual(m["ext.joins.shuffle_write_mb"], 2.0)
        self.assertEqual(m["sources.tasks"], 0)

    def test_csv_scan_tasks_count_for_sources(self):
        # A sources span that only built the reader, and an etl.sink span
        # whose job 3 ran two tasks; one of them scanned raw CSV.
        trace = {"spans": [[0, -1, "sources", "pos_sales", 0.0, 5.0, {}],
                           [1, -1, "etl.sink", "loadFact", 10.0, 100.0, {}]],
                 "jobs": [[3, 1]],
                 "tasks": [[1, 20.0, 60.0, 40, 0, 0, 0, 3, 1500000, 1],
                           [1, 60.0, 90.0, 30, 0, 0, 0, 3, 0, 0]]}
        m = metrics.layer_metrics(trace, REPS, [])
        self.assertAlmostEqual(m["sources.wall_s"], 0.005)
        self.assertEqual(m["sources.jobs"], 1)
        self.assertEqual(m["sources.tasks"], 1)
        self.assertAlmostEqual(m["sources.task_s"], 0.04)
        self.assertAlmostEqual(m["sources.input_mb"], 1.5)
        self.assertEqual(m["etl.sink.tasks"], 2)
        self.assertAlmostEqual(m["etl.sink.task_s"], 0.07)


class TraceOverhead(unittest.TestCase):
    def test_traced_repetition_over_its_untraced_neighbours(self):
        reps = [{"traced": i % 2 == 0} for i in range(5)]
        ops = ([{"kind": "query", "rep": 0, "ms": 1000.0}]  # warm-up: never a neighbour
               + [{"kind": "query", "rep": r, "ms": ms}
                  for r, ms in ((1, 10.0), (1, 40.0), (2, 22.0), (2, 44.0),
                                (3, 5.0), (3, 20.0), (4, 1.0))]
               + [{"kind": "replay", "rep": 3, "ms": 1000.0}])
        # rep 2: geomean 31.1 over sqrt(20 * 10); rep 4 has no right neighbour
        self.assertAlmostEqual(metrics.trace_overhead(reps, ops),
                               (22 * 44) ** 0.5 / (20 * 10) ** 0.5 - 1)

    def test_no_bracketed_repetition(self):
        reps = [{"traced": i % 2 == 0} for i in range(3)]
        ops = [{"kind": "day", "rep": r, "ms": 1.0} for r in range(3)]
        self.assertEqual(metrics.trace_overhead(reps, ops), 0.0)


class DeclaredNames(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_per_layer_names_match(self):
        declared = [(m["name"], m["unit"]) for m in self.bench["per_layer"]]
        self.assertEqual(declared, metrics.per_layer_names())

    def test_end_to_end_names_match(self):
        declared = [(m["name"], m["unit"]) for m in self.bench["end_to_end"]]
        self.assertEqual(declared, list(run.END_TO_END))

    def test_workloads_match(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]], run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
