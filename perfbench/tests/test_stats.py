"""Tests for the benchmark's own arithmetic and metric definitions.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        t = stats.tail(range(100))
        self.assertEqual((t["q"], t["value"], t["n"], t["beyond"]), (90.0, 89, 100, 10))

    def test_one_sample_short_falls_back_to_a_lower_percentile(self):
        t = stats.tail(range(99))
        self.assertEqual(t["q"], 75.0)
        self.assertGreaterEqual(t["beyond"], stats.MIN_BEYOND)

    def test_thousand_samples_support_p99(self):
        t = stats.tail(range(1000))
        self.assertEqual((t["q"], t["beyond"], t["n"]), (99.0, 10, 1000))

    def test_too_few_samples_report_no_tail(self):
        self.assertIsNone(stats.tail(range(19)))
        self.assertIsNone(stats.tail([]))

    def test_order_of_samples_does_not_matter(self):
        self.assertEqual(stats.tail(list(range(200))[::-1]), stats.tail(range(200)))


class IntervalUnion(unittest.TestCase):
    # four marts of one pipeline pass running on the DAG's pool of four:
    # their jobs overlap, so the time inside jobs is the union, not the sum
    DAG_POOL_JOBS = [(100.0, 400.0), (120.0, 380.0), (150.0, 500.0), (160.0, 300.0),
                     (520.0, 560.0)]

    def test_overlapping_jobs_count_once(self):
        self.assertEqual(stats.union_length(self.DAG_POOL_JOBS), 400.0 + 40.0)
        self.assertLess(stats.union_length(self.DAG_POOL_JOBS),
                        sum(e - s for s, e in self.DAG_POOL_JOBS))

    def test_disjoint_nested_and_empty(self):
        self.assertEqual(stats.union_length([(0, 1), (2, 3)]), 2)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(5, 5)]), 0)

    def test_jobs_are_attributed_to_the_operation_window(self):
        raw = {"stages": [], "jobs": [
            {"id": i, "start": s, "end": e, "stages": []}
            for i, (s, e) in enumerate(self.DAG_POOL_JOBS + [(900.0, 950.0)])]}
        op = {"start": 90.0, "end": 600.0}
        (a,) = run.attribute(raw, [op])
        self.assertEqual(a["jobs"], 5)
        self.assertEqual(a["job_ms"], 440.0)
        self.assertEqual(a["gap_ms"], 510.0 - 440.0)


class SelfTime(unittest.TestCase):
    def span(self, id, parent, start, end, name="s"):
        return {"id": id, "parent": parent, "start": start, "end": end, "name": name}

    def test_concurrent_children_are_subtracted_once(self):
        parent = self.span(1, 0, 0.0, 20.0)
        spans = [parent,
                 self.span(2, 1, 1.0, 5.0), self.span(3, 1, 2.0, 8.0),   # overlap: 1..8
                 self.span(4, 1, 10.0, 12.0), self.span(5, 1, 11.0, 14.0),  # overlap: 10..14
                 self.span(6, 3, 3.0, 7.0)]  # a grandchild is not a child
        self.assertEqual(stats.self_time(parent, spans), 20.0 - 7.0 - 4.0)

    def test_children_outside_the_parent_are_clipped(self):
        parent = self.span(1, 0, 10.0, 20.0)
        spans = [parent, self.span(2, 1, 5.0, 12.0), self.span(3, 1, 18.0, 30.0)]
        self.assertEqual(stats.self_time(parent, spans), 10.0 - 2.0 - 2.0)

    def test_leaf_self_time_is_its_duration(self):
        leaf = self.span(1, 0, 3.0, 4.5)
        self.assertEqual(stats.self_time(leaf, [leaf]), 1.5)


class Ratios(unittest.TestCase):
    def test_ratio_carries_its_base(self):
        self.assertEqual(stats.ratio(3, 4), {"value": 0.75, "num": 3, "den": 4})

    def test_empty_base_is_zero_not_an_error(self):
        self.assertEqual(stats.ratio(0, 0)["value"], 0.0)


class RunMetrics(unittest.TestCase):
    def op(self, start, end, trace=0, burst=0, kind="k"):
        return {"start": start, "end": end, "trace": trace, "kind": kind,
                "extra": {"burst": burst}}

    def test_throughput_leaves_out_time_between_operations(self):
        # two 500 ms operations with a 4 s check between them
        ops = [self.op(0.0, 500.0), self.op(4500.0, 5000.0)]
        self.assertEqual(run.throughput(ops), 2.0)
        self.assertEqual(run.throughput([]), 0.0)

    def test_coverage_counts_only_top_level_spans_of_the_operation(self):
        op = self.op(0.0, 100.0, trace=7)
        spans = [{"trace": 7, "parent": 0, "start": 10.0, "end": 50.0},
                 {"trace": 7, "parent": 0, "start": 40.0, "end": 70.0},   # overlaps
                 {"trace": 7, "parent": 3, "start": 0.0, "end": 100.0},   # nested
                 {"trace": 8, "parent": 0, "start": 0.0, "end": 100.0}]   # another op
        self.assertAlmostEqual(run.coverage(op, spans), 0.6)

    def test_halves_split_by_burst_so_both_hold_the_same_kinds(self):
        ops = [self.op(0, 1, burst=b, kind=k) for b in (3, 4, 5, 6, 7) for k in ("a", "b")]
        first, second = run.halves(ops)
        self.assertEqual(sorted(o["extra"]["burst"] for o in first), [3, 3, 4, 4])
        self.assertEqual(sorted(o["extra"]["burst"] for o in second), [6, 6, 7, 7])
        self.assertEqual(sorted(o["kind"] for o in first), sorted(o["kind"] for o in second))


class MetricDefinitions(unittest.TestCase):
    NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

    def test_names_and_units_are_well_formed_and_unique(self):
        names = [n for n, _ in run.END_TO_END] + [n for n, _, _ in run.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, self.NAME)
        for _, u in run.END_TO_END:
            self.assertRegex(u, self.UNIT)
        for _, u, b in run.PER_LAYER:
            self.assertRegex(u, self.UNIT)
            self.assertIn(b, ("lower", "higher"))
        self.assertLessEqual(len(run.PER_LAYER), 128)

    def test_benchmark_json_matches_the_runner(self):
        path = os.path.join(run.ROOT, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json next to the benchmark")
        spec = json.load(open(path))
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
                         run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
