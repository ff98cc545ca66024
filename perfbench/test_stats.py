"""Unit tests of the benchmark's own helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import statistics
import subprocess
import unittest

import build
import stats


class Percentile(unittest.TestCase):
    def test_matches_inclusive_quantiles(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0]
        qs = statistics.quantiles(xs, n=10, method="inclusive")
        for i, q in enumerate(qs, start=1):
            self.assertAlmostEqual(stats.percentile(xs, i / 10), q)
        self.assertEqual(stats.percentile(xs, 0.5), statistics.median(xs))
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 1), 9.0)

    def test_no_values(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)

    def test_sample_count_rule(self):
        # a percentile needs ten samples beyond it
        self.assertTrue(stats.reportable(100, 0.9))
        self.assertFalse(stats.reportable(99, 0.9))
        self.assertTrue(stats.reportable(20, 0.5))
        self.assertFalse(stats.reportable(19, 0.5))
        self.assertTrue(stats.reportable(1000, 0.99))
        self.assertFalse(stats.reportable(999, 0.99))
        self.assertEqual(stats.samples_beyond(100, 0.9), 10)


class IntervalUnion(unittest.TestCase):
    def test_overlap_nesting_and_gaps(self):
        self.assertEqual(stats.interval_union([]), 0)
        self.assertEqual(stats.interval_union([(0, 10), (5, 15)]), 15)
        self.assertEqual(stats.interval_union([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.interval_union([(20, 30), (0, 10)]), 20)
        self.assertEqual(stats.interval_union([(0, 10), (10, 20)]), 20)

    def test_clipping(self):
        self.assertEqual(stats.interval_union([(0, 10), (20, 30)], 5, 25), 10)
        self.assertEqual(stats.interval_union([(0, 10)], 20, 30), 0)

    def test_driver_gap(self):
        # an op of 100 with three stages, two of them concurrent
        stages = [(10, 40), (30, 50), (70, 80)]
        self.assertEqual(100 - stats.interval_union(stages, 0, 100), 50)


class SelfTime(unittest.TestCase):
    def test_children_cover_part_of_parent(self):
        spans = [
            {"id": 0, "parent": -1, "name": "op", "start": 0, "end": 100},
            {"id": 1, "parent": 0, "name": "execute", "start": 10, "end": 50},
            {"id": 2, "parent": 0, "name": "execute", "start": 40, "end": 70},
            {"id": 3, "parent": 1, "name": "job", "start": 20, "end": 30},
        ]
        self.assertEqual(stats.self_times(spans),
                         {"op": 40, "execute": 30 + 30, "job": 10})

    def test_child_outside_parent_is_clipped(self):
        spans = [
            {"id": 0, "parent": -1, "name": "op", "start": 0, "end": 10},
            {"id": 1, "parent": 0, "name": "job", "start": 5, "end": 20},
        ]
        self.assertEqual(stats.self_times(spans)["op"], 5)

    def test_listener_spans_hang_under_deepest_open_span(self):
        ms = 1_000_000
        spans = [
            {"id": 0, "parent": -1, "op": 7, "name": "op", "start": 0, "end": 100 * ms},
            {"id": 1, "parent": 0, "op": 7, "name": "plan", "start": 0, "end": 10 * ms},
            {"id": 2, "parent": 0, "op": 7, "name": "execute", "start": 10 * ms, "end": 100 * ms},
        ]
        jobs = [{"op": 7, "jobId": 3, "start": 20, "end": 60}]
        stages = [{"op": 7, "jobId": 3, "stageId": 5, "start": 25, "end": 55}]
        linked = stats.link_listener_spans(spans, jobs, stages)
        job, stage = linked
        self.assertEqual((job["name"], job["parent"]), ("job", 2))
        self.assertEqual((stage["name"], stage["parent"]), ("stage", job["id"]))
        self.assertEqual(stats.self_times(spans + linked)["job"], 10 * ms)


class Slope(unittest.TestCase):
    def test_slope(self):
        self.assertAlmostEqual(stats.slope([1, 2, 3], [10, 12, 14]), 2)
        self.assertEqual(stats.slope([2, 2], [1, 5]), 0.0)


class MedianPass(unittest.TestCase):
    def test_one_slow_op_per_kind_does_not_move_it(self):
        ms = 1_000_000
        def op(kind, rows, dur):
            return {"kind": kind, "rows": rows, "start": 0, "end": dur * ms}
        ops = [op("a", 100, 10), op("a", 100, 10), op("a", 100, 90),
               op("b", 300, 30), op("b", 300, 30), op("b", 300, 30)]
        # one pass: 100 + 300 rows in 10 + 30 ms
        self.assertAlmostEqual(stats.median_pass_rows_per_s(ops), 10_000)
        self.assertEqual(stats.median_pass_rows_per_s([]), 0.0)

    def test_machine_slowdown_cancels_at_nominal_speed(self):
        ms = 1_000_000
        ref = stats.NOMINAL_REF_MS
        def op(kind, dur, ref_ms):
            return {"kind": kind, "rows": 100, "start": 0, "end": dur * ms, "ref_ms": ref_ms}
        calm = [op("a", 10, ref), op("b", 40, ref)]
        slow = [op("a", 15, 1.5 * ref), op("b", 60, 1.5 * ref)]
        for f in (stats.kind_median_geomean, stats.median_pass_rows_per_s):
            self.assertAlmostEqual(f(calm, stats.norm_ms), f(slow, stats.norm_ms))
            self.assertAlmostEqual(f(calm, stats.norm_ms), f(calm))
        self.assertAlmostEqual(stats.kind_median_geomean(calm), 20.0)


class Checksum(unittest.TestCase):
    def test_scala_summary(self):
        cp = build.build()
        r = subprocess.run(["java"] + build.jvm_base_flags() + ["-cp", cp, "perfbench.ChecksumTest"],
                           capture_output=True, text=True)
        self.assertEqual(r.returncode, 0, r.stderr)


if __name__ == "__main__":
    unittest.main()
