"""Tests of the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import statistics
import unittest

import metrics


class GeomeanTest(unittest.TestCase):
    def test_known_values(self):
        self.assertAlmostEqual(metrics.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(metrics.geomean([0.5, 2.0, 1.0]), 1.0)
        self.assertAlmostEqual(metrics.geomean([3.0]), 3.0)

    def test_weights_every_value_equally(self):
        # Scaling one op by k scales the mean by k**(1/n), whichever op it is.
        base = [0.2, 0.4, 3.0]
        for i in range(3):
            scaled = list(base)
            scaled[i] *= 8
            self.assertAlmostEqual(metrics.geomean(scaled) / metrics.geomean(base), 2.0)

    def test_rejects_non_positive(self):
        for bad in ([], [1.0, 0.0], [-1.0]):
            with self.assertRaises(ValueError):
                metrics.geomean(bad)


class IntervalUnionTest(unittest.TestCase):
    def test_disjoint_overlapping_nested_and_touching(self):
        self.assertEqual(metrics.interval_union([]), 0)
        self.assertEqual(metrics.interval_union([[0, 10]]), 10)
        self.assertEqual(metrics.interval_union([[0, 10], [20, 25]]), 15)
        self.assertEqual(metrics.interval_union([[0, 10], [5, 15]]), 15)
        self.assertEqual(metrics.interval_union([[0, 10], [2, 3]]), 10)
        self.assertEqual(metrics.interval_union([[0, 10], [10, 12]]), 12)

    def test_order_does_not_matter(self):
        iv = [[30, 40], [0, 10], [35, 50], [5, 8], [60, 61]]
        self.assertEqual(metrics.interval_union(iv), 10 + 20 + 1)
        self.assertEqual(metrics.interval_union(list(reversed(iv))), 31)


class MaxTaskShareTest(unittest.TestCase):
    def test_values(self):
        self.assertEqual(metrics.max_task_share(10, 10), 1.0)
        self.assertEqual(metrics.max_task_share(25, 100), 0.25)
        self.assertIsNone(metrics.max_task_share(0, 0))


class QuartilesTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        v = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
        self.assertEqual(list(metrics.quartiles(v)), statistics.quantiles(v, n=4))
        q1, q2, q3 = metrics.quartiles(v)
        self.assertEqual(q2, 5.5)
        self.assertAlmostEqual(metrics.iqr_share(v), (q3 - q1) / 5.5)

    def test_constant_values_have_no_spread(self):
        self.assertEqual(metrics.iqr_share([2.0] * 10), 0.0)


def _out():
    """A harness output with two plain and two traced passes over ops a, b."""
    def rec(tag, wall, build, intervals, **c):
        return {"tag": tag, "wall_s": wall, "build_s": build, "jobs": intervals,
                "c": c}
    return {
        "setup_done_ms": 105_000.0,
        "vm_hwm_kb": 2048.0 * 1024,
        "memo_cached_mb": 3.5,
        "memo_build_s": {"shared.vecs": 0.25},
        "tables_resolve_ms": {"region": 2.0, "lineitem": 4.0},
        "passes": [
            {"kind": "plain", "wall_s": 3.0, "execs": [
                {"op": "a", "s": 1.0, "build_s": 0.1, "ok": True},
                {"op": "b", "s": 2.0, "build_s": 0.2, "ok": True}]},
            {"kind": "plain", "wall_s": 5.0, "execs": [
                {"op": "b", "s": 4.0, "build_s": 0.2, "ok": True},
                {"op": "a", "s": 1.0, "build_s": 0.1, "ok": True}]},
            {"kind": "traced", "wall_s": 4.4, "execs": []},
            {"kind": "traced", "wall_s": 4.4, "execs": []},
        ],
        "trace": [
            rec("pass1/a", 1.0, 0.1, [[0, 300], [200, 500]], jobs=2, tasks=4,
                task_max_ms=50, task_sum_ms=100, scan_rows=100, scan_bytes=1000),
            rec("pass1/b", 2.0, 0.2, [[0, 1000]], jobs=1, tasks=1,
                task_max_ms=80, task_sum_ms=80, write_bytes=500),
            rec("pass2/a", 1.0, 0.1, [[0, 400]], jobs=1, tasks=2,
                task_max_ms=30, task_sum_ms=60, scan_rows=100, scan_bytes=1000),
            rec("pass2/b", 2.0, 0.2, [], jobs=0, tasks=0),
        ],
    }


class EndToEndTest(unittest.TestCase):
    def test_metrics(self):
        m = metrics.end_to_end(_out(), launch_s=100.0)
        self.assertAlmostEqual(m["setup_s"], 5.0)
        self.assertEqual(m["batch_s"], 4.0)
        # per-op medians: a = 1.0, b = 3.0
        self.assertAlmostEqual(m["geomean_op_s"], math.sqrt(3.0))
        self.assertEqual(m["op_p50_s"], 1.5)
        self.assertEqual(m["peak_rss_mb"], 2048.0)


class PerLayerTest(unittest.TestCase):
    def test_metrics_are_per_traced_pass(self):
        m = metrics.per_layer(_out(), {"a": 50, "b": 0})
        self.assertEqual(m["exec.jobs"], 2.0)
        self.assertEqual(m["exec.tasks"], 3.5)
        self.assertAlmostEqual(m["ops.build_ms"], 300.0)
        # op wall minus job cover: a 1000-500, b 2000-1000, a 1000-400, b 2000-0
        self.assertAlmostEqual(m["exec.driver_only_ms"], (500 + 1000 + 600 + 2000) / 2)
        # shares 0.5, 1.0, 0.5 (b's second run had no tasks)
        self.assertEqual(m["exec.max_task_share"], 0.5)
        self.assertEqual(m["scan.rows_per_out_row"], 2.0)
        self.assertEqual(m["write.amplification"], 0.25)
        self.assertAlmostEqual(m["trace.overhead"], 4.4 / 4.0)
        self.assertEqual(m["tables.resolve_ms"], 3.0)
        self.assertEqual(m["memo.build_s.shared.vecs"], 0.25)
        self.assertEqual(m["memo.build_s.bpe.trained"], 0.0)
        self.assertEqual(m["memo.cached_mb"], 3.5)


if __name__ == "__main__":
    unittest.main()
