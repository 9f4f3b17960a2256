"""The metric maths: median, nearest-rank p90 with its sample count,
the slowdown ratio and the geometric mean."""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


def record(walls, latencies, traced=()):
    passes, execs = [], []
    for i, w in enumerate(walls):
        label = f"p{i}"
        passes.append({"pass": label, "traced": i in traced, "wall_s": w,
                       "cpu_s": 2 * w, "jit_s": w / 2, "gc_s": 0.1, "read_rows": 1000.0,
                       "steal_frac": 0.01, "load1": 1.0,
                       "canary_s": 0.2 + 0.01 * i, "retained_mb": 100.0 + i,
                       "layers": {"spark.task_cpu_s": w,
                                  "spark.skew_sum": 3.0, "spark.skew_n": 2.0,
                                  "trace.attributed_s": 0.8 * w,
                                  "trace.query_s": w}})
        for q, lat in latencies.items():
            execs.append({"query": q, "pass": label, "s": lat[i]})
    return {"passes": passes, "executions": execs, "cores": 4,
            "setup_s": 9.0,
            "probes": {"functions.nfc_ns_row": 500.0}}


class MetricsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 2, 3]), 2.5)
        with self.assertRaises(ValueError):
            metrics.median([])

    def test_percentile_is_nearest_rank_with_its_count(self):
        xs = list(range(1, 21))
        self.assertEqual(metrics.percentile(xs, 90), (18, 20))
        self.assertEqual(metrics.percentile(xs, 100), (20, 20))
        self.assertEqual(metrics.percentile([5.0], 90), (5.0, 1))
        self.assertEqual(metrics.percentile(list(range(1, 11)), 90), (9, 10))

    def test_slowdown_is_latency_over_the_query_median(self):
        ex = [{"query": "a", "s": s} for s in (1.0, 2.0, 3.0)] + \
             [{"query": "b", "s": s} for s in (10.0, 10.0)]
        self.assertEqual(metrics.slowdowns(ex), [0.5, 1.0, 1.5, 1.0, 1.0])

    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(metrics.geomean([0.3, 5.0, 2.0]),
                               math.exp((math.log(0.3) + math.log(5.0) +
                                         math.log(2.0)) / 3))
        with self.assertRaises(ValueError):
            metrics.geomean([1.0, 0.0])

    def test_end_to_end_uses_untraced_passes(self):
        rec = record([2.0, 9.0, 3.0, 4.0],
                     {"a": [1.0, 5.0, 1.0, 2.0], "b": [0.5, 4.0, 1.0, 1.0]},
                     traced={1})
        m, extra = metrics.end_to_end(rec)
        self.assertEqual(m["pass_s"], 3.0)
        self.assertEqual(m["setup_s"], 9.0)
        self.assertAlmostEqual(m["rows_per_s"], 1000.0 / 3.0)
        self.assertAlmostEqual(m["query_geomean_s"], math.sqrt(1.0 * 1.0))
        self.assertEqual(m["retained_mb"], 103.0)
        # a: 1,1,2 (median 1); b: .5,1,1 (median 1) -> ratios sorted
        # .5,1,1,1,1,2 -> nearest-rank p90 is the 6th.
        self.assertEqual(m["query_slowdown_p90"], 2.0)
        self.assertEqual(extra, {"slowdown_samples": 6, "passes": 3})

    def test_per_layer_overhead_and_host(self):
        rec = record([2.0, 2.2, 2.0, 2.2], {"a": [1.0] * 4}, traced={1, 3})
        m = metrics.per_layer(rec)
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.1)
        self.assertAlmostEqual(m["spark.cpu_util"], 0.25)
        self.assertAlmostEqual(m["spark.process_cpu_s"], 4.4)
        self.assertAlmostEqual(m["spark.jit_s"], 1.1)
        self.assertAlmostEqual(m["spark.stage_skew"], 1.5)
        self.assertAlmostEqual(m["trace.attributed_frac"], 0.8)
        self.assertEqual(m["functions.nfc_ns_row"], 500.0)
        self.assertAlmostEqual(m["host.canary_drift"], 0.015 / 0.215)


if __name__ == "__main__":
    unittest.main()
