"""Self-tests of the benchmark's pure metric logic.

Run: python3 -m unittest discover -s e2ebench -p 'test_*.py'
"""
import json
import math
import unittest

import stats


def op(query, total, error=None, p=0):
    return {"pass": p, "query": query, "build_s": total / 2,
            "exec_s": total / 2, "total_s": total, "error": error}


def counters(**kw):
    keys = ["jobs", "stages", "tasks", "task_run_ms", "task_cpu_ns", "gc_ms",
            "fetch_wait_ms", "peak_task_mem", "shuffle_bytes",
            "shuffle_records", "spill_bytes", "in_bytes", "in_records",
            "out_bytes", "out_records"]
    return {k: kw.get(k, 0) for k in keys}


def window(ops, passes=1):
    return {"ops": ops, "wall_s": sum(o["total_s"] for o in ops),
            "passes": [{"pass": i, "wall_s": 1.0, "held_mb": 2.0 * i,
                        "live_heap_mb": 100.0 + i} for i in range(passes)],
            "build": counters(jobs=3), "exec": counters(jobs=5, tasks=40,
                                                        shuffle_bytes=4e6),
            "plan_ms": 100, "jit_ms": 50, "gc_ms": 20, "codegen_count": 2,
            "codegen_ms": 30.0, "held_op_max_mb": 1.5}


class TailRule(unittest.TestCase):
    def test_hundred_samples_give_p90(self):
        value, pct, n = stats.tail([float(i) for i in range(1, 101)])
        self.assertEqual((value, pct, n), (90.0, 90.0, 100))

    def test_ten_samples_stay_beyond_the_reported_value(self):
        lat = [float(i) for i in range(37)]
        value, pct, n = stats.tail(lat)
        self.assertEqual(sum(1 for x in lat if x > value), 10)
        self.assertAlmostEqual(pct, 100.0 * 27 / 37)
        self.assertEqual(n, 37)

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail([1.0] * 10))
        self.assertIsNotNone(stats.tail([1.0] * 11))

    def test_order_does_not_matter(self):
        self.assertEqual(stats.tail([5.0, 1.0, 3.0] * 5),
                         stats.tail(sorted([5.0, 1.0, 3.0] * 5)))


class PerQueryMedian(unittest.TestCase):
    def test_each_query_counts_once(self):
        # q_fast ran 9 of 15 times, so the pooled median is its latency
        # (1.0); the median of the three per-query medians is q_mid's.
        ops = [op("q_fast", 1.0)] * 9 + [op("q_slow", 5.0)] * 3 + \
              [op("q_mid", 3.0)] * 3
        self.assertEqual(stats.per_query_median_p50(ops, set()), 3.0)

    def test_median_within_a_query(self):
        ops = [op("a", 1.0), op("a", 2.0), op("a", 30.0),
               op("b", 4.0), op("b", 4.0), op("b", 4.0)]
        self.assertEqual(stats.per_query_median_p50(ops, set()), 3.0)

    def test_failed_op_ranks_slowest(self):
        ops = [op("a", 1.0), op("a", 1.0, error="boom"), op("a", 1.0, error="x")]
        self.assertTrue(math.isinf(stats.per_query_median_p50(ops, set())))


class FailedAccounting(unittest.TestCase):
    def test_thrown_and_mismatched_each_count_once(self):
        ops = [op("a", 1.0), op("a", 1.0, error="boom"),
               op("b", 1.0), op("b", 1.0), op("c", 1.0)]
        # "b" failed the result check: both of its ops fail; the op of "a"
        # that threw fails; nothing is rerun or dropped.
        self.assertEqual(stats.failed_ops(ops, {"b"}), 3)
        m = stats.end_to_end(10.0, window(ops), {"b"})
        self.assertAlmostEqual(m["ok_frac"][0], 2 / 5)

    def test_no_failures(self):
        ops = [op("a", 1.0)] * 4
        self.assertEqual(stats.failed_ops(ops, set()), 0)
        self.assertEqual(stats.end_to_end(1.0, window(ops), set())["ok_frac"][0], 1.0)

    def test_latency_on_a_failure_is_capped_at_the_wall(self):
        ops = [op("a", 1.0, error="boom")] * 3
        m = stats.end_to_end(1.0, window(ops), set())
        self.assertEqual(m["op_p50_s"][0], 3.0)


class Printing(unittest.TestCase):
    END_TO_END = {"setup_s", "ops_per_s", "op_p50_s", "ok_frac", "shuffle_mb"}

    def test_every_end_to_end_metric_has_name_and_unit(self):
        ops = [op("q%d" % (i % 4), 1.0 + i / 10, p=i // 4) for i in range(24)]
        m = stats.end_to_end(3.0, window(ops, passes=6), set())
        line = json.loads(json.dumps(stats.result_line(True, 24, 0, m)))
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(line["metrics"]), self.END_TO_END)
        for v in line["metrics"].values():
            self.assertEqual(set(v), {"value", "unit"})
            self.assertIsInstance(v["value"], float)
            self.assertTrue(v["unit"])

    def test_every_per_layer_metric_has_name_and_unit(self):
        ops = [op("q%d" % (i % 4), 1.0) for i in range(8)]
        m = stats.per_layer(window(ops, passes=2), cores=4, overhead_frac=0.02)
        self.assertEqual(len(m), 27)
        for name, (value, unit) in m.items():
            self.assertRegex(name, r"^[a-z]+\.[a-z_]+$")
            self.assertTrue(unit)
            self.assertFalse(math.isnan(value))
        self.assertEqual(m["entry.jobs"][0], 1.5)
        self.assertEqual(m["exec.tasks"][0], 20.0)
        self.assertEqual(m["materialize.held_mb"][0], 2.0)
        self.assertEqual(m["jvm.live_heap_mb"][0], 101.0)

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([1.0] * 10), 0.0)
        vals = [9.0, 10.0, 10.0, 10.0, 11.0, 9.0, 10.0, 10.0, 10.0, 11.0]
        q1, q2, q3 = __import__("statistics").quantiles(vals, n=4)
        self.assertAlmostEqual(stats.spread(vals), (q3 - q1) / q2)


if __name__ == "__main__":
    unittest.main()
