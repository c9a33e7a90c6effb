"""Tests of the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import random
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertEqual(metrics.percentile([5], 0.9), 5)
        self.assertAlmostEqual(metrics.percentile(list(range(11)), 0.9), 9.0)

    def test_order_of_samples_does_not_matter(self):
        xs = [3.0, 1.0, 2.0, 10.0, 4.0]
        self.assertEqual(metrics.percentile(xs, 0.5), metrics.percentile(sorted(xs), 0.5))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 0.5)

    def test_tail_never_below_median(self):
        rng = random.Random(7)
        for _ in range(500):
            xs = [rng.lognormvariate(0, 1) for _ in range(rng.randint(1, 300))]
            s = metrics.latency_summary(xs)
            self.assertGreaterEqual(metrics.percentile(xs, 0.9), s["p50_s"])
            if s["tail_s"] is not None:
                self.assertGreaterEqual(s["tail_s"], s["p50_s"])


class TailGateTest(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond_it(self):
        few = metrics.latency_summary([float(i) for i in range(20)])
        self.assertIsNone(few["tail_s"])
        self.assertEqual(few["n"], 20)
        mid = metrics.latency_summary([float(i) for i in range(50)])
        self.assertEqual(mid["tail_q"], 0.75)  # p90 has only 5 beyond it
        self.assertGreaterEqual(mid["beyond_tail"], metrics.TAIL_MIN_BEYOND)
        many = metrics.latency_summary([float(i) for i in range(200)])
        self.assertEqual(many["tail_q"], 0.9)
        self.assertAlmostEqual(many["tail_s"], metrics.percentile([float(i) for i in range(200)], 0.9))

    def test_ties_at_the_tail_are_not_beyond_it(self):
        s = metrics.latency_summary([1.0] * 150 + [2.0] * 5)
        self.assertIsNone(s["tail_s"])

    def test_tail_metric_is_named_by_its_percentile(self):
        ops = [{"type": "a", "lat_s": float(i), "cpu_s": 1.0, "ok": True} for i in range(1, 51)]
        ops += [{"type": "b", "lat_s": 1.0, "cpu_s": 1.0, "ok": True}]
        m, _ = metrics.end_to_end(_raw(ops))
        self.assertIn("a_p75_s", m)
        self.assertNotIn("a_p90_s", m)
        self.assertGreaterEqual(m["a_p75_s"]["value"], m["a_p50_s"]["value"])


class DriftTest(unittest.TestCase):
    def test_second_half_over_first_half(self):
        self.assertAlmostEqual(metrics.drift([1, 1, 1, 2, 2, 2]), 2.0)
        self.assertIsNone(metrics.drift([1, 2, 3]))

    def test_mix_drift_sums_one_sample_of_each_type_per_pass(self):
        ops = [{"type": t, "lat_s": v} for t, v in
               [("a", 1.0), ("b", 2.0), ("gc", 9.0), ("a", 2.0), ("b", 4.0)]]
        self.assertAlmostEqual(metrics.mix_drift(ops, ["a", "b"]), 6.0 / 3.0)

    def test_mix_drift_needs_two_passes(self):
        ops = [{"type": "a", "lat_s": 1.0}, {"type": "b", "lat_s": 1.0},
               {"type": "a", "lat_s": 1.0}]
        self.assertIsNone(metrics.mix_drift(ops, ["a", "b"]))


def _raw(ops, **kw):
    raw = {"ops": ops, "latency_types": ["a", "b"], "session_s": 2.0,
           "setups": [{"synth_s": 1.0, "build_s": 2.0}, {"synth_s": 1.0, "build_s": 4.0},
                      {"synth_s": 1.0, "build_s": 3.0}],
           "prepare_s": 0.25, "warmup_s": 0.5, "active_s": 4.0, "extras": {}}
    raw.update(kw)
    return raw


class EndToEndTest(unittest.TestCase):
    def test_metrics_per_type_never_mixed(self):
        ops = ([{"type": "a", "lat_s": 0.1, "cpu_s": 0.2, "ok": True}] * 5 +
               [{"type": "b", "lat_s": 0.4, "cpu_s": 0.2, "ok": True}] * 5 +
               [{"type": "gc", "lat_s": 3.0, "cpu_s": 0.9, "ok": True}])
        m, per_type = metrics.end_to_end(_raw(ops))
        self.assertAlmostEqual(m["a_p50_s"]["value"], 0.1)
        self.assertAlmostEqual(m["b_p50_s"]["value"], 0.4)
        self.assertAlmostEqual(m["setup_s"]["value"], 2.0 + 4.0 + 0.25 + 0.5)
        self.assertAlmostEqual(m["ops_per_s"]["value"], 11 / 4.0)
        self.assertAlmostEqual(m["cpu_s_per_op"]["value"], 2.9 / 11)
        self.assertEqual(m["fail_ratio"]["value"], 0.0)
        self.assertNotIn("a_p90_s", m)

    def test_failed_ops_do_not_count_as_throughput(self):
        ops = ([{"type": "a", "lat_s": 0.1, "cpu_s": 0.3, "ok": True}] * 3 +
               [{"type": "b", "lat_s": 0.1, "cpu_s": 5.0, "ok": False}])
        m, _ = metrics.end_to_end(_raw(ops))
        self.assertAlmostEqual(m["ops_per_s"]["value"], 3 / 4.0)
        self.assertAlmostEqual(m["cpu_s_per_op"]["value"], 0.3)
        self.assertAlmostEqual(m["fail_ratio"]["value"], 0.25)

    def test_a_type_without_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.end_to_end(_raw([{"type": "a", "lat_s": 0.1, "cpu_s": 0.1, "ok": True}]))


class TracingTest(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        spans = [{"id": 0, "parent": -1, "start_s": 0.0, "end_s": 1.0},
                 {"id": 1, "parent": 0, "start_s": 0.1, "end_s": 0.4},
                 {"id": 2, "parent": 0, "start_s": 0.5, "end_s": 0.6}]
        st = metrics._self_times(spans)
        self.assertAlmostEqual(st[0], 0.6)
        self.assertAlmostEqual(st[1], 0.3)

    def test_union_of_overlapping_jobs(self):
        self.assertAlmostEqual(metrics._union([(0, 1), (0.5, 2), (3, 4), (3.2, 3.5)]), 3.0)

    def test_overhead_compares_halves(self):
        ops = ([{"type": "a", "lat_s": 0.2, "traced": True}] * 2 +
               [{"type": "a", "lat_s": 0.1, "traced": False}] * 2)
        ov = metrics.tracing_overhead({"ops": ops, "latency_types": ["a"]})
        self.assertAlmostEqual(ov["overhead"], 1.0)


if __name__ == "__main__":
    unittest.main()
