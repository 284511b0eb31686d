#!/usr/bin/env python3
"""Self-tests of the benchmark's own logic (no Spark needed).

Usage: python3 perfbench/selftest.py
"""
import contextlib
import io
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertFalse(run.reportable(99, 0.9))
        self.assertTrue(run.reportable(100, 0.9))
        self.assertTrue(run.reportable(20, 0.5))

    def test_summary_states_count_and_omits_thin_p90(self):
        s = run.latency_summary([float(i) for i in range(99)])
        self.assertEqual(s["n"], 99)
        self.assertEqual(s["p50"], 49.0)
        self.assertNotIn("p90", s)
        s = run.latency_summary([float(i) for i in range(101)], 1e3)
        self.assertEqual(s["n"], 101)
        self.assertAlmostEqual(s["p90"], 90.0 * 1e3)

    def test_percentile_interpolates(self):
        self.assertEqual(run.percentile([4.0, 1.0, 3.0, 2.0], 0.5), 2.5)
        self.assertEqual(run.percentile([5.0], 0.9), 5.0)


class SpanSelfTime(unittest.TestCase):
    def span(self, key, parent, start, end):
        return {"key": key, "parent": parent, "name": key, "op": "p1.0",
                "start": start, "end": end}

    def test_self_time_is_duration_minus_child_coverage(self):
        spans = [self.span("q", "", 0, 10_000),
                 self.span("a", "q", 1_000, 3_000),
                 self.span("b", "q", 2_000, 5_000),   # overlaps a
                 self.span("c", "q", 8_000, 12_000),  # runs past q
                 self.span("d", "a", 1_500, 2_500)]
        st = run.self_times(spans)
        self.assertAlmostEqual(st["q"], 4.0)  # 10 s - [1,5] - [8,10]
        self.assertAlmostEqual(st["a"], 1.0)
        self.assertAlmostEqual(st["d"], 1.0)
        self.assertAlmostEqual(st["c"], 4.0)


    def test_orphan_job_is_adopted_by_the_enclosing_span(self):
        spans = [self.span("q", "", 0, 10_000),
                 self.span("b1", "q", 0, 4_000),
                 self.span("b2", "q", 4_000, 10_000),
                 dict(self.span("job:7", "q/exec", 5_000, 6_000), name="job")]
        run.adopt_orphans(spans)
        self.assertEqual(spans[3]["parent"], "b2")
        self.assertAlmostEqual(run.self_times(spans)["b2"], 5.0)


class SeededInputs(unittest.TestCase):
    queries = [f"q{i}" for i in range(20)]

    def test_query_order_is_deterministic(self):
        a = run.pass_orders(self.queries, "w", 7, n=5)
        self.assertEqual(a, run.pass_orders(self.queries, "w", 7, n=5))
        self.assertNotEqual(a, run.pass_orders(self.queries, "w", 8, n=5))
        for order in a:
            self.assertEqual(sorted(order), sorted(self.queries))

    def test_chunks_are_deterministic_and_jittered(self):
        a = run.chunk_sizes(10, 1_000, "stream", 3)
        self.assertEqual(a, run.chunk_sizes(10, 1_000, "stream", 3))
        self.assertNotEqual(a, run.chunk_sizes(10, 1_000, "stream", 4))
        self.assertEqual(len(a), 10)
        self.assertTrue(all(750 <= n <= 1250 for n in a))


class Passes(unittest.TestCase):
    def test_untraced_passes_skip_the_cold_and_the_traced_ones(self):
        run_rec = {"pass_s": [1.0] * 6}
        plain = [{"pass": p, "traced": False} for p in range(6)]
        self.assertEqual(run.untraced_passes(run_rec, plain), [1, 2, 3, 4, 5])
        alternating = [{"pass": p, "traced": p % 2 == 1} for p in range(6)]
        self.assertEqual(run.untraced_passes(run_rec, alternating), [2, 4])


class FailedOperations(unittest.TestCase):
    def test_throwing_query_is_failed_and_untimed(self):
        plan = {"kind": "batch", "workload": "w", "seed": 1, "check": ["a", "b"]}
        ops = [
            {"op": "p0.0", "query": "a", "pass": 0, "traced": False, "status": "ok",
             "build_s": 1.0, "plan_s": 0.0, "exec_s": 1.0, "cpu_s": 3.0},
            {"op": "p1.0", "query": "a", "pass": 1, "traced": False, "status": "ok",
             "build_s": 0.5, "plan_s": 0.0, "exec_s": 0.5, "cpu_s": 2.0},
            # what the harness records for a query that threw: no times
            {"op": "p1.1", "query": "b", "pass": 1, "traced": False, "status": "failed",
             "error": "boom"},
        ]
        ops = run.normalise(plan, ops)
        self.assertIsNone(ops[2]["latency"])
        self.assertEqual(run.timed_samples(ops), [2.0, 1.0])
        r = {"pass_s": [2.0, 1.0], "pass_cpu_s": [3.0, 2.0], "setups_s": [5.0, 4.0, 6.0],
             "setups_cpu_s": [9.0, 7.0, 8.0], "host_steal_s": 0.0}
        e2e = run.end_to_end(r, ops)
        self.assertEqual(e2e, {"setup_s": 8.0, "first_pass_cpu_s": 3.0, "run_cpu_s": 5.0})
        s = run.summary(plan, r, ops, n_failed_checks=0)
        self.assertEqual(s["query_s"]["n"], 1)
        self.assertAlmostEqual(s["failed_ratio"], 1 / 5)


class HarnessFaults(unittest.TestCase):
    def test_missing_test_data_exits_nonzero_without_a_result(self):
        out = io.StringIO()
        with contextlib.redirect_stdout(out), contextlib.redirect_stderr(io.StringIO()):
            rc = run.main(["--workload", "interactive", "--seed", "1",
                           "--seconds", "1", "--sf-dir", "/nonexistent/sf"])
        self.assertNotEqual(rc, 0)
        self.assertEqual(out.getvalue(), "")


if __name__ == "__main__":
    unittest.main()
