"""Checks of the benchmark's own arithmetic on synthetic inputs.

Run: python3 perfbench/test_stats.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import compare  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(99), 75)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(10000), 99.9)


class DriverGap(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(5, 6), (0, 10)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_gap_is_wall_minus_task_union(self):
        # 10 ms of wall; tasks cover [1,4] and [3,6] (5 ms) and [8,9]
        self.assertEqual(stats.driver_gap(0, 10, [(1, 4), (3, 6), (8, 9)]), 4)

    def test_tasks_outside_the_window_are_clipped(self):
        self.assertEqual(stats.driver_gap(10, 20, [(5, 12), (18, 30)]), 6)
        self.assertEqual(stats.driver_gap(10, 20, []), 10)


class PairWins(unittest.TestCase):
    def test_ties_count_for_neither(self):
        parent = [10, 10, 10, 10]
        change = [9, 10, 11, 8]
        self.assertEqual(stats.pair_wins(parent, change, "lower"), 0.5)
        self.assertEqual(stats.pair_wins(parent, change, "higher"), 0.25)

    def test_verdicts(self):
        parent = [10.0, 10.1, 9.9, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0, 10.05]
        faster = [x * 0.8 for x in parent]
        slower = [x * 1.2 for x in parent]
        same = list(reversed(parent))
        self.assertEqual(stats.verdict(parent, faster, "lower", 0.05), "improved")
        self.assertEqual(stats.verdict(parent, slower, "lower", 0.05), "worse")
        self.assertEqual(stats.verdict(parent, same, "lower", 0.05), "unchanged")
        self.assertEqual(stats.verdict(parent, faster, "higher", 0.05), "worse")
        noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        self.assertEqual(stats.verdict(noisy, noisy[::-1], "lower", 0.05),
                         "unresolved")
        # no gain on fewer than ten pairs, or when more operations fail
        self.assertEqual(stats.verdict(parent[:9], faster[:9], "lower", 0.05),
                         "unresolved")
        self.assertEqual(stats.verdict(parent, faster, "lower", 0.05,
                                       more_failures=True), "unresolved")

    def test_compare_counts_failed_operations_per_workload(self):
        runs = [{"workload": "a", "seed": 1, "failed": 2},
                {"workload": "a", "seed": 2, "failed": 1},
                {"workload": "b", "seed": 1, "failed": 5}]
        self.assertEqual(compare.failed_ops(runs, "a", {1, 2}), 3)
        self.assertEqual(compare.failed_ops(runs, "a", {2}), 1)
        self.assertEqual(compare.failed_ops(runs, "c", {1}), 0)


class FailureAccounting(unittest.TestCase):
    def record(self, failing):
        def op(name, p, s, ok=True):
            return {"name": name, "group": f"w.{name}#{p}", "pass": p,
                    "start_ms": 0, "end_ms": int(s * 1000), "s": s, "ok": ok,
                    "error": None if ok else "java.lang.IllegalStateException: boom"}
        ops = [op("fit", 0, 9.0), op("score", 0, 2.0), op("fit", 1, 4.0),
               op("score", 1, 1.0, ok=not failing), op("fit", 2, 6.0),
               op("score", 2, 1.0)]
        jobs = [{"id": 1, "group": "w.fit#1", "start_ms": 0, "cpu_ns": 2e9}]
        return {"workload": "w", "setup_s": [3.0, 1.0, 2.0], "ops": ops, "jobs": jobs,
                "values": {"warmup_s": 11.5}}

    def test_a_failed_operation_is_named_counted_and_not_timed(self):
        rec = self.record(failing=True)
        self.assertEqual(run.failures(rec), [
            {"op": "w.score#1", "error": "java.lang.IllegalStateException: boom"}])
        credited = run.credit_jobs(rec)
        per_op = run.per_op_medians(rec, credited)
        m = run.end_to_end(rec, per_op)
        self.assertAlmostEqual(m["ok_frac"][0], 5 / 6)
        self.assertEqual(per_op["score"]["s"], 1.0)  # only the ok timed run
        self.assertEqual(per_op["fit"]["s"], 5.0)    # warm-up pass excluded
        self.assertEqual(m["wall_s"][0], 6.0)
        self.assertEqual(m["setup_s"][0], 13.5)      # median set-up + warm-up
        self.assertEqual(m["cpu_s"][0], 1.0)         # median of 2 s and 0 s

    def test_no_failure_gives_ok_frac_one(self):
        rec = self.record(failing=False)
        m = run.end_to_end(rec, run.per_op_medians(rec, run.credit_jobs(rec)))
        self.assertEqual(m["ok_frac"][0], 1.0)
        self.assertEqual(run.failures(rec), [])


if __name__ == "__main__":
    unittest.main()
