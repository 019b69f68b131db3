"""Tests of the benchmark's own rules. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v
"""
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import pyarrow as pa  # noqa: E402

import metrics  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_eleventh_largest_with_ten_beyond(self):
        xs = list(range(1, 101))                      # 100 samples
        self.assertEqual(metrics.tail_percentile(xs), (90.0, 90, 10))
        xs = list(range(1, 1001))
        self.assertEqual(metrics.tail_percentile(xs), (99.0, 990, 10))

    def test_percentile_follows_the_sample_count(self):
        pct, value, beyond = metrics.tail_percentile(list(range(1, 41)))
        self.assertEqual((pct, value, beyond), (75.0, 30, 10))

    def test_order_does_not_matter(self):
        xs = list(range(20, 0, -1))
        self.assertEqual(metrics.tail_percentile(xs), (50.0, 10, 10))

    def test_small_sample_falls_back_to_median_with_short_count(self):
        pct, value, beyond = metrics.tail_percentile([5, 1, 4, 2, 3])
        self.assertEqual((pct, value, beyond), (60.0, 3, 2))
        pct, value, beyond = metrics.tail_percentile(list(range(1, 13)))
        self.assertEqual((pct, value, beyond), (7 / 12 * 100, 7, 5))
        self.assertLess(beyond, metrics.MIN_BEYOND)

    def test_empty(self):
        with self.assertRaises(ValueError):
            metrics.tail_percentile([])


class FailCounts(unittest.TestCase):
    def op(self, i, q, error=None):
        return {"op": i, "query": q, "error": error}

    def test_numerator_and_denominator(self):
        ops = [self.op(0, "q_a"), self.op(1, "q_b", "boom"),
               self.op(2, "q_a"), self.op(3, "q_b", "boom again")]
        failed, attempted, failures = metrics.fail_counts(
            ops, {"q_a": "value mismatch"})
        self.assertEqual((failed, attempted), (3, 4))
        self.assertEqual([q for q, _ in failures], ["q_a", "q_b", "q_b"])

    def test_clean_run(self):
        ops = [self.op(i, "q") for i in range(7)]
        self.assertEqual(metrics.fail_counts(ops, {}), (0, 7, []))


class SelfTimes(unittest.TestCase):
    def test_overlapping_child_jobs(self):
        got = metrics.self_times((0.0, 10.0), {
            "executor": [(5.5, 6.5), (7.0, 8.5)],
            "scheduler": [(5.0, 8.0), (6.0, 9.0)],   # two jobs overlap
            "catalyst": [(4.0, 4.5)],
            "api": [(0.0, 4.0)],
            "collect": [(4.0, 10.0)],
        })
        self.assertAlmostEqual(got["executor"], 2.5)
        self.assertAlmostEqual(got["scheduler"], 1.5)  # (5,9) less tasks
        self.assertAlmostEqual(got["catalyst"], 0.5)
        self.assertAlmostEqual(got["api"], 4.0)
        self.assertAlmostEqual(got["collect"], 1.5)
        self.assertAlmostEqual(got["op"], 0.0)
        self.assertAlmostEqual(sum(got.values()), 10.0)

    def test_uncovered_time_is_op_self(self):
        got = metrics.self_times((0.0, 3.0), {
            "api": [(0.5, 1.0)], "scheduler": [(0.8, 2.0), (2.5, 4.0)]})
        self.assertAlmostEqual(got["scheduler"], 1.7)   # clipped to the op
        self.assertAlmostEqual(got["api"], 0.3)
        self.assertAlmostEqual(got["op"], 1.0)
        self.assertAlmostEqual(sum(got.values()), 3.0)


class CoreUtil(unittest.TestCase):
    def test_ratio(self):
        self.assertAlmostEqual(metrics.core_util(6.0, 2.0, 4), 0.75)

    def test_no_jobs(self):
        self.assertEqual(metrics.core_util(0.0, 0.0, 4), 0.0)


class LayerSummary(unittest.TestCase):
    def test_jobs_follow_their_group_and_self_times_add_up(self):
        ops = [
            {"op": 0, "query": "q", "start_us": 0, "build_us": 1_000_000,
             "end_us": 4_000_000, "rows": 3, "error": None,
             "storage_blocks": 0, "storage_bytes": 0},
            {"op": 1, "query": "q", "start_us": 5_000_000, "build_us": 5_500_000,
             "end_us": 6_000_000, "rows": 3, "error": None,
             "storage_blocks": 2, "storage_bytes": 10},
        ]
        task = dict(ok=True, run_ms=500, cpu_ns=4e8, gc_ms=0, result_bytes=8,
                    in_bytes=100, in_records=5, out_bytes=0, out_records=0,
                    sw_bytes=0, sw_records=0, sr_bytes=0, sr_records=0,
                    fetch_wait_ms=0, spill_bytes=0)
        events = [
            # op 0's job ends after op 1 started: the group decides
            {"ev": "job", "job": 0, "group": "op-0", "start_ms": 2000,
             "end_ms": 3000, "stages": [0], "ok": True},
            {"ev": "stage", "stage": 0, "attempt": 0, "submit_ms": 2000,
             "complete_ms": 3000, "tasks": 1, "ok": True},
            dict(task, ev="task", stage=0, launch_ms=2100, finish_ms=2600),
            {"ev": "qe", "func": "collect", "ok": True, "analysis": [500, 600],
             "optimization": [1100, 1200], "planning": [1200, 1300]},
        ]
        out, additivity = metrics.layer_summary(ops, events, 4, 1.0)
        self.assertLess(additivity, 1e-9)
        self.assertAlmostEqual(out["scheduler.jobs"], 0.5)
        self.assertAlmostEqual(out["catalyst.executions"], 0.5)
        self.assertAlmostEqual(out["scheduler.task_wait_s"], 0.05)
        self.assertAlmostEqual(out["executor.core_util"], 0.5 / (1.0 * 4))
        self.assertAlmostEqual(out["scheduler.useful_task_ratio"], 1.0)
        self.assertAlmostEqual(out["storage.blocks"], 1.0)


class Membership(unittest.TestCase):
    catalog = {"queries": ["q_a", "q_b", "q_c"],
               "oracle": {"q_a": "", "q_b": "", "q_c": ""}}

    def spec(self, a, b, excluded):
        return {"workloads": {"w1": {"queries": a}, "w2": {"queries": b}},
                "excluded": excluded}

    def test_complete_and_disjoint(self):
        run.validate(self.spec(["q_a"], ["q_b"], {"q_c": "why"}), self.catalog)

    def test_overlap_fails(self):
        with self.assertRaises(SystemExit):
            run.validate(self.spec(["q_a", "q_b"], ["q_b"], {"q_c": "why"}), self.catalog)

    def test_unknown_fails(self):
        with self.assertRaises(SystemExit):
            run.validate(self.spec(["q_a", "q_z"], ["q_b"], {"q_c": "why"}), self.catalog)

    def test_unplaced_fails(self):
        with self.assertRaises(SystemExit):
            run.validate(self.spec(["q_a"], ["q_b"], {}), self.catalog)

    def test_repository_membership_is_well_formed(self):
        spec = run.load_workloads()
        for w in spec["workloads"].values():
            self.assertEqual(len(w["queries"]), len(set(w["queries"])))
            self.assertTrue(w["why"] and w["scale"] in ("0.01", "0.1"))


class OracleCompare(unittest.TestCase):
    graft = pa.table({"k": pa.array([2, 1, 3], pa.int64()),
                      "h": pa.array([2**62 + 1, 5, 7], pa.int64()),
                      "v": [0.5, 1.0 + 1e-9, float("nan")],
                      "s": ["b", "a", None]})

    def oracle_side(self, **changes):
        cols = {"s": ["a", "b", None], "k": pa.array([1, 2, 3], pa.int32()),
                "h": pa.array([5, 2**62 + 1, 7], pa.int64()),
                "v": pa.array([1, 0.5, float("nan")], pa.float64())}
        cols.update(changes)
        return pa.table(cols)

    def test_rows_match_in_any_order_within_tolerance(self):
        self.assertIsNone(oracle.compare(self.graft, self.oracle_side()))

    def test_decimal_against_double(self):
        dec = pa.array([1, 0.5, None], pa.float64()).cast(pa.decimal128(10, 2))
        graft = self.graft.set_column(2, "v", pa.array([0.5, 1.0, None]))
        self.assertIsNone(oracle.compare(graft, self.oracle_side(v=dec)))

    def test_value_mismatch(self):
        got = oracle.compare(self.graft, self.oracle_side(v=[1.0, 0.6, float("nan")]))
        self.assertIn("value mismatch", got)

    def test_row_count_and_schema(self):
        self.assertIn("row count", oracle.compare(self.graft, self.oracle_side().slice(0, 2)))
        self.assertIn("schema", oracle.compare(self.graft, self.oracle_side().drop(["s"])))

    def test_list_columns(self):
        a = pa.table({"k": [1, 2], "l": [[1.0, 2.0], [3.0]]})
        b = pa.table({"k": [2, 1], "l": [[3.0], [1.0, 2.0 + 1e-9]]})
        self.assertIsNone(oracle.compare(a, b))
        c = pa.table({"k": [2, 1], "l": [[3.5], [1.0, 2.0]]})
        self.assertIn("value mismatch", oracle.compare(a, c))

    def test_rule_is_the_repository_check(self):
        import check
        self.assertIs(oracle.norm, check.norm)
        self.assertIs(oracle.eq, check.eq)


class Guard(unittest.TestCase):
    """The client must time collect(), never count(), never switch on
    graft's bench-only stage reuse, and never swallow an op's exception."""

    def source(self, *parts):
        with open(os.path.join(BENCH, *parts)) as f:
            return f.read()

    def harness(self):
        return self.source("src", "main", "scala", "graftbench", "Harness.scala")

    def test_no_stage_reuse(self):
        self.assertNotIn("reuseUnchanged", self.harness())

    def test_collect_not_count(self):
        src = self.harness()
        self.assertIsNone(re.search(r"\.count\s*\(", src))
        self.assertRegex(src, r"val rows = df\.collect\(\)")

    def test_exceptions_are_recorded(self):
        src = self.harness()
        catches = re.findall(r"catch\s*\{(.*?)\n\s*\}", src, re.S)
        self.assertEqual(len(catches), 1, "the op is the only place that catches")
        self.assertIn("op.error =", catches[0])
        self.assertNotRegex(src, r"case\s+_\s*:\s*Throwable")
        for name in ("run.py", "metrics.py", "oracle.py", "gen.py"):
            py = self.source(name)
            self.assertNotRegex(py, r"except\s*:")
            self.assertNotRegex(py, r"except[^\n]*:\s*\n\s*pass\b")


if __name__ == "__main__":
    unittest.main()
