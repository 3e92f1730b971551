"""Tests of the benchmark's own arithmetic and failure accounting.

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import check  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond_the_tail(self):
        xs = list(range(1, 201))
        p, v = stats.tail(xs)
        self.assertEqual((p, v), (95.0, 190))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_rank_is_independent_of_input_order(self):
        xs = list(range(1, 31))
        self.assertEqual(stats.tail(xs[::-1]), stats.tail(xs))
        self.assertEqual(stats.tail(xs), (100 * 20 / 30, 20))

    def test_under_twenty_samples_report_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (100.0, 3.0))
        self.assertEqual(stats.tail(list(range(19))), (100.0, 18))
        self.assertEqual(stats.tail(list(range(20))), (50.0, 9))

    def test_an_infinite_sample_reaches_the_tail_only_when_it_is_beyond(self):
        xs = [1.0] * 39 + [math.inf]
        self.assertEqual(stats.tail(xs), (75.0, 1.0))
        xs = [1.0] * 25 + [math.inf] * 15
        self.assertEqual(stats.tail(xs)[1], math.inf)


class SelfTime(unittest.TestCase):
    def test_disjoint_children(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 3), (5, 6)]), 7)

    def test_overlapping_children_count_once(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 4), (2, 6), (5, 7)]), 4)

    def test_children_are_clipped_to_the_parent(self):
        self.assertEqual(stats.self_time((10, 20), [(0, 12), (18, 30)]), 6)

    def test_no_children_and_full_cover(self):
        self.assertEqual(stats.self_time((0, 5), []), 5)
        self.assertEqual(stats.self_time((0, 5), [(0, 2), (2, 5)]), 0)
        self.assertEqual(stats.self_time((0, 5), [(7, 9)]), 5)


def _execs(ops, error_op=None):
    return [{"op": op, "t0": 0.0, "t2": 100.0, "pass": 0,
             "error": "java.lang.RuntimeException: planted" if op == error_op else ""}
            for op in ops]


class FailureAccounting(unittest.TestCase):
    OPS = ["a", "b", "c", "d"]

    def test_clean_run(self):
        self.assertEqual(stats.failures(_execs(self.OPS), {}), (4, 0))

    def test_planted_failing_op_raises_fail_share(self):
        attempted, failed = stats.failures(_execs(self.OPS, error_op="b"), {})
        self.assertEqual((attempted, failed), (4, 1))
        self.assertGreater(stats.fail_share(attempted, failed), 0)
        lat = stats.latencies(_execs(self.OPS, error_op="b"), {})
        self.assertEqual(lat.count(math.inf), 1)   # never a fast timing

    def test_planted_wrong_result_raises_fail_share(self):
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "in"))
            os.makedirs(os.path.join(d, "out", "c"))
            for t in check.TABLES:
                pq.write_table(pa.table({"x": [1, 2, 3]}),
                               os.path.join(d, "in", f"{t}.parquet"))
            # the op wrote 2 rows where its twin returns 3
            pq.write_table(pa.table({"x": [1, 2]}),
                           os.path.join(d, "out", "c", "part-0.parquet"))
            cause = check.compare(os.path.join(d, "in"), os.path.join(d, "out"),
                                  "c", "SELECT x FROM region")
            self.assertIn("rows 2 != oracle 3", cause)
            pq.write_table(pa.table({"x": [3, 1, 2]}),
                           os.path.join(d, "out", "c", "part-0.parquet"))
            self.assertIsNone(check.compare(os.path.join(d, "in"), os.path.join(d, "out"),
                                            "c", "SELECT x FROM region ORDER BY x"))
        attempted, failed = stats.failures(_execs(self.OPS), {"c": cause})
        self.assertEqual((attempted, failed), (4, 1))
        self.assertGreater(stats.fail_share(attempted, failed), 0)
        self.assertEqual(stats.latencies(_execs(self.OPS), {"c": cause})[2], math.inf)

    def test_ops_a_cut_run_did_not_finish_count_as_failed(self):
        ops = [(op, "m") for op in self.OPS]
        done = _execs(self.OPS) + _execs(["a"])
        done[-1]["pass"] = 1
        missing = stats.unfinished(done, ops, "runner timed out")
        self.assertEqual([(e["op"], e["pass"]) for e in missing],
                         [("b", 1), ("c", 1), ("d", 1)])
        attempted, failed = stats.failures(done + missing, {})
        self.assertEqual((attempted, failed), (8, 3))
        # cut during set-up: nothing ran, so every op of pass 0 failed
        self.assertEqual(stats.failures(stats.unfinished([], ops, "runner exited"), {}),
                         (4, 4))


if __name__ == "__main__":
    unittest.main()
