"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

They cover the parts that decide what the benchmark reports: the output
checker must fail an operation whose result has one cell changed or one
row dropped, and the percentile, throughput and span self-time code must
give known answers on synthetic inputs.
"""

import copy
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import compare  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def _exec(op, cols, rows, warmup=False):
    return {"op": op, "columns": cols, "rows": [list(r) for r in rows],
            "error": None, "warmup": warmup}


class CompareTest(unittest.TestCase):
    cols = ["k", "v", "name"]
    rows = [(1, 2.5, "a"), (2, None, "b"), (3, 7.25, "c")]

    def test_equal_results_pass_in_any_row_and_column_order(self):
        want_cols = ["name", "k", "v"]
        want = [(r[2], r[0], r[1]) for r in reversed(self.rows)]
        self.assertIsNone(check.compare(self.cols, self.rows, want_cols, want))

    def test_one_changed_cell_fails(self):
        for i in range(len(self.rows)):
            for j in range(len(self.cols)):
                bad = [list(r) for r in self.rows]
                bad[i][j] = 99 if j != 2 else "zz"
                self.assertIsNotNone(check.compare(self.cols, bad, self.cols, self.rows),
                                     f"cell ({i}, {j}) changed")

    def test_one_dropped_row_fails(self):
        for i in range(len(self.rows)):
            bad = self.rows[:i] + self.rows[i + 1:]
            self.assertIsNotNone(check.compare(self.cols, bad, self.cols, self.rows))

    def test_duplicate_row_instead_of_another_fails(self):
        bad = [self.rows[0], self.rows[0], self.rows[2]]
        self.assertIsNotNone(check.compare(self.cols, bad, self.cols, self.rows))

    def test_float_noise_within_tolerance_passes(self):
        noisy = [(1, 2.5 * (1 + 1e-12), "a"), (2, None, "b"), (3, 7.25, "c")]
        self.assertIsNone(check.compare(self.cols, noisy, self.cols, self.rows))


class SqlCheckTest(unittest.TestCase):
    """check_sql against DuckDB over a small parquet table."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        d = self.tmp.name
        for t in check.BASE_TABLES:
            pq.write_table(pa.table({"x": [1]}), os.path.join(d, f"{t}.parquet"))
        pq.write_table(pa.table({
            "o_orderkey": pa.array(range(10), pa.int64()),
            "o_totalprice": [float(10 * i) + 0.5 for i in range(10)]}),
            os.path.join(d, "orders.parquet"))
        sql = "select o_orderkey, o_totalprice from orders where o_orderkey < 5"
        self.plan = {"rounds": [[{"id": "r0.q", "duckdb": sql}]]}
        self.good = _exec("r0.q", ["o_orderkey", "o_totalprice"],
                          [(k, 10.0 * k + 0.5) for k in range(5)])

    def tearDown(self):
        self.tmp.cleanup()

    def test_right_output_passes(self):
        out, _ = check.check_sql(self.tmp.name, self.plan, [self.good])
        self.assertEqual(out, [None])

    def test_changed_cell_and_dropped_row_fail(self):
        changed = copy.deepcopy(self.good)
        changed["rows"][3][1] = 31.0
        dropped = copy.deepcopy(self.good)
        del dropped["rows"][0]
        out, _ = check.check_sql(self.tmp.name, self.plan, [changed, dropped, self.good])
        self.assertIsNotNone(out[0])
        self.assertIsNotNone(out[1])
        self.assertIsNone(out[2])

    def test_engine_error_is_reported(self):
        err = dict(self.good, error="boom")
        out, _ = check.check_sql(self.tmp.name, self.plan, [err])
        self.assertIn("boom", out[0])


class DedupCheckTest(unittest.TestCase):
    """Verdicts with known answers: exact (same normalized text), near
    (Jaccard 3/5 >= 1/2), new; appends are visible to later batches."""

    def test_known_verdicts(self):
        with tempfile.TemporaryDirectory() as d:
            pq.write_table(pa.table({"doc_id": pa.array([0], pa.int64()),
                                     "text": ["a b c d e f"]}),
                           os.path.join(d, "documents.parquet"))
            pq.write_table(pa.table({
                "doc_id": pa.array([10, 11, 12], pa.int64()),
                # exact (case and spacing), near (3 of 5 shingles), new
                "text": ["A  b c d e F ", "a b c d e x", "p q r s t u"]}),
                os.path.join(d, "b0.parquet"))
            pq.write_table(pa.table({
                "doc_id": pa.array([20, 21], pa.int64()),
                "text": ["p q r s t u", "p q r s t v"]}),
                os.path.join(d, "b1.parquet"))
            plan = {"batches": [{"id": "b0", "kind": "ingest", "path": "b0.parquet"},
                                {"id": "b1", "kind": "probe", "path": "b1.parquet"}]}
            right = [_exec("b0", ["id", "verdict"], [(10, "exact"), (11, "near"), (12, "new")]),
                     _exec("b1", ["id", "verdict"], [(20, "exact"), (21, "near")])]
            out, _ = check.check_dedup(d, plan, right)
            self.assertEqual(out, [None, None])
            wrong = copy.deepcopy(right)
            wrong[1]["rows"][1][1] = "new"
            out, _ = check.check_dedup(d, plan, wrong)
            self.assertEqual(out[0], None)
            self.assertIsNotNone(out[1])


class DmlCheckTest(unittest.TestCase):
    def test_replay_and_view(self):
        with tempfile.TemporaryDirectory() as d:
            pq.write_table(pa.table({
                "l_orderkey": pa.array([1, 2], pa.int64()),
                "l_linenumber": pa.array([1, 1], pa.int32()),
                "l_partkey": pa.array([5, 6], pa.int64()),
                "l_quantity": [3.0, 4.0],
                "l_suppkey": pa.array([7, 8], pa.int64()),
                "l_returnflag": ["A", "R"]}), os.path.join(d, "lineitem.parquet"))
            plan = {"rounds": [[
                {"id": "w1", "kind": "write", "rows": [[100, 1, 2, 3, "A"]]},
                {"id": "w2", "kind": "write", "where": "l_orderkey >= 1 and l_orderkey < 3"},
                {"id": "v", "kind": "read",
                 "nutql": "select flag, qty, supp from ingest_sum order by flag"},
                {"id": "o", "kind": "maint"}]]}
            view = _exec("v", ["flag", "qty", "supp"], [("A", 5, 10), ("R", 4, 8)])
            execs = [_exec("w1", ["status"], [("ok",)]), _exec("w2", ["status"], [("ok",)]),
                     view, _exec("o", ["status"], [("ok",)])]
            out, extra = check.check_dml(d, plan, execs)
            self.assertEqual(out, [None, None, None, None])
            self.assertEqual(extra["user_bytes"], {0: 33, 1: 66})
            execs[2]["rows"][0][1] = 6
            out, _ = check.check_dml(d, plan, execs)
            self.assertIsNotNone(out[2])


class TallyTest(unittest.TestCase):
    """How the checked operation log becomes correct/attempted/failed."""

    def _log(self):
        return [_exec("w", ["x"], [(1,)], warmup=True), _exec("a", ["x"], [(1,)]),
                _exec("b", ["x"], [(1,)])]

    def test_all_right(self):
        self.assertEqual(run.tally(self._log(), [None, None, None])[:3], (True, 2, 0))

    def test_errored_warmup_makes_the_run_incorrect(self):
        log = self._log()
        log[0]["error"] = "java.lang.IllegalStateException: boom"
        self.assertEqual(run.tally(log, ["error: boom", None, None])[:3], (False, 2, 0))

    def test_wrong_warmup_output_makes_the_run_incorrect(self):
        self.assertEqual(run.tally(self._log(), ["1 rows != 2", None, None])[:3],
                         (False, 2, 0))

    def test_timed_error_is_failed(self):
        log = self._log()
        log[2]["error"] = "boom"
        self.assertEqual(run.tally(log, [None, None, "error: boom"])[:3], (True, 2, 1))

    def test_wrong_timed_output_is_failed_and_incorrect(self):
        self.assertEqual(run.tally(self._log(), [None, "row (2,) != (1,)", None])[:3],
                         (False, 2, 1))


class StatsTest(unittest.TestCase):
    def test_percentile(self):
        xs = [5.0, 1.0, 3.0, 2.0, 4.0]
        self.assertEqual(stats.percentile(xs, 50), 3.0)
        self.assertAlmostEqual(stats.percentile(xs, 90), 4.6)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)
        self.assertAlmostEqual(stats.percentile(list(range(1, 101)), 90), 90.1)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0, 16.0]), 4.0)
        self.assertAlmostEqual(stats.geomean([2.5]), 2.5)

    def test_throughput(self):
        self.assertEqual(stats.throughput(30, 12.0), 2.5)
        with self.assertRaises(ValueError):
            stats.throughput(1, 0)

    def test_self_time(self):
        # op [0, 100): parse [0, 10), bind [10, 40) with a nested job
        # span [20, 30), two overlapping children [50, 70) and [60, 80)
        ns = 1_000_000_000
        spans = [
            {"id": 0, "parent": -1, "start_ns": 0, "end_ns": 100 * ns},
            {"id": 1, "parent": 0, "start_ns": 0, "end_ns": 10 * ns},
            {"id": 2, "parent": 0, "start_ns": 10 * ns, "end_ns": 40 * ns},
            {"id": 3, "parent": 2, "start_ns": 20 * ns, "end_ns": 30 * ns},
            {"id": 4, "parent": 0, "start_ns": 50 * ns, "end_ns": 70 * ns},
            {"id": 5, "parent": 0, "start_ns": 60 * ns, "end_ns": 80 * ns},
        ]
        s = stats.self_times(spans)
        self.assertEqual(s[0], 30.0)   # 100 - union(0..40, 50..80) = 100 - 70
        self.assertEqual(s[1], 10.0)
        self.assertEqual(s[2], 20.0)
        self.assertEqual(s[3], 10.0)
        self.assertEqual(s[4], 20.0)


class VerdictTest(unittest.TestCase):
    def test_rules(self):
        base = [1.0, 1.01, 0.99, 1.02, 0.98, 1.0, 1.01, 0.99, 1.0, 1.0]
        faster = [x * 0.8 for x in base]
        slower = [x * 1.3 for x in base]
        self.assertEqual(compare.verdict(base, faster, "lower", 0.1)[0], "improved")
        self.assertEqual(compare.verdict(base, slower, "lower", 0.1)[0], "worse")
        self.assertEqual(compare.verdict(base, base, "lower", 0.1)[0], "no worse")
        self.assertEqual(compare.verdict(base, faster, "higher", 0.1)[0], "worse")
        noisy = [1.0, 2.0, 0.5, 1.5, 1.0, 0.7, 1.8, 0.6, 1.2, 1.1]
        self.assertEqual(compare.verdict(noisy, noisy[::-1], "lower", 0.1)[0], "unresolved")


class GenTest(unittest.TestCase):
    def test_plan_rounds(self):
        with tempfile.TemporaryDirectory() as d:
            plan = gen.generate("sql_subquery", 5, d)
            self.assertEqual(len(plan["rounds"]), gen.WARMUP_ROUNDS["sql_subquery"] + gen.PLAN_TIMED_ROUNDS)
            self.assertEqual(len(plan["rounds"][0]), len(gen.SUBQUERY_SHAPES))
            self.assertTrue(all(len(r) == gen.SQL_PASSES * len(gen.SUBQUERY_SHAPES)
                                for r in plan["rounds"][1:]))

    def test_same_seed_same_plan(self):
        import numpy as np
        a = gen.sql_rounds(np.random.default_rng(7), gen.SUBQUERY_SHAPES, 3)
        b = gen.sql_rounds(np.random.default_rng(7), gen.SUBQUERY_SHAPES, 3)
        c = gen.sql_rounds(np.random.default_rng(8), gen.SUBQUERY_SHAPES, 3)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        shapes = sorted(n for n, _, _ in gen.SUBQUERY_SHAPES)
        # the warm-up round runs every shape once, timed rounds every
        # shape once per pass
        self.assertEqual(sorted(op["shape"] for op in a[0]), shapes)
        self.assertEqual(sorted(op["shape"] for op in a[1]),
                         sorted(shapes * gen.SQL_PASSES))

    def test_tables_do_not_depend_on_which_are_written(self):
        with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
            gen.write_tables(3, d1, ["orders"])
            gen.write_tables(3, d2, ["customer", "orders"])
            self.assertTrue(pq.read_table(os.path.join(d1, "orders.parquet")).equals(
                pq.read_table(os.path.join(d2, "orders.parquet"))))


if __name__ == "__main__":
    unittest.main()
