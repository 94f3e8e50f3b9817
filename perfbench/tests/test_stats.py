"""Tests of the benchmark's own arithmetic and checks.

  python3 perfbench/tests/test_stats.py
"""
import datetime
import decimal
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pb import oracle, stats, workloads  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_matches_linear_interpolation(self):
        xs = [5.0, 1.0, 3.0, 2.0, 4.0]
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 50), 3.0)
        self.assertEqual(stats.percentile(xs, 100), 5.0)
        self.assertAlmostEqual(stats.percentile(xs, 90), 4.6)
        self.assertAlmostEqual(stats.percentile([1.0, 2.0], 50), 1.5)

    def test_single_and_empty(self):
        self.assertEqual(stats.percentile([7.0], 90), 7.0)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_input_not_mutated(self):
        xs = [3, 1, 2]
        stats.median(xs)
        self.assertEqual(xs, [3, 1, 2])


class DigestTest(unittest.TestCase):
    def test_shape_only(self):
        a = stats.digest(["a", "b"], [[1, "x"], [2, "y"]])
        self.assertEqual(a, stats.digest(["a", "b"], [[9, "q"], [8, "r"]]))
        self.assertNotEqual(a, stats.digest(["b", "a"], [[1, "x"], [2, "y"]]))
        self.assertNotEqual(a, stats.digest(["a", "b"], [[1, "x"]]))


def span(name, start, end, parent):
    return {"name": name, "start": start, "end": end, "parent": parent}


class SelfTimeTest(unittest.TestCase):
    def test_children_subtracted_once_when_overlapping(self):
        spans = [span("root", 0, 100, -1),
                 span("a", 10, 40, 0),
                 span("b", 30, 60, 0),   # overlaps a: union is 10..60
                 span("c", 70, 80, 0)]
        self.assertEqual(stats.self_times(spans), [40, 30, 30, 10])

    def test_grandchildren_only_count_against_their_parent(self):
        spans = [span("root", 0, 100, -1),
                 span("a", 0, 50, 0),
                 span("a.x", 10, 20, 1)]
        self.assertEqual(stats.self_times(spans), [50, 40, 10])

    def test_child_clipped_to_parent(self):
        spans = [span("root", 10, 20, -1), span("late", 15, 30, 0)]
        self.assertEqual(stats.self_times(spans)[0], 5)

    def test_layer_self_sums_by_name(self):
        spans = [span("json.write", 0, 5, -1), span("json.write", 10, 12, -1),
                 span("exec", 20, 30, -1)]
        self.assertEqual(stats.layer_self(spans), {"json.write": 7, "exec": 10})


class CompareTest(unittest.TestCase):
    def test_columns_sorted_and_values_normalized(self):
        exp = (["b", "a"], [(1.5, datetime.datetime(1995, 3, 15)),
                            (decimal.Decimal("2.25"), datetime.datetime(1996, 1, 1, 0, 0, 1))])
        got_cols = ["a", "b"]
        got_rows = [["1995-03-15 00:00:00.0", 1.5], ["1996-01-01T00:00:01", 2.25]]
        self.assertIsNone(oracle.compare(exp, got_cols, got_rows))

    def test_reports_first_difference(self):
        exp = (["a"], [(1,), (2,)])
        self.assertIn("row=1", oracle.compare(exp, ["a"], [[1], [3]]))
        self.assertIn("rows exp=2", oracle.compare(exp, ["a"], [[1]]))
        self.assertIn("columns", oracle.compare(exp, ["z"], [[1], [2]]))

    def test_nan_equals_nan(self):
        self.assertIsNone(oracle.compare((["a"], [(float("nan"),)]), ["a"], [["NaN"]]))


class StatementsTest(unittest.TestCase):
    def test_every_mr_oracle_is_served(self):
        oracles = {n: "SELECT 1" for n in workloads.MR_SQL}
        stmts = workloads.analytic_statements({"tpch": {"tpch_q6": "SELECT 6"},
                                               "mr_oracles": oracles})
        self.assertEqual(len(stmts), 1 + len(workloads.MR_SQL))

    def test_unserved_mr_oracle_fails(self):
        oracles = dict({n: "SELECT 1" for n in workloads.MR_SQL}, mr_new="SELECT 2")
        with self.assertRaises(ValueError):
            workloads.analytic_statements({"tpch": {}, "mr_oracles": oracles})

    def test_mix_meta_rotation_covers_every_kind(self):
        keys = {"orders": 10, "customer": 10, "part": 10, "supplier": 10, "events": 10,
                "event_types": ["view"]}
        stmts = [(f"s{i}", "SELECT 1", "SELECT 1") for i in range(4)]
        tools = set()
        for c in range(4):
            stream = workloads.mix_stream(workloads.Ops(c, keys), stmts, c, 4)
            first = next(o for o in stream if o["cls"] == "meta")
            tools.add((first["tool"], str(first["args"].get("catalog"))))
        self.assertEqual(tools, {("list_schemas", "spark_catalog"), ("list_tables", "tpch"),
                                 ("get_table_schema", "None"), ("explain_query", "None")})


if __name__ == "__main__":
    unittest.main()
