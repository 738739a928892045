#!/usr/bin/env python3
"""scripts/compare_dumps.py on tiny DuckDB-written parquet dumps (no JVM):

    python3 scripts/test_compare_dumps.py
"""
import contextlib
import io
import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from compare_dumps import main  # noqa: E402


def dump(root, name, select):
    """Write `select` as the parquet dump of query `name` under `root`."""
    d = os.path.join(root, name)
    os.makedirs(d)
    duckdb.connect().execute(
        f"COPY ({select}) TO '{d}/part-00000.parquet' (FORMAT PARQUET)")


def run(*args):
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        code = main(list(args))
    return code, out.getvalue()


class CompareDumpsTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.parent = os.path.join(self.tmp.name, "parent")
        self.change = os.path.join(self.tmp.name, "change")

    def tearDown(self):
        self.tmp.cleanup()

    def test_the_same_rows_in_another_order_are_identical(self):
        dump(self.parent, "q", "SELECT * FROM (VALUES (1, 0.5), (2, 0.25)) t(a, b)")
        dump(self.change, "q", "SELECT * FROM (VALUES (2, 0.25), (1, 0.5)) t(a, b)")
        code, out = run(self.parent, self.change)
        self.assertEqual(code, 0)
        self.assertIn("identical q", out)

    def test_a_float_one_ulp_apart_differs(self):
        dump(self.parent, "q", "SELECT 1 AS a, 0.1::DOUBLE AS b")
        dump(self.change, "q", "SELECT 1 AS a, nextafter(0.1::DOUBLE, 1.0) AS b")
        code, out = run(self.parent, self.change)
        self.assertEqual(code, 1)
        self.assertIn("DIFF q: 1 rows differ", out)
        self.assertIn("parent ('1', '0.1')", out)
        self.assertIn("change ('1', '0.10000000000000002')", out)

    def test_at_most_three_differing_rows_are_shown_per_side(self):
        dump(self.parent, "q", "SELECT range AS a FROM range(10)")
        dump(self.change, "q", "SELECT range + 100 AS a FROM range(10)")
        code, out = run(self.parent, self.change)
        self.assertEqual(code, 1)
        self.assertIn("10 rows differ", out)
        self.assertEqual(out.count("  parent "), 3)
        self.assertEqual(out.count("  change "), 3)

    def test_a_duplicated_row_differs(self):
        dump(self.parent, "q", "SELECT * FROM (VALUES (1), (1)) t(a)")
        dump(self.change, "q", "SELECT * FROM (VALUES (1)) t(a)")
        self.assertEqual(run(self.parent, self.change)[0], 1)

    def test_columns_and_missing_queries_differ(self):
        dump(self.parent, "q", "SELECT 1 AS a")
        dump(self.change, "q", "SELECT 1 AS b")
        dump(self.parent, "gone", "SELECT 1 AS a")
        code, out = run(self.parent, self.change)
        self.assertEqual(code, 1)
        self.assertIn("DIFF q: columns differ", out)
        self.assertIn("DIFF gone: missing on the change side", out)

    def test_only_restricts_the_queries(self):
        dump(self.parent, "q", "SELECT 1 AS a")
        dump(self.change, "q", "SELECT 1 AS a")
        dump(self.parent, "r", "SELECT 1 AS a")
        dump(self.change, "r", "SELECT 2 AS a")
        code, out = run(self.parent, self.change, "--only=q")
        self.assertEqual(code, 0)
        self.assertNotIn(" r", out)
        self.assertIn("1/1 identical", out)


if __name__ == "__main__":
    unittest.main()
