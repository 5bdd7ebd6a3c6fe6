"""Tests of the answer comparison, which uses the oracle gate's rule.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import answers  # noqa: E402


def table(**cols):
    return pa.table(cols)


class CompareTest(unittest.TestCase):
    def test_column_and_row_order_do_not_matter(self):
        got = table(b=[2.0, 1.0], a=["y", "x"])
        expected = table(a=["x", "y"], b=[1.0, 2.0])
        self.assertIsNone(answers.compare(got, expected))

    def test_floats_within_the_tolerance(self):
        self.assertIsNone(answers.compare(table(v=[1.0 + 1e-12]), table(v=[1])))
        self.assertIn("col v", answers.compare(table(v=[1.001]), table(v=[1.0])))

    def test_nan_equals_nan(self):
        self.assertIsNone(answers.compare(table(v=[float("nan")]), table(v=[float("nan")])))

    def test_schema_and_row_count(self):
        self.assertIn("schema", answers.compare(table(a=[1]), table(b=[1])))
        self.assertIn("rows 1 != oracle 2", answers.compare(table(a=[1]), table(a=[1, 2])))

    def test_empty_tables_agree(self):
        empty = pa.table({"a": pa.array([], pa.int64())})
        self.assertIsNone(answers.compare(empty, empty))


if __name__ == "__main__":
    unittest.main()
