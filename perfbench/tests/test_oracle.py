"""Self-tests of the benchmark's oracle comparator.

Run from the root of a checkout: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import oracle  # noqa: E402


def frame():
    return pd.DataFrame({"b": ["x", "y", "z"], "a": [3, 1, 2], "c": [0.5, 1.5, 2.5]})


class OracleTest(unittest.TestCase):
    def test_equal_rows_in_any_order_match(self):
        got = frame().iloc[[2, 0, 1]][["c", "a", "b"]]
        self.assertIsNone(oracle.mismatch(got, frame()))

    def test_int_widths_do_not_matter(self):
        got = frame().astype({"a": "int32"})
        self.assertIsNone(oracle.mismatch(got, frame()))

    def test_one_altered_row_fails(self):
        for col, value in (("a", 4), ("b", "w"), ("c", 0.50000001)):
            got = frame()
            got.loc[1, col] = value
            self.assertIsNotNone(oracle.mismatch(got, frame()), col)

    def test_missing_or_extra_row_fails(self):
        self.assertIsNotNone(oracle.mismatch(frame().iloc[:2], frame()))
        self.assertIsNotNone(oracle.mismatch(pd.concat([frame(), frame().iloc[:1]]), frame()))

    def test_renamed_column_fails(self):
        self.assertIsNotNone(oracle.mismatch(frame().rename(columns={"c": "d"}), frame()))

    def test_equal_value_rendered_differently_fails(self):
        got = frame().astype({"a": "float64"})  # 1.0 vs 1
        self.assertIsNotNone(oracle.mismatch(got, frame()))


if __name__ == "__main__":
    unittest.main()
