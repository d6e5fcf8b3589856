"""The analytics checker rejects a corrupted result.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import pandas as pd

import oracle_check


class MismatchTest(unittest.TestCase):
    def setUp(self):
        self.oracle = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0]})

    def test_same_rows_in_any_order_match(self):
        spark = self.oracle.iloc[::-1].reset_index(drop=True)
        self.assertIsNone(oracle_check.mismatch(spark, self.oracle))

    def test_corrupted_value_fails(self):
        spark = self.oracle.copy()
        spark.loc[1, "v"] = 1.2500001
        self.assertIsNotNone(oracle_check.mismatch(spark, self.oracle))

    def test_missing_row_fails(self):
        self.assertIsNotNone(oracle_check.mismatch(self.oracle.iloc[:2], self.oracle))

    def test_empty_oracle_fails(self):
        empty = self.oracle.iloc[:0]
        self.assertIsNotNone(oracle_check.mismatch(empty, empty))


if __name__ == "__main__":
    unittest.main()
