"""The result check catches a dropped row, a changed value and an int
column turned into a float, and accepts the same bag in another row and
column order.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import check

ORACLE = ("SELECT k::BIGINT AS k, s, x::DOUBLE AS x FROM (VALUES "
          "(1, 'a', '0.5'), (2, 'b', '-0.0'), (2, 'b', '-0.0'), (3, NULL, '1e-7')) "
          "AS t(k, s, x)")


class CheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.con = duckdb.connect()
        self.oracle = check.digest(self.con, f"({ORACLE})")

    def tearDown(self):
        self.tmp.cleanup()

    def spark_result(self, columns):
        """A result directory as Spark writes it: part files of one table."""
        d = os.path.join(self.tmp.name, f"r{len(os.listdir(self.tmp.name))}")
        os.makedirs(d)
        table = pa.table(columns)
        half = table.num_rows // 2
        pq.write_table(table.slice(0, half), os.path.join(d, "part-0.parquet"))
        pq.write_table(table.slice(half), os.path.join(d, "part-1.parquet"))
        return check.compare(self.oracle, check.result_digest(self.con, d))

    def test_same_bag_in_another_order_matches(self):
        self.assertIsNone(self.spark_result({
            "x": pa.array([1e-7, -0.0, 0.5, -0.0]),
            "s": pa.array([None, "b", "a", "b"]),
            "k": pa.array([3, 2, 1, 2], pa.int64())}))

    def test_dropped_row_fails(self):
        diff = self.spark_result({
            "k": pa.array([1, 2, 3], pa.int64()),
            "s": pa.array(["a", "b", None]),
            "x": pa.array([0.5, -0.0, 1e-7])})
        self.assertIn("rows", diff)

    def test_changed_value_fails(self):
        diff = self.spark_result({
            "k": pa.array([1, 2, 2, 3], pa.int64()),
            "s": pa.array(["a", "b", "b", None]),
            "x": pa.array([0.5, -0.0, 0.0, 1e-7])})  # -0.0 became 0.0
        self.assertIn("values differ in columns ['x']", diff)

    def test_int_column_as_float_fails(self):
        diff = self.spark_result({
            "k": pa.array([1.0, 2.0, 2.0, 3.0]),
            "s": pa.array(["a", "b", "b", None]),
            "x": pa.array([0.5, -0.0, -0.0, 1e-7])})
        self.assertIn("column k: kind oracle=int spark=float", diff)

    def test_renamed_column_fails(self):
        diff = self.spark_result({
            "K": pa.array([1, 2, 2, 3], pa.int64()),
            "s": pa.array(["a", "b", "b", None]),
            "x": pa.array([0.5, -0.0, -0.0, 1e-7])})
        self.assertIn("columns", diff)


if __name__ == "__main__":
    unittest.main()
