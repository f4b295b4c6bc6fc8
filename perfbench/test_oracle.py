"""Tests of the analytics_mix oracle comparison.

Run from the repository root: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import shutil
import tempfile
import unittest

import duckdb

from oracle import Oracle, mismatch


class OracleTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        con = duckdb.connect()
        con.execute(f"COPY (SELECT range AS doc_id, range % 3 AS g FROM range(30)) "
                    f"TO '{self.dir}/documents.parquet' (FORMAT PARQUET)")
        self.sql = {"groups": "SELECT g, count(*) AS n FROM documents GROUP BY g"}
        self.con = con

    def tearDown(self):
        shutil.rmtree(self.dir)

    def save(self, sql):
        out = os.path.join(self.dir, "op")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        self.con.execute(f"COPY ({sql}) TO '{out}/part-0.parquet' (FORMAT PARQUET)")
        return out

    def test_matching_rows_in_any_order_pass(self):
        rows = self.save("SELECT * FROM (VALUES (2, 10), (0, 10), (1, 10)) t(g, n)")
        self.assertEqual(Oracle(self.dir, self.sql).check("groups", rows), [])

    def test_a_wrong_value_is_a_failure(self):
        rows = self.save("SELECT * FROM (VALUES (0, 10), (1, 11), (2, 10)) t(g, n)")
        failures = Oracle(self.dir, self.sql).check("groups", rows)
        self.assertEqual(len(failures), 1)
        self.assertIn("oracle mismatch", failures[0])

    def test_a_missing_row_or_column_is_a_failure(self):
        got = self.con.execute("SELECT 0 AS g, 10 AS n").fetchdf()
        exp = self.con.execute("SELECT * FROM (VALUES (0, 10), (1, 10)) t(g, n)").fetchdf()
        self.assertIn("rows", mismatch(got, exp))
        self.assertIn("schema", mismatch(got[["g"]], exp))


if __name__ == "__main__":
    unittest.main()
