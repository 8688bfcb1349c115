"""Tests of the output check against DuckDB.

    python3 -m unittest discover -s perfbench/tests
"""
import sys
import tempfile
import unittest
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
import verify  # noqa: E402


class VerifyTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory(dir=HERE)
        self.dir = Path(self.tmp.name)
        con = duckdb.connect()
        con.execute(f"COPY (SELECT range AS k, range * 2 AS v FROM range(5)) "
                    f"TO '{self.dir}/t.parquet' (FORMAT PARQUET)")
        (self.dir / "out" / "op").mkdir(parents=True)
        # the engine's output, rows in another order
        con.execute(f"COPY (SELECT v, k FROM '{self.dir}/t.parquet' ORDER BY k DESC) "
                    f"TO '{self.dir}/out/op/part-0.parquet' (FORMAT PARQUET)")
        con.close()
        self.views = {"t": f"{self.dir}/t.parquet"}

    def tearDown(self):
        self.tmp.cleanup()

    def check(self, oracle=None, violations=None):
        return verify.check(self.views, oracle or {}, violations or {}, self.dir / "out")["op"]

    def test_same_rows_in_any_order_and_column_order_pass(self):
        self.assertIsNone(self.check(oracle={"op": "SELECT k, v FROM t"}))

    def test_a_changed_value_fails_and_names_the_column(self):
        why = self.check(oracle={"op": "SELECT k, CASE WHEN k = 3 THEN 0 ELSE v END AS v FROM t"})
        self.assertIn("column v differs", why)

    def test_a_missing_row_fails(self):
        self.assertIn("row counts differ", self.check(oracle={"op": "SELECT k, v FROM t WHERE k < 4"}))

    def test_hugeint_is_type_drift(self):
        why = self.check(oracle={"op": "SELECT k, CAST(v AS HUGEINT) AS v FROM t"})
        self.assertIn("type drift", why)

    def test_violation_sql_passes_when_empty_and_fails_with_rows(self):
        self.assertIsNone(self.check(violations={"op": "SELECT * FROM out WHERE v != 2 * k"}))
        self.assertIn("violations", self.check(violations={"op": "SELECT * FROM out WHERE k = 1"}))

    def test_no_output_fails(self):
        why = verify.check(self.views, {"other": "SELECT 1"}, {}, self.dir / "out")["other"]
        self.assertEqual(why, "no output written")


if __name__ == "__main__":
    unittest.main()
