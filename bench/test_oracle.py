"""Self-test of the benchmark's answer check: `python3 bench/test_oracle.py`.

The comparator must accept a right answer (rows in any order) and reject
each kind of wrong one: a changed value, a dropped row, an extra row, and a
NULL where a value belongs. Answers go through the same path as a run's:
rows collected by the harness are rebuilt via DuckDB and compared with the
oracle's DuckDB result by `compare` from tools/check.py, which
`oracle` imports.
"""
import math
import unittest

import duckdb

import oracle

ORACLE_SQL = """
  SELECT * FROM (VALUES ('NATION_1', 1024.5::DOUBLE, 3::BIGINT),
                        ('NATION_2', 0.1::DOUBLE, 7::BIGINT),
                        ('NATION_3', -2.25::DOUBLE, 1::BIGINT)) t(dept, gross, headcount)"""
SCHEMA = [["dept", "string"], ["gross", "double"], ["headcount", "long"]]
RIGHT = [["NATION_3", -2.25, 1], ["NATION_1", 1024.5, 3], ["NATION_2", 0.1, 7]]


class CompareTest(unittest.TestCase):
    def setUp(self):
        self.con = duckdb.connect()
        self.want = self.con.sql(ORACLE_SQL).df()

    def check(self, rows):
        got = oracle.collected(self.con, {"schema": SCHEMA, "rows": rows})
        return oracle.compare(self.want, got)

    def test_right_answer_in_any_row_order_passes(self):
        self.assertEqual(self.check(RIGHT), (True, ""))

    def test_changed_value_fails(self):
        rows = [r[:] for r in RIGHT]
        rows[2][1] = math.nextafter(0.1, 1.0)
        self.assertFalse(self.check(rows)[0])

    def test_dropped_row_fails(self):
        self.assertFalse(self.check(RIGHT[:2])[0])

    def test_extra_row_fails(self):
        self.assertFalse(self.check(RIGHT + [["NATION_4", 5.0, 2]])[0])

    def test_null_for_a_value_fails(self):
        for col in range(3):
            rows = [r[:] for r in RIGHT]
            rows[0][col] = None
            self.assertFalse(self.check(rows)[0], f"NULL in column {col} passed")

    def test_decimal_strings_compare_exactly(self):
        sql = "SELECT CAST(SUM(x) AS VARCHAR) AS s FROM (VALUES (1.10::DECIMAL(18,2))) t(x)"
        want = self.con.sql(sql).df()
        for s, ok in (("1.10", True), ("1.1", False), ("1.11", False)):
            got = oracle.collected(self.con, {"schema": [["s", "string"]], "rows": [[s]]})
            self.assertEqual(oracle.compare(want, got)[0], ok, s)


if __name__ == "__main__":
    unittest.main()
