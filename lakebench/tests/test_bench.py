"""Tests of the benchmark's Python side: the tail rule, the seeded
tables and the DuckDB oracle gate.

    python3 -m unittest discover -s lakebench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import oracle  # noqa: E402
import stats  # noqa: E402
import tables  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))
        val, pct, n = stats.tail(xs)
        self.assertEqual((val, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > val), 10)

    def test_order_does_not_matter_and_small_counts(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0, 12.0]
        val, pct, n = stats.tail(xs)
        self.assertEqual((val, n), (2.0, 12))
        self.assertAlmostEqual(pct, 100 * 2 / 12)
        self.assertEqual(stats.tail(list(range(1000)))[:2], (989, 99.0))

    def test_too_few_samples(self):
        with self.assertRaises(ValueError):
            stats.tail([1.0] * 10)


class SeededTables(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            tables.write(f"{d}/a", 4, 0.05)
            tables.write(f"{d}/b", 4, 0.05)
            tables.write(f"{d}/c", 5, 0.05)
            names = sorted(os.listdir(f"{d}/a"))
            self.assertEqual(len(names), 10)
            _, mismatch, errors = filecmp.cmpfiles(f"{d}/a", f"{d}/b", names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            _, mismatch, _ = filecmp.cmpfiles(f"{d}/a", f"{d}/c", names, shallow=False)
            self.assertIn("lineitem.parquet", mismatch)


class OracleGate(unittest.TestCase):
    SQL = {"q_orders": "SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total "
                       "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"}

    def answer(self, d, sql):
        os.makedirs(f"{d}/answers/q_orders", exist_ok=True)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{d}/tables/orders.parquet')")
        con.execute(f"COPY ({sql}) TO '{d}/answers/q_orders/part-0.parquet' (FORMAT parquet)")
        con.close()

    def check(self, sql):
        with tempfile.TemporaryDirectory() as d:
            tables.write(f"{d}/tables", 2, 0.05)
            self.answer(d, sql)
            return oracle.compare(f"{d}/tables", f"{d}/answers", self.SQL)

    def test_right_answer_passes(self):
        self.assertEqual(self.check(self.SQL["q_orders"]), {})

    def test_dropped_row_fails(self):
        self.assertIn("q_orders", self.check(self.SQL["q_orders"].replace("ORDER BY", "HAVING o_orderpriority <> '3-MEDIUM' ORDER BY")))

    def test_value_off_fails(self):
        wrong = self.SQL["q_orders"].replace("count(*) AS n", "count(*) + (o_orderpriority = '2-HIGH')::INT AS n")
        self.assertIn("q_orders", self.check(wrong))


if __name__ == "__main__":
    unittest.main()
