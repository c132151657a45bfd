"""Tests of the benchmark's Python side: seeded tables and the oracle check.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import oracle  # noqa: E402
import tables  # noqa: E402


class TablesTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a, b = tables.build(5), tables.build(5)
        self.assertEqual(sorted(a), sorted(oracle.TABLES))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(tables.build(6)["lineitem"].equals(a["lineitem"]))

    def test_sizes_follow_the_scale_factor(self):
        t = tables.build(1, 0.01)
        self.assertEqual(t["lineitem"].num_rows, 60000)
        self.assertEqual(t["orders"].num_rows, 15000)
        self.assertEqual(t["region"].num_rows, 5)


class OracleTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.tables = os.path.join(self.dir.name, "tables")
        tables.write(self.tables, 3)
        self.sql = {"regions": "SELECT r_regionkey AS k, r_name AS name FROM region"}

    def tearDown(self):
        self.dir.cleanup()

    def dump(self, keys, names):
        d = os.path.join(self.dir.name, "dump", "regions")
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.table({"name": names, "k": pa.array(keys, pa.int32())}),
                       os.path.join(d, "part-0.parquet"))

    def check(self):
        return oracle.check(self.tables, os.path.join(self.dir.name, "dump"), self.sql,
                            os.path.join(self.dir.name, "cache"))

    def test_a_matching_result_passes_in_any_row_order(self):
        self.dump([4, 3, 2, 1, 0], list(reversed(tables.REGIONS)))
        self.assertEqual(self.check(), {})
        self.assertEqual(self.check(), {})  # served from the cache

    def test_a_wrong_result_counts_as_failed(self):
        self.dump([0, 1, 2, 3, 4], ["AFRICA", "AMERICA", "ASIA", "EUROPE", "ATLANTIS"])
        self.assertIn("regions", self.check())

    def test_a_missing_result_counts_as_failed(self):
        self.assertIn("regions", self.check())


if __name__ == "__main__":
    unittest.main()
