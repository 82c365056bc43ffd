"""Self-test of the etl_folder raw-zone staging.

Run from the root of a checkout: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import run  # noqa: E402


class StageTest(unittest.TestCase):
    def test_replicas_keep_keys_distinct_and_foreign_keys_resolved(self):
        with tempfile.TemporaryDirectory() as tmp:
            inp, zones = os.path.join(tmp, "input"), os.path.join(tmp, "zones")
            gen.write(inp, seed=1, customers=50, docs=5, vecs=5)
            run.stage_etl_raw(inp, zones)

            def col(table, name):
                return pq.read_table(os.path.join(zones, "raw", table))[name].to_pylist()

            customers = col("customer", "c_custkey")
            self.assertEqual(len(customers), 50 * run.ETL_REPLICAS)
            self.assertEqual(len(set(customers)), len(customers))
            orders = col("orders", "o_orderkey")
            self.assertEqual(len(set(orders)), len(orders))
            self.assertLessEqual(set(col("orders", "o_custkey")), set(customers))
            self.assertLessEqual(set(col("events", "user_id")), set(customers))
            self.assertEqual(len(col("region", "r_regionkey")), 5)


if __name__ == "__main__":
    unittest.main()
