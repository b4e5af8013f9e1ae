"""compare_oracle.py on a fake Verify dump over a one-row fake lake.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import duckdb

TOOL = os.path.join(os.path.dirname(os.path.abspath(__file__)), "compare_oracle.py")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


class CompareOracleTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.lake = os.path.join(self.tmp.name, "lake")
        self.dump = os.path.join(self.tmp.name, "dump")
        os.makedirs(self.lake)
        os.makedirs(self.dump)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"COPY (SELECT 1 AS x) TO '{self.lake}/{t}.parquet' (FORMAT PARQUET)")
        oracle = {"a": "SELECT x FROM region", "b": "SELECT x + 1 AS x FROM region"}
        with open(os.path.join(self.dump, "oracle_sql.json"), "w") as f:
            json.dump(oracle, f)
        self.write("a", "SELECT 1 AS x")

    def tearDown(self):
        self.tmp.cleanup()

    def write(self, name, sql):
        os.makedirs(os.path.join(self.dump, name))
        duckdb.connect().execute(
            f"COPY ({sql}) TO '{self.dump}/{name}/part-0.parquet' (FORMAT PARQUET)")

    def run_tool(self, only=None):
        env = dict(os.environ)
        env.pop("COMPARE_ONLY", None)
        if only:
            env["COMPARE_ONLY"] = only
        report = os.path.join(self.tmp.name, "report.json")
        p = subprocess.run([sys.executable, TOOL, self.dump, self.lake, report],
                           env=env, capture_output=True, text=True)
        return p.returncode, p.stdout, json.load(open(report))

    def test_oracle_entry_without_output_fails(self):
        rc, out, rep = self.run_tool()
        self.assertEqual(rc, 1)
        self.assertIn("FAIL b: no output directory", out)
        self.assertIn("FAIL: 1/2 queries clean", out)
        self.assertFalse(rep["queries"]["b"]["pass"])

    def test_missing_output_outside_compare_only_is_out_of_scope(self):
        rc, out, _ = self.run_tool(only="a")
        self.assertEqual(rc, 0)
        self.assertIn("PASS: 1/1 queries clean", out)

    def test_missing_output_inside_compare_only_fails(self):
        rc, out, _ = self.run_tool(only="b")
        self.assertEqual(rc, 1)
        self.assertIn("FAIL: 0/1 queries clean", out)

    def test_all_outputs_present_and_exact_pass(self):
        self.write("b", "SELECT 2 AS x")
        rc, out, _ = self.run_tool()
        self.assertEqual(rc, 0)
        self.assertIn("PASS: 2/2 queries clean", out)

    def test_wrong_value_fails(self):
        self.write("b", "SELECT 3 AS x")
        rc, out, _ = self.run_tool()
        self.assertEqual(rc, 1)
        self.assertIn("FAIL b: 1 cell mismatches", out)


if __name__ == "__main__":
    unittest.main()
