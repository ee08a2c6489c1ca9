"""The benchmark's own tests.

usage: python3 perfbench/tests/test_perfbench.py

The Python half checks the table generator and the DuckDB oracle compare;
the Scala half (perfbench.SelfTest, run here on the built classes) checks
the league, corpus and batch generators and the nba and corpus checks.
"""
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen_tables  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a, b, c = gen_tables.tables(5), gen_tables.tables(5), gen_tables.tables(6)
        self.assertEqual(sorted(a), sorted(oracle.TABLES))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(all(a[n].equals(c[n]) for n in a))

    def test_fixture_schema(self):
        t = gen_tables.tables(1)
        self.assertEqual(str(t["events"].schema.field("ts").type), "timestamp[us]")
        self.assertEqual(str(t["embeddings"].schema.field("embedding").type), "list<item: float>")
        self.assertEqual(t["documents"].num_rows, 500)


class OracleTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(HERE, "work"), exist_ok=True)
        self.dir = tempfile.mkdtemp(dir=os.path.join(HERE, "work"))
        gen_tables.write_all(os.path.join(self.dir, "tables"), 3)
        self.sql = "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey"

    def tearDown(self):
        shutil.rmtree(self.dir)

    def result(self, rows):
        import pyarrow as pa
        d = os.path.join(self.dir, "result")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        pq.write_table(pa.table({"n": [r[1] for r in rows],
                                 "n_regionkey": pa.array([r[0] for r in rows], pa.int32())}),
                       os.path.join(d, "part-0.parquet"))
        return {"q": {"dir": d, "sql": self.sql}}

    def compare(self, rows):
        return oracle.compare(self.result(rows), os.path.join(self.dir, "tables"),
                              os.path.join(self.dir, "cache"))

    def test_true_result_passes(self):
        self.assertEqual(self.compare([(k, 5) for k in range(5)]), [])

    def test_altered_row_fails(self):
        self.assertEqual(len(self.compare([(k, 5 if k else 6) for k in range(5)])), 1)

    def test_missing_row_fails(self):
        self.assertEqual(len(self.compare([(k, 5) for k in range(4)])), 1)

    def test_cached_oracle_is_reused(self):
        self.compare([(k, 5) for k in range(5)])
        self.assertEqual(len(os.listdir(os.path.join(self.dir, "cache"))), 1)
        self.assertEqual(self.compare([(k, 5) for k in range(5)]), [])


class ManifestTest(unittest.TestCase):
    def test_result_names_match_manifest(self):
        import json
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            m = json.load(f)
        self.assertEqual([w["name"] for w in m["workloads"]], list(run.WORKLOADS))
        self.assertEqual([e["name"] for e in m["end_to_end"]], list(run.END_TO_END))
        self.assertEqual([e["name"] for e in m["per_layer"]], list(run.PER_LAYER))


class ScalaSelfTest(unittest.TestCase):
    def test_generators_and_checks(self):
        run.build()
        with open(run.CLASSPATH) as f:
            cp = f.read().strip()
        p = subprocess.run(["java", "-cp", cp, "perfbench.SelfTest"], capture_output=True, text=True)
        sys.stderr.write(p.stdout)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-2000:])


if __name__ == "__main__":
    unittest.main()
