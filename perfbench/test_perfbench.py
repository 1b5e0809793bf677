"""Self-tests of the benchmark harness; no Spark needed.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import medallion  # noqa: E402
import run  # noqa: E402
import tables  # noqa: E402
from trace import Span, covered, self_time  # noqa: E402

SMALL = dict(n_series=3, days=60, anp_rows=500)


def tree(d):
    """Relative path -> bytes of every file under `d`."""
    out = {}
    for root, _, fs in os.walk(d):
        for f in fs:
            with open(os.path.join(root, f), "rb") as fh:
                out[os.path.relpath(os.path.join(root, f), d)] = fh.read()
    return out


class SelfTime(unittest.TestCase):
    def test_union_of_overlapping_children_is_subtracted_once(self):
        top = Span("top", None, 0.0, 10.0)
        kids = [Span("k", top, 1.0, 3.0), Span("k", top, 2.0, 5.0), Span("k", top, 8.0, 12.0)]
        grandchild = Span("g", kids[0], 1.5, 2.5)
        spans = [top, *kids, grandchild]
        self.assertAlmostEqual(self_time(top, spans), 10.0 - 4.0 - 2.0)
        self.assertAlmostEqual(self_time(kids[0], spans), 1.0)
        self.assertAlmostEqual(self_time(grandchild, spans), 1.0)

    def test_covered(self):
        self.assertAlmostEqual(covered([(0, 1), (5, 6)], 0.5, 5.5), 1.0)
        self.assertEqual(covered([], 0, 1), 0.0)


class Determinism(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_medallion_inputs(self):
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        medallion.generate(7, a, **SMALL)
        medallion.generate(7, b, **SMALL)
        medallion.generate(8, c, **SMALL)
        self.assertEqual(tree(a), tree(b))
        self.assertNotEqual(tree(a), tree(c))

    def test_analytics_tables(self):
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        tables.generate(7, a)
        tables.generate(7, b)
        tables.generate(8, c)
        self.assertEqual(tree(a), tree(b))
        self.assertNotEqual(tree(a), tree(c))


class MedallionCheck(unittest.TestCase):
    """The check passes on tiers written from the expectation itself and
    fails once any tier is corrupted."""

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.inputs = medallion.generate(3, os.path.join(self.tmp, "in"), **SMALL)
        self.con, self.summary = medallion.expected(self.inputs, "base")
        self.out = os.path.join(self.tmp, "out")
        w = lambda sql, path: self.con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
        os.makedirs(f"{self.out}/silver/bcb_sgs.parquet")
        os.makedirs(f"{self.out}/silver/anp_prices.parquet")
        os.makedirs(f"{self.out}/gold")
        w("SELECT * FROM exp_bcb", f"{self.out}/silver/bcb_sgs.parquet/part-0.parquet")
        w("SELECT * FROM exp_anp_full", f"{self.out}/silver/anp_prices.parquet/part-0.parquet")
        self.con.execute(f"""COPY (SELECT * FROM exp_bcb_monthly) TO '{self.out}/gold/bcb_monthly'
            (FORMAT PARQUET, PARTITION_BY (series_id))""")
        self.con.execute(f"""COPY (SELECT * FROM exp_anp_monthly) TO '{self.out}/gold/anp_monthly'
            (FORMAT PARQUET, PARTITION_BY (uf_sigla))""")
        with open(f"{self.out}/gold/summary.md", "w", encoding="utf-8") as f:
            f.write(self.summary)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_expectation_passes(self):
        self.assertEqual(medallion.check(self.con, self.summary, self.out), [])

    def test_corrupted_silver_fails(self):
        p = f"{self.out}/silver/bcb_sgs.parquet/part-0.parquet"
        self.con.execute(f"""COPY (SELECT series_id, series_name, date,
            CASE WHEN date = (SELECT min(date) FROM exp_bcb) THEN value + 1 ELSE value END AS value
            FROM exp_bcb) TO '{p}' (FORMAT PARQUET)""")
        self.assertTrue(medallion.check(self.con, self.summary, self.out))

    def test_corrupted_gold_fails(self):
        d = f"{self.out}/gold/anp_monthly"
        shutil.rmtree(d)
        self.con.execute(f"""COPY (SELECT uf_sigla, product, month, avg_price * 1.001 AS avg_price
            FROM exp_anp_monthly) TO '{d}' (FORMAT PARQUET, PARTITION_BY (uf_sigla))""")
        self.assertTrue(medallion.check(self.con, self.summary, self.out))

    def test_corrupted_summary_fails(self):
        with open(f"{self.out}/gold/summary.md", "w", encoding="utf-8") as f:
            f.write(self.summary.replace("ANP - Destaques", "ANP - destaques"))
        self.assertTrue(medallion.check(self.con, self.summary, self.out))

    def test_half_cent_rounding_is_tolerated(self):
        self.assertTrue(medallion._num_close("x = 1.23.", "x = 1.24.", 0.0100001))
        self.assertFalse(medallion._num_close("x = 1.23.", "x = 1.25.", 0.0100001))


class OracleCheck(unittest.TestCase):
    SQL = "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        tables.generate(5, os.path.join(self.tmp, "data"))
        self.oracle = tables.Oracle(os.path.join(self.tmp, "data"))
        self.got = os.path.join(self.tmp, "got")
        os.makedirs(self.got)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def write(self, sql):
        self.oracle.con.execute(f"COPY ({sql}) TO '{self.got}/part-0.parquet' (FORMAT PARQUET)")

    def test_same_output_passes(self):
        self.write(self.SQL)
        self.assertEqual(self.oracle.errors(self.SQL, self.got), [])

    def test_corrupted_output_fails(self):
        self.write("SELECT r_regionkey, CASE WHEN r_regionkey = 2 THEN 'X' ELSE r_name END "
                   "AS r_name FROM region ORDER BY r_regionkey")
        self.assertTrue(self.oracle.errors(self.SQL, self.got))

    def test_missing_row_fails(self):
        self.write(self.SQL.replace("ORDER BY", "WHERE r_regionkey > 0 ORDER BY"))
        self.assertTrue(self.oracle.errors(self.SQL, self.got))


class Names(unittest.TestCase):
    def test_metric_names_agree_with_benchmark_json(self):
        with open(os.path.join(run.REPO, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([m["name"] for m in spec["end_to_end"]], run.E2E_KEYS)
        self.assertEqual([m["name"] for m in spec["per_layer"]], run.layer_keys())
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(run.WORKLOADS))

    def test_fails_without_engine_source(self):
        tmp = tempfile.mkdtemp()
        try:
            shutil.copy(os.path.join(run.REPO, "BENCHMARK.json"), tmp)
            shutil.copytree(HERE, os.path.join(tmp, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "medallion",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=tmp, capture_output=True, text=True, timeout=170)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout, "")
        finally:
            shutil.rmtree(tmp)


if __name__ == "__main__":
    unittest.main()
