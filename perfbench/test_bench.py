"""Tests of the benchmark's own parts (no JVM needed).

Run from the root of a checkout: python3 perfbench/test_bench.py
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

ROWS = 5000


def same_files(a, b, names):
    return all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def path(self, *p):
        return os.path.join(self.dir, *p)

    def test_uber_same_seed_same_bytes_other_seed_differs(self):
        names = [gen.FACT + ".csv", gen.BASE + ".csv", gen.ZONE + ".csv"]
        gen.uber_sources(7, ROWS, self.path("a"))
        gen.uber_sources(7, ROWS, self.path("b"))
        gen.uber_sources(8, ROWS, self.path("c"))
        self.assertTrue(same_files(self.path("a"), self.path("b"), names))
        self.assertFalse(same_files(self.path("a"), self.path("c"), [gen.FACT + ".csv"]))

    def test_ticks_same_seed_same_bytes(self):
        a = gen.uber_ticks(7, ROWS, self.path("a"), 3)
        b = gen.uber_ticks(7, ROWS, self.path("b"), 3)
        c = gen.uber_ticks(9, ROWS, self.path("c"), 3)
        for x, y, z in zip(a, b, c):
            self.assertTrue(filecmp.cmp(x, y, shallow=False))
            self.assertFalse(filecmp.cmp(x, z, shallow=False))

    def test_operator_tables_same_seed_same_bytes(self):
        gen.operator_tables(42, self.path("a"), 0.001)
        gen.operator_tables(42, self.path("b"), 0.001)
        gen.operator_tables(43, self.path("c"), 0.001)
        names = sorted(os.listdir(self.path("a")))
        self.assertEqual(len(names), 10)
        self.assertTrue(same_files(self.path("a"), self.path("b"), names))
        self.assertFalse(same_files(self.path("a"), self.path("c"), ["lineitem.parquet"]))

    def test_uber_contract(self):
        gen.uber_sources(3, ROWS, self.path("full"))
        gen.uber_sources(3, ROWS, self.path("janmay"), months="janmay")
        con = oracle.uber_connection(self.path("full"))
        f = gen.FACT
        one = lambda sql: con.sql(sql).fetchone()[0]  # noqa: E731
        self.assertEqual(one(f"SELECT count(*) FROM {f}"), ROWS)
        self.assertEqual(one(f"SELECT count(*) FROM {f} WHERE dispatching_base_num IS NULL"), 0)
        # every foreign key resolves, so the source checks pass
        self.assertEqual(one(f"""SELECT count(*) FROM {f} r LEFT JOIN {gen.BASE} b
            ON b.base_num = r.dispatching_base_num WHERE b.base_num IS NULL"""), 0)
        self.assertEqual(one(f"""SELECT count(*) FROM {f} r LEFT JOIN {gen.BASE} b
            ON b.base_num = r.affiliated_base_num
            WHERE r.affiliated_base_num IS NOT NULL AND b.base_num IS NULL"""), 0)
        self.assertEqual(one(f"""SELECT count(*) FROM {f} r LEFT JOIN {gen.ZONE} z
            ON z.locationid = r.locationid WHERE z.locationid IS NULL"""), 0)
        nulls = one(f"SELECT avg(CASE WHEN affiliated_base_num IS NULL THEN 1.0 ELSE 0 END) FROM {f}")
        self.assertAlmostEqual(nulls, gen.AFFILIATED_NULL_SHARE, delta=0.02)
        # skewed: the top three bases carry most pickups
        top3 = one(f"""SELECT sum(n) FROM (SELECT count(*) n FROM {f}
            GROUP BY dispatching_base_num ORDER BY n DESC LIMIT 3)""")
        self.assertGreater(top3 / ROWS, 0.6)
        months = con.sql(f"SELECT DISTINCT month(pickup_date) FROM {f} ORDER BY 1").fetchall()
        self.assertEqual([m[0] for m in months], [1, 2, 3, 4, 5, 6])
        held = oracle.uber_connection(self.path("janmay"))
        self.assertEqual(held.sql(f"SELECT max(month(pickup_date)) FROM {f}").fetchone()[0], 5)


class OracleTest(unittest.TestCase):

    def frame(self):
        return pd.DataFrame({"b": ["x", "y", "z"], "a": [3, 1, 2], "c": [0.5, 1.5, 2.5]})

    def test_compare_ignores_row_and_column_order(self):
        f = self.frame()
        self.assertIsNone(oracle.compare(f, f.iloc[::-1][["c", "a", "b"]]))

    def test_planted_row_is_caught(self):
        f = self.frame()
        self.assertTrue(oracle.planted_row_caught(f, f.copy(), oracle.compare))
        self.assertTrue(oracle.planted_row_caught(f, f.copy(), oracle.compare_uber))

    def test_dtype_mismatch_fails_registry_compare_only(self):
        f = self.frame()
        g = f.astype({"a": "int32"})
        self.assertIsNotNone(oracle.compare(f, g))
        self.assertIsNone(oracle.compare_uber(f, g))

    def test_uber_models_run_on_generated_sources(self):
        with tempfile.TemporaryDirectory() as d:
            gen.uber_sources(5, ROWS, d)
            exp = oracle.uber_expected(oracle.uber_connection(d))
        self.assertEqual(sorted(exp), sorted(oracle.UBER_MODELS))
        self.assertEqual(len(exp["top_3_base_names_by_total_pickups"]), 3)
        self.assertTrue(all(len(v) for v in exp.values()))

    def test_registry_oracle_reads_parquet_dirs(self):
        with tempfile.TemporaryDirectory() as d:
            gen.operator_tables(42, os.path.join(d, "data"), 0.001)
            out = os.path.join(d, "out")
            os.makedirs(out)
            duckdb.sql(f"COPY (SELECT r_name FROM '{d}/data/region.parquet') "
                       f"TO '{out}/part-0.parquet' (FORMAT parquet)")
            reg = oracle.RegistryOracle(os.path.join(d, "data"),
                                        {"q": "SELECT r_name FROM region"})
            self.assertIsNone(reg.check("q", out))
            self.assertIsNotNone(reg.check("missing", out))


class MetricsTest(unittest.TestCase):

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(run.tail(list(range(10)))["value"])
        t = run.tail(list(range(1, 21)))
        self.assertEqual((t["value"], t["percentile"], t["n"]), (10, 50.0, 20))

    def test_per_layer_covers_every_declared_metric(self):
        import json
        spec = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
        traced = {"ops": [{}], "units": 1, "layers": {}, "late_jobs": 0, "failed_tasks": 0}
        got = run.per_layer("pipeline_full", traced)
        self.assertEqual(sorted(got), sorted(m["name"] for m in spec["per_layer"]))
        self.assertEqual(sorted(run.E2E_UNITS), sorted(m["name"] for m in spec["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
