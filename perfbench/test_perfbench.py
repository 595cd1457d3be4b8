#!/usr/bin/env python3
"""The benchmark's own tests.

Run from the root of a checkout:  python3 -m unittest perfbench/test_perfbench.py

They show that inputs depend only on the seed, that every correctness
check rejects a corrupted result, and that a failed operation is
counted but never contributes a latency. The JVM half (perfbench.SelfTest)
builds the harness first if needed.
"""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402

import run  # noqa: E402
import star_schema  # noqa: E402


class StarSchemaInputs(unittest.TestCase):
    def test_same_seed_same_tables_other_seed_other_tables(self):
        a, b, c = star_schema.tables(7), star_schema.tables(7), star_schema.tables(8)
        for name in star_schema.ROWS:
            self.assertTrue(a[name].equals(b[name]), name)
            self.assertEqual(a[name].num_rows, star_schema.ROWS[name], name)
        changed = [n for n in star_schema.ROWS if not a[n].equals(c[n])]
        # region and nation are fixed dimension tables; the rest are drawn
        self.assertEqual(sorted(set(star_schema.ROWS) - set(changed)), ["nation", "region"])


class OracleCheck(unittest.TestCase):
    SQL = "SELECT * FROM (VALUES (1, 1.5, 'a'), (2, 2.25, 'b'), (3, 3.0, NULL)) t(k, v, s)"

    def check(self, rows):
        canon, eq = run.comparator()
        con = duckdb.connect()
        return run.compare_rows(canon, eq, ["k", "v", "s"], rows, con.sql(self.SQL))

    def test_accepts_the_same_rows_in_any_order(self):
        self.assertIsNone(self.check([(3, 3.0, None), (1, 1.5, "a"), (2, 2.25, "b")]))

    def test_rejects_a_dropped_row(self):
        self.assertIsNotNone(self.check([(1, 1.5, "a"), (2, 2.25, "b")]))

    def test_rejects_a_value_that_is_only_close(self):
        self.assertIsNotNone(self.check([(1, 1.5, "a"), (2, 2.25 + 1e-12, "b"), (3, 3.0, None)]))


class FailureAccounting(unittest.TestCase):
    def test_failed_operations_count_but_add_no_latency(self):
        res = {"workload": "query-mix", "measured_s": 2.0, "ready_s": 1.0,
               "gen_s": 2.0, "warm_s": 4.0, "peak_rss_mb": 100.0,
               "layers": {}, "info": {},
               "ops": [{"kind": "read", "name": "q1", "ms": 10.0, "ok": True},
                       {"kind": "read", "name": "q2", "ms": 9000.0, "ok": False},
                       {"kind": "read", "name": "q1", "ms": 30.0, "ok": True}]}
        m = run.measured_metrics(res)
        self.assertEqual(m["read_p50_ms"], 20.0)
        self.assertEqual(m["read_samples"], 2)
        self.assertEqual(m["reads_per_s"], 1.0)
        self.assertAlmostEqual(m["fail_ratio"], 1 / 3)
        self.assertEqual(m["setup_s"], 1.0 + 2.0 + 4.0)


class JvmSelfTest(unittest.TestCase):
    def test_jvm_inputs_and_checks(self):
        cp = run.build()
        opens = [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        p = subprocess.run(["java", "-Xmx1g"] + opens + ["-cp", cp, "perfbench.SelfTest"],
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                           timeout=300, stdin=subprocess.DEVNULL)
        print(p.stdout)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-2000:])
        self.assertNotIn("FAIL", p.stdout)


if __name__ == "__main__":
    unittest.main()
