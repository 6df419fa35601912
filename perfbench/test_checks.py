#!/usr/bin/env python3
"""Output checks count a wrong output as a failed op.

    python3 perfbench/test_checks.py

Plants outputs next to a tiny DuckDB-made input, feeds run.py's checks the
records a harness run would leave, and asserts that a wrong output (a
changed value, a missing row, a changed fingerprint) turns into a failed
op: ``failed`` goes up, ``correct`` goes false and ``ok_ratio`` (the
end-to-end form of 1 - fail_ratio) drops below 1. No JVM is needed.
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

ORACLE = "SELECT c_mktsegment, count(*) AS n FROM customer GROUP BY c_mktsegment"


class PlantedWrongOutput(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="perfbench-test-")
        self.input = os.path.join(self.tmp, "in")
        os.makedirs(self.input)
        con = duckdb.connect()
        con.execute(f"""COPY (SELECT i AS c_custkey, ['A', 'B', 'C'][i % 3 + 1] AS c_mktsegment
            FROM range(30) t(i)) TO '{self.input}/customer.parquet' (FORMAT PARQUET)""")
        con.close()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def plant(self, out_dir, name, sql):
        os.makedirs(os.path.join(out_dir, name))
        con = duckdb.connect()
        con.execute(f"CREATE VIEW customer AS SELECT * FROM '{self.input}/customer.parquet'")
        con.execute(f"COPY ({sql}) TO '{out_dir}/{name}/part-0.parquet' (FORMAT PARQUET)")
        con.close()

    def records(self, workload, names, outputs=()):
        recs = [{"kind": "setup", "setup_s": 1.0, "session_s": 0.5, "cores": 1},
                {"kind": "heap", "mb": 1.0},
                {"kind": "oracles", "sql": {"p2_staging_customer": ORACLE, "q_seg": ORACLE}}]
        for p in (0, 1, 2):
            # query_mix writes its results in the warm-up pass only
            outs = outputs if workload != "query_mix" or p == 1 else ()
            recs.append({"kind": "pass", "pass": p, "start_ms": 0.0, "end_ms": 1.0,
                         "wall_s": 1.0, "cpu_s": 1.0, "compiles": 0, "compile_s": 0.0,
                         "rdds": 0, "unpersist_s": 0.0,
                         "outputs": [{"name": n, "dir": d} for n, d in outs]})
            recs += [{"kind": "op", "pass": p, "name": n, "start_ms": 0.0, "end_ms": 1.0,
                      "ok": True, "error": "", "attempts": 1} for n in names]
        return recs

    def outcome(self, workload, recs):
        fails = run.check_passes(workload, recs, self.input)
        res = run.summarize(workload, recs, fails, trace=0)
        return res, res["metrics"]["ok_ratio"]["value"]

    def test_query_output_checked_against_oracle(self):
        check = os.path.join(self.tmp, "check")
        self.plant(check, "q_seg", ORACLE)
        res, ok = self.outcome("query_mix", self.records("query_mix", ["q_seg"], [("q_seg", f"{check}/q_seg")]))
        self.assertEqual((res["correct"], res["failed"], ok), (True, 0, 1.0))

        shutil.rmtree(check)
        self.plant(check, "q_seg", ORACLE.replace("count(*)", "count(*) + 1"))
        res, ok = self.outcome("query_mix", self.records("query_mix", ["q_seg"], [("q_seg", f"{check}/q_seg")]))
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)  # the checked (warm-up) pass
        self.assertAlmostEqual(ok, 2 / 3)

    def test_pipeline_stage_output_missing_a_row(self):
        out = os.path.join(self.tmp, "pass")
        self.plant(out, "staging_customer", ORACLE + " HAVING c_mktsegment <> 'C'")
        names = ["sense_customer", "staging_customer"]
        res, ok = self.outcome("etl_dag", self.records(
            "etl_dag", names, outputs=[("staging_customer", f"{out}/staging_customer")]))
        self.assertEqual(res["failed"], 3)
        self.assertEqual(res["attempted"], 6)
        self.assertAlmostEqual(ok, 0.5)

    def test_fingerprint_without_oracle(self):
        out = os.path.join(self.tmp, "pass")
        self.plant(out, "deduped", "SELECT * FROM customer")
        rows, h = run.fingerprint(f"{out}/deduped")
        expected = {"corpus_build": {"deduped": {"rows": rows, "hash": h}}}
        self.assertIsNone(run.check_output("corpus_build", "deduped", f"{out}/deduped",
                                           self.input, {}, expected))
        shutil.rmtree(f"{out}/deduped")
        self.plant(out, "deduped", "SELECT c_custkey, 'Z' AS c_mktsegment FROM customer")
        self.assertEqual(run.check_output("corpus_build", "deduped", f"{out}/deduped",
                                          self.input, {}, expected), "fingerprint mismatch")
        # a listed nondeterministic output is held to its row count only
        expected["nondeterministic"] = {"corpus_build": ["deduped"]}
        self.assertIsNone(run.check_output("corpus_build", "deduped", f"{out}/deduped",
                                           self.input, {}, expected))


if __name__ == "__main__":
    unittest.main()
