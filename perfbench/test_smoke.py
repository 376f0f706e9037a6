"""Smoke tests of the benchmark itself, at a tiny input size.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the root of a checkout. The first test builds the program, like
the benchmark's first run does.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import omop_gen  # noqa: E402
import oracle  # noqa: E402


def bench(*args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=1200)
    return p.returncode, p.stdout, p.stderr


class SmokeTest(unittest.TestCase):

    def run_workload(self, workload, trace):
        code, out, err = bench("--workload", workload, "--seed", "3", "--seconds", "0",
                               "--trace", str(trace), "--patients", "400")
        self.assertEqual(code, 0, err[-2000:])
        last = json.loads(out.strip().splitlines()[-1])
        self.assertEqual(sorted(last), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(last["correct"], out)
        self.assertEqual(last["failed"], 0)
        self.assertGreaterEqual(last["attempted"], 1)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
        self.assertEqual(sorted(last["metrics"]), sorted(names))
        return last["metrics"]

    def test_htn_bp_heavy(self):
        m = self.run_workload("htn_bp_heavy", 0)
        self.assertGreater(m["wall_s"]["value"], 0)

    def test_htn_bp_heavy_traced_with_surface_probe(self):
        m = self.run_workload("htn_bp_heavy", 1)
        self.assertGreater(m["htn.bp_pairs.rows"]["value"], 0)
        for k in ["queries.core.jobs", "queries.htn.jobs", "queries.prepare.ivf.s",
                  "streaming.rolls.jobs", "operators.index_cache.hits"]:
            self.assertGreater(m[k]["value"], 0, k)
        self.assertEqual(m["operators.index_cache.misses"]["value"], 0)

    def test_htn_event_heavy_traced(self):
        m = self.run_workload("htn_event_heavy", 1)
        self.assertGreater(m["htn.cohort.rows"]["value"], 0)
        self.assertGreater(m["htn.qc.s"]["value"], 0)
        self.assertGreater(m["spark.jobs"]["value"], 0)

    def test_without_program_sources_fails_fast(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            code, out, _ = bench("--workload", "htn_bp_heavy", "--seed", "1",
                                 "--seconds", "1", "--trace", "0", cwd=d)
            self.assertNotEqual(code, 0)
            self.assertEqual(out.strip(), "")


class OracleTest(unittest.TestCase):
    """The HTN check must reject a wrong analytical table and a wrong or
    missing funnel."""

    def test_oracle_rejects_a_changed_output(self):
        with open(os.path.join(HERE, "workloads.json")) as f:
            shape = dict(json.load(f)["htn_event_heavy"], patients=300)
        with tempfile.TemporaryDirectory() as d:
            lists = omop_gen.generate(f"{d}/omop", shape, 5)
            omop_gen.write_codelists(f"{d}/codelists", lists)
            o = oracle.HtnOracle(d)
            os.makedirs(f"{d}/good")
            os.makedirs(f"{d}/bad")
            o.con.execute(f"COPY ({oracle.htn_sql()} SELECT * FROM analytical) "
                          f"TO '{d}/good/part-0.parquet' (FORMAT parquet)")
            o.con.execute(f"COPY (SELECT * REPLACE (1 - DX AS DX) FROM "
                          f"read_parquet('{d}/good/*.parquet')) "
                          f"TO '{d}/bad/part-0.parquet' (FORMAT parquet)")
            good = dict(path=f"{d}/good", **{k: str(v) for k, v in o.funnel.items()})
            self.assertEqual(o.check(good, funnel=True), [])
            self.assertNotEqual(o.check(dict(good, path=f"{d}/bad"), funnel=True), [])
            wrong = dict(good, after_esrd=str(o.funnel["after_esrd"] + 1))
            self.assertNotEqual(o.check(wrong, funnel=True), [])
            # a run that reports no funnel where one is required
            self.assertNotEqual(o.check({"path": f"{d}/good"}, funnel=True), [])
            self.assertEqual(o.check({"path": f"{d}/good"}, funnel=False), [])


if __name__ == "__main__":
    unittest.main()
