"""Tests of the benchmark harness itself (not of the engine).

    python3 -m unittest discover -s perfbench/tests     # from the repo root

The failure tests start the JVM, so they take about a minute.
"""
import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
(ROOT / ".bench_work").mkdir(exist_ok=True)


def run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)


def last_json(out):
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None


def record(workload, seed, trace=0):
    cores = next((ROOT / ".bench_work" / "records").glob("cores-*"))
    return json.loads((cores / f"{workload}-s{seed}-t{trace}.json").read_text())


class ForcedFailure(unittest.TestCase):
    """A failing operation or a mismatching check is counted, never timed."""

    def test_operation_that_throws_is_failed_not_a_sample(self):
        out = run("--workload", "etl_backfill", "--seed", "901", "--seconds", "1",
                  "--trace", "0", "--inject-failure", "op")
        self.assertNotEqual(out.returncode, 0)
        res = last_json(out)
        self.assertEqual(res["failed"], 1)
        self.assertFalse(res["correct"])
        rec = record("etl_backfill", 901)
        # operation 0 threw; the others are samples; plus the end-of-run check
        self.assertEqual(res["attempted"], len(rec["ops"]) + 2)
        self.assertTrue(any("injected operation failure" in e for e in rec["errors"]))

    def test_no_samples_gives_no_value(self):
        out = run("--workload", "etl_backfill", "--seed", "903", "--seconds", "1",
                  "--trace", "0", "--inject-failure", "all-ops")
        self.assertNotEqual(out.returncode, 0)
        res = last_json(out)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], res["attempted"] - 1)
        self.assertIsNone(res["metrics"]["op_p50_s"]["value"])

    def test_check_mismatch_fails_the_run(self):
        out = run("--workload", "etl_backfill", "--seed", "902", "--seconds", "1",
                  "--trace", "0", "--inject-failure", "check")
        self.assertNotEqual(out.returncode, 0)
        res = last_json(out)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)
        # operation 0 mismatched and left no sample
        self.assertEqual(len(record("etl_backfill", 902)["ops"]), res["attempted"] - 2)


class Hygiene(unittest.TestCase):

    def test_fails_without_the_engine_sources(self):
        with tempfile.TemporaryDirectory(dir=ROOT / ".bench_work") as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(ROOT / "perfbench", Path(d) / "perfbench")
            out = run("--workload", "etl_backfill", "--seed", "1", "--seconds", "1",
                      "--trace", "0", cwd=d)
            self.assertNotEqual(out.returncode, 0)
            self.assertIsNone(last_json(out))

    def test_compare_refuses_other_core_counts(self):
        with tempfile.TemporaryDirectory(dir=ROOT / ".bench_work") as d:
            rec = {"workload": "etl_backfill", "trace": False, "cpu_probe_s": 0.4,
                   "result": {"metrics": {}}}
            for cores, name in ((4, "a.json"), (32, "b.json")):
                (Path(d) / name).write_text(json.dumps(dict(rec, cores=cores)))
            out = subprocess.run([sys.executable, "perfbench/records.py", "compare",
                                  str(Path(d) / "a.json"), str(Path(d) / "b.json")],
                                 cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            self.assertEqual(out.returncode, 2)
            self.assertIn("refusing", out.stderr)


if __name__ == "__main__":
    unittest.main()
