#!/usr/bin/env python3
"""Tests of the benchmark itself, on the tiny size of each workload.

    python3 perfbench/tests/test_perfbench.py

Each case starts one JVM (about half a minute); the first also builds.
"""
import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace=0, fault="none", seed=101, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--size", "tiny", "--fault", fault],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


class Base(unittest.TestCase):
    def assert_metrics(self, result, declared):
        want = {m["name"]: m["unit"] for m in declared}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for k, v in result["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)


class MetricsTest(Base):
    def test_traced_runs_print_every_layer_metric(self):
        for w in ("trickle", "backfill", "query_mix"):
            with self.subTest(workload=w):
                rc, res, err = run(w, trace=1)
                self.assertEqual(rc, 0, err[-3000:])
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)
                self.assert_metrics(res, SPEC["per_layer"])
                self.assertLessEqual(len(json.dumps(res)), 2500)


class OutputCheckTest(Base):
    """Every seeded fault must fail the run, with all metrics still printed."""

    def assert_fails(self, rc, res):
        self.assertEqual(rc, 1)
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)
        self.assert_metrics(res, SPEC["end_to_end"])
        self.assertLessEqual(len(json.dumps(res)), 1500)

    def test_thrown_op_counts_as_failed(self):
        rc, clean, _ = run("trickle", seed=102)
        rc2, res, _ = run("trickle", fault="throw", seed=102)
        self.assertEqual(rc, 0)
        self.assert_fails(rc2, res)
        self.assertEqual(res["failed"], 1)
        self.assertEqual(res["attempted"], clean["attempted"])

    def test_deleted_mirror_file_fails_the_check(self):
        for w in ("trickle", "backfill"):
            with self.subTest(workload=w):
                self.assert_fails(*run(w, fault="mirror_file")[:2])

    def test_wrong_row_count_fails_the_check(self):
        self.assert_fails(*run("query_mix", fault="wrong_rows")[:2])


class BareDirectoryTest(unittest.TestCase):
    def test_exits_non_zero_without_the_program(self):
        scratch = ROOT / ".bench_build"
        scratch.mkdir(exist_ok=True)
        with tempfile.TemporaryDirectory(dir=scratch) as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(ROOT / "perfbench", Path(d) / "perfbench")
            p = subprocess.run(SPEC["command"] + ["--workload", "trickle", "--seed", "1",
                                                  "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main(verbosity=2)
