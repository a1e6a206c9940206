"""Tests of the benchmark itself, on tiny inputs.

Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

Every test starts the benchmark's JVM, so the suite takes several minutes.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.getcwd()
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)
END_TO_END = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in BENCH["per_layer"]}


def run(workload, trace, *extra, cwd=ROOT):
    """Runs one tiny workload; returns (exit code, last stdout line, stderr)."""
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (lines[-1] if lines else ""), p.stderr


class MetricsPrinted(unittest.TestCase):
    """Every metric BENCHMARK.json names is printed, with its unit."""

    def check(self, workload, trace, expected):
        code, line, err = run(workload, trace)
        self.assertEqual(code, 0, err[-3000:])
        record = json.loads(line)
        self.assertEqual(set(record), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(record["correct"], err[-3000:])
        self.assertGreaterEqual(record["attempted"], 1)
        self.assertEqual(record["failed"], 0, err[-3000:])
        units = {k: v["unit"] for k, v in record["metrics"].items()}
        self.assertEqual(units, expected)
        return record

    def test_registered_workloads(self):
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"], trace=0):
                r = self.check(w["name"], 0, END_TO_END)
                for name, m in r["metrics"].items():
                    self.assertGreater(m["value"], 0, name)
            with self.subTest(workload=w["name"], trace=1):
                r = self.check(w["name"], 1, PER_LAYER)
                self.assertGreaterEqual(r["metrics"]["trace.coverage"]["value"], 0.9)

    def test_unregistered_workloads(self):
        for name in ["incremental", "serve"]:
            with self.subTest(workload=name):
                self.check(name, 0, END_TO_END)


class DefectReported(unittest.TestCase):
    def test_every_edit_op_is_failed_and_untimed(self):
        # Editing every turn of one partition leaves the previous run's
        # chunk and checksum rows beside the new ones. Depending on which
        # duplicate the read side keeps, QA fails (and the run is rolled
        # back) or QA passes over a graph with stale chunks that a fresh
        # build does not have. Either way the op is failed and never timed.
        code, line, err = run("edit", 0)
        self.assertEqual(code, 0, err[-3000:])
        r = json.loads(line)
        self.assertEqual(r["failed"], r["attempted"], err[-3000:])
        self.assertNotIn("op_ms", r["metrics"])
        self.assertIn("[perfbench] op failed: edit", err)


class CorruptedOutputFailsItsCheck(unittest.TestCase):
    """A deliberately damaged output must fail the check that guards it."""

    def check_caught(self, workload):
        code, line, err = run(workload, 0, "--corrupt", "1")
        self.assertEqual(code, 0, err[-3000:])
        r = json.loads(line)
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["failed"], 1)

    def test_dropped_triple_in_build(self):
        self.check_caught("build")

    def test_dropped_triple_in_incremental(self):
        self.check_caught("incremental")

    def test_mutated_dedup_pair(self):
        self.check_caught("dedup")


class BareDirectory(unittest.TestCase):
    def test_fails_without_program_sources(self):
        bare = os.path.join(ROOT, ".bench_build", f"bare-{os.getpid()}")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            code, line, _ = run("build", 0, cwd=bare)
            self.assertNotEqual(code, 0)
            self.assertEqual(line, "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
