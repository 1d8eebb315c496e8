"""The benchmark's own tests: every correctness gate must reject a perturbed
result (perfbench.SelfTest), and a run must fail without the engine's
sources.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import build  # noqa: E402
import run  # noqa: E402


class GateTest(unittest.TestCase):
    def test_every_gate_rejects_a_perturbed_result(self):
        classes = build.ensure_built()
        os.makedirs(build.out_dir(), exist_ok=True)
        work = tempfile.mkdtemp(prefix="selftest-", dir=build.out_dir())
        try:
            p = subprocess.run(
                run.java_cmd(classes, work, "perfbench.SelfTest", [], 2),
                capture_output=True, text=True, timeout=300)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        lines = p.stdout.splitlines()
        passes = [x for x in lines if x.startswith("PASS ")]
        fails = [x for x in lines if x.startswith("FAIL ")]
        self.assertEqual(p.returncode, 0, p.stdout[-3000:] + p.stderr[-3000:])
        self.assertEqual(fails, [])
        self.assertEqual(len(passes), 12, "\n".join(lines))


class IsolationTest(unittest.TestCase):
    def test_run_fails_without_the_engine(self):
        """In a directory holding only BENCHMARK.json and the benchmark,
        the run exits non-zero without printing a result."""
        tmp = tempfile.mkdtemp(prefix="perfbench-bare-")
        try:
            shutil.copy(os.path.join(build.ROOT, "BENCHMARK.json"), tmp)
            shutil.copytree(BENCH, os.path.join(tmp, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "elt_daily",
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=tmp, capture_output=True, text=True, timeout=180)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        self.assertNotEqual(p.returncode, 0)
        self.assertNotIn('"correct"', p.stdout)


if __name__ == "__main__":
    unittest.main()
