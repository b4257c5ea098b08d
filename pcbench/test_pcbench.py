"""The benchmark's own tests. Run with `python3 pcbench/test_pcbench.py`.

- SelfTest (Scala, tiny seed): same seed gives the same cloud, tiles and
  spec streams; the oracle accepts the program's answers and rejects
  planted wrong ones.
- The runner refuses, with exit code 2 and no result line, to run in a
  directory holding only BENCHMARK.json and the benchmark.
"""
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

import build
import run


class BenchmarkTest(unittest.TestCase):
    def test_determinism_and_oracle(self):
        classes = build.build()
        run.OUT.mkdir(exist_ok=True)
        work = Path(tempfile.mkdtemp(prefix="selftest-", dir=run.OUT))
        (work / "tmp").mkdir()
        try:
            proc = subprocess.run(run.java_cmd(classes, "pcbench.SelfTest", work, [str(work)]),
                                  stdout=subprocess.PIPE, text=True, timeout=600)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        self.assertEqual(proc.returncode, 0)
        self.assertIn("selftest ok", proc.stdout)

    def test_refuses_without_program(self):
        run.OUT.mkdir(exist_ok=True)
        bare = Path(tempfile.mkdtemp(prefix="bare-", dir=run.OUT))
        try:
            shutil.copy(build.ROOT / "BENCHMARK.json", bare)
            shutil.copytree(build.BENCH, bare / build.BENCH.name,
                            ignore=shutil.ignore_patterns("build", "out", "__pycache__"))
            proc = subprocess.run([sys.executable, "pcbench/run.py", "--workload", "select_small",
                                   "--seed", "1", "--seconds", "1", "--trace", "0"],
                                  cwd=bare, stdout=subprocess.PIPE, text=True, timeout=60)
        finally:
            shutil.rmtree(bare, ignore_errors=True)
        self.assertEqual(proc.returncode, 2)
        self.assertNotIn('"correct"', proc.stdout)


if __name__ == "__main__":
    unittest.main()
