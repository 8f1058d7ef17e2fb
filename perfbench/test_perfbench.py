#!/usr/bin/env python3
"""Tests of the benchmark itself; run from the repository root:

    python3 perfbench/test_perfbench.py

- the seeded generator writes identical bytes for a seed and different
  data for another seed (each generation goes to a fresh directory, so the
  input cache cannot make the comparison pass);
- every workload's output check accepts a clean run and rejects the same
  output with one record corrupted (run.py --selftest).
"""
import os
import shutil
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import run  # noqa: E402


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.out = run.build_dir()
        cls.cp = run.ensure_built(cls.out)
        cls.scratch = os.path.join(cls.out, "test-gen")
        shutil.rmtree(cls.scratch, ignore_errors=True)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.scratch, ignore_errors=True)

    def sha(self, workload, seed, tag):
        data = os.path.join(self.scratch, tag)
        os.makedirs(data, exist_ok=True)
        cmd = run.java_cmd(self.cp, self.out, ["--gen-only", "--workload", workload,
                                               "--seed", str(seed), "--data", data])
        p = subprocess.run(cmd, cwd=data, capture_output=True, text=True, timeout=170)
        self.assertEqual(p.returncode, 0, p.stdout[-2000:] + p.stderr[-2000:])
        line = [l for l in p.stdout.splitlines() if l.startswith("generated")][-1]
        return line.rsplit("sha256 ", 1)[1]

    def test_same_seed_same_bytes_other_seed_other_data(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                a = self.sha(w, 7, f"{w}-a")
                b = self.sha(w, 7, f"{w}-b")
                c = self.sha(w, 8, f"{w}-c")
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)


class SelfTest(unittest.TestCase):
    def test_corrupted_output_fails_the_check(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                                    "--workload", w, "--seed", "3", "--selftest"],
                                   capture_output=True, text=True, timeout=600)
                self.assertEqual(p.returncode, 0, p.stdout[-2000:] + p.stderr[-2000:])


if __name__ == "__main__":
    unittest.main()
