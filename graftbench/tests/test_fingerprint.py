"""Self-test of the query fingerprint's canonicalization: the Scala rule
must print floats exactly as Python's '%.6f' (the DuckDB oracle check's
rounding), and its own checks must pass.

    python3 -m unittest discover -s graftbench/tests
"""
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from benchlib import build  # noqa: E402

SAMPLES = [0.0, -0.0, 1.0, -1.0, 0.0078125, 0.5e-6, 1.5e-6, 2.5e-6, -2.5e-6,
           0.1, 0.2, 0.3, 1e-7, -1e-9, 123.4567895, 98765.4321, 1e20, -3.0000005,
           2.0 ** -20, 12345.6789012345, 0.3333333333333333]


class Canonicalization(unittest.TestCase):
    def test_scala_matches_python_rounding_and_self_checks(self):
        repo = os.path.dirname(HERE)
        classes = build.ensure(repo)
        res = subprocess.run(
            [build.java(), "-XX:-UsePerfData", "-cp", build.classpath(repo, classes),
             "graftbench.SelfTest",
             *[repr(x) for x in SAMPLES]],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, cwd=repo)
        self.assertEqual(res.returncode, 0, res.stderr)
        got = res.stdout.split()
        self.assertEqual(got, ["%.6f" % x for x in SAMPLES])


if __name__ == "__main__":
    unittest.main()
