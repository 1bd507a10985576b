"""Generator determinism and latest-wins model checks (JVM side).

Builds the engine and the harness like perfbench/run.py does, then runs
perfbench.SelfTest. Run from the root of a checkout:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import run  # noqa: E402


class GeneratorAndModel(unittest.TestCase):
    def test_self_checks_pass(self):
        try:
            cp = run.build(os.getcwd())
        except run.SetupError as e:
            self.skipTest(str(e))
        r = subprocess.run(run.jvm(cp, os.path.join(os.getcwd(), ".bench_out"), "1g")
                           + ["perfbench.SelfTest"],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        lines = [ln for ln in r.stdout.splitlines() if ln.startswith(("ok ", "FAIL "))]
        self.assertTrue(lines, r.stdout[-3000:])
        self.assertEqual([ln for ln in lines if ln.startswith("FAIL")], [], r.stdout[-3000:])
        self.assertEqual(r.returncode, 0, r.stdout[-3000:])


if __name__ == "__main__":
    unittest.main()
