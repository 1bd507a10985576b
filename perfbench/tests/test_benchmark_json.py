"""BENCHMARK.json declares exactly the metrics the harness computes."""
import json
import os
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))
import metrics  # noqa: E402


class BenchmarkJson(unittest.TestCase):
    def test_metric_lists_match(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as fh:
            b = json.load(fh)
        for key, ours in (("end_to_end", metrics.END_TO_END), ("per_layer", metrics.PER_LAYER)):
            self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in b[key]}, ours)
        self.assertEqual([m["name"] for m in b["end_to_end"]][0], "setup_s")
        self.assertTrue(all(m["bound"] <= 0.25 for m in b["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
