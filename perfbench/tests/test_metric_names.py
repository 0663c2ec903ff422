"""The metric names a run emits equal the names in BENCHMARK.json.

This runs the benchmark (untraced and traced) on its cheapest workload,
so it builds the harness first if needed and takes about two minutes.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)


class MetricNamesTest(unittest.TestCase):
    def run_bench(self, trace):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        out = subprocess.run(bench["command"] + ["--workload", "estimator", "--seed", "1",
                                                 "--seconds", "1", "--trace", str(trace)],
                             cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
        return bench, json.loads(out.stdout.strip().splitlines()[-1])

    def test_untraced_run_emits_the_end_to_end_metrics(self):
        bench, res = self.run_bench(0)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(sorted(res["metrics"]), sorted(m["name"] for m in bench["end_to_end"]))
        for m in bench["end_to_end"]:
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])

    def test_traced_run_emits_the_per_layer_metrics(self):
        bench, res = self.run_bench(1)
        self.assertEqual(sorted(res["metrics"]), sorted(m["name"] for m in bench["per_layer"]))
        for m in bench["per_layer"]:
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])


if __name__ == "__main__":
    unittest.main()
