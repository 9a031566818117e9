"""BENCHMARK.json and run.py name the same things."""

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402


class ContractTest(unittest.TestCase):
    def test_benchmark_json_names_every_metric(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]],
                         run.PER_LAYER)
        self.assertIn("setup_s", [m["name"] for m in b["end_to_end"]])

    def test_planned_rounds_fit_the_run_seconds(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            seconds = json.load(fh)["run_seconds"]
        for wl in run.WORKLOADS:
            rounds = run.measured_rounds(wl, seconds)
            self.assertGreaterEqual(rounds, 2)
            self.assertLessEqual(rounds * run.ROUND_S[wl], seconds)


if __name__ == "__main__":
    unittest.main()
