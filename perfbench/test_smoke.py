#!/usr/bin/env python3
"""Smoke test of the benchmark itself: every workload, span and output check
at the smoke size (sf0.001 tables, 20k pages).

    python3 perfbench/test_smoke.py

Each workload runs once traced and once untraced. Takes three to five
minutes on four cores, most of it JVM start-up and JIT warm-up.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SPANS = {
    "pit_features": ["core.PagesGen.pages", "temporal.Windows", "temporal.AsOf.sortMerge",
                     "core.Store.writeFeatures"],
    "query_sweep": ["temporal.queries", "stats.queries", "select.queries", "text.queries",
                    "sim.queries", "graph.queries", "multimodal.queries"],
}


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--size", "smoke"]
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    assert res.returncode == 0, res.stderr[-3000:]
    return json.loads(res.stdout.strip().splitlines()[-1])


class SmokeTest(unittest.TestCase):
    def check(self, workload):
        plain = run(workload, 0)
        self.assertTrue(plain["correct"])
        self.assertEqual(plain["failed"], 0)
        self.assertEqual(set(plain["metrics"]), {m["name"] for m in BENCH["end_to_end"]})
        for m in plain["metrics"].values():
            self.assertGreater(m["value"], 0)

        traced = run(workload, 1)
        self.assertTrue(traced["correct"])
        self.assertEqual(set(traced["metrics"]), {m["name"] for m in BENCH["per_layer"]})
        for span in SPANS[workload]:
            self.assertGreater(traced["metrics"][f"{span}.wall_s"]["value"], 0, span)
            self.assertGreater(traced["metrics"][f"{span}.jobs"]["value"], 0, span)
        for name in ("skew", "trace_overhead", "scaling_eff"):
            self.assertGreater(traced["metrics"][name]["value"], 0, name)

    def test_pit_features(self):
        self.check("pit_features")

    def test_query_sweep(self):
        self.check("query_sweep")


if __name__ == "__main__":
    unittest.main()
