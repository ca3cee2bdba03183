"""Smoke test of the benchmark: every workload runs briefly at sf0.001,
untraced and traced.

    python3 -m unittest perfbench/test_smoke.py      (from the repo root)

Asserts that each run exits 0, that its result line names every
end-to-end metric of BENCHMARK.json (every per-layer metric when
traced) with its unit, that the detail line carries every
workload-specific metric of perfbench/design.json with a unit, and
that no operation failed and every output check passed.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "6", "--trace", str(trace), "--smoke"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    lines = out.stdout.strip().splitlines()
    return out.returncode, json.loads(lines[-2]), json.loads(lines[-1]), out.stderr


class Smoke(unittest.TestCase):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    design = json.load(open(os.path.join(HERE, "design.json")))

    def check(self, workload, trace):
        rc, detail, result, err = run(workload, trace)
        self.assertEqual(rc, 0, err[-3000:])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        names = self.spec["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in names})
        for m in names:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        wl = self.design["workloads"][workload]
        wanted = wl["detail_metrics"] + (wl["traced_detail_metrics"] if trace else [])
        for name in wanted:
            self.assertIn(name, detail["detail"], f"{workload}: {name}")
            self.assertTrue(detail["detail"][name]["unit"], name)
        self.assertEqual(detail["detail"]["fail_ratio"]["value"], 0)

    def test_serve(self):
        self.check("serve", 0)

    def test_serve_traced(self):
        self.check("serve", 1)

    def test_analytics(self):
        self.check("analytics", 0)

    def test_analytics_traced(self):
        self.check("analytics", 1)


if __name__ == "__main__":
    unittest.main()
