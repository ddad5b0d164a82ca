"""Self-test of the benchmark: a one-pass sf0.001 smoke of each workload.

    python3 -m unittest discover -s perfbench/tests

Checks that every metric BENCHMARK.json names is printed, finite and
carries its unit; that on every traced op construction plus execution time
fit inside the op latency; that the remainder the independent measurements
(job intervals, Catalyst phase times) leave unaccounted is non-negative;
that queries_lazy records Catalyst analysis time; and that stream_ingest
batches are a pure function of the seed.
"""
import hashlib
import json
import math
import os
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")
SF = "0.001"
EPS = 1e-6
# listener job times and Catalyst phase times have millisecond resolution;
# an op sums a handful of them
MS_SLACK = 0.005

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


def run(workload, trace, seed=7, out=None):
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
           "--seconds", "0", "--trace", str(trace), "--sf", SF]
    if out:
        cmd += ["--trace-out", out]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{workload} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class SelfTest(unittest.TestCase):
    def check_metrics(self, res, specs):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0)
        self.assertTrue(res["correct"])
        self.assertEqual(set(res["metrics"]), {m["name"] for m in specs})
        for m in specs:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
            self.assertTrue(math.isfinite(got["value"]), m["name"])

    def test_workloads(self):
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                self.check_metrics(run(w["name"], 0), BENCH["end_to_end"])
                with tempfile.TemporaryDirectory() as d:
                    trace = os.path.join(d, "trace.jsonl")
                    traced = run(w["name"], 1, out=trace)
                    self.check_metrics(traced, BENCH["per_layer"])
                    with open(trace) as fh:
                        ops = [r for r in map(json.loads, fh)
                               if "latency_s" in r and "span" not in r]
                self.assertTrue(ops)
                if w["name"] == "queries_lazy":
                    self.assertGreater(traced["metrics"]["catalyst.analysis_ms"]["value"], 0)
                for op in ops:
                    c = op["counts"]
                    phases = c["queries.construct_s"] + c["operators.exec_s"]
                    self.assertLessEqual(phases, op["latency_s"] + EPS, op)
                    catalyst_s = (c["catalyst.analysis_ms"] + c["catalyst.optimization_ms"]
                                  + c["catalyst.planning_ms"]) / 1e3
                    remainder = op["latency_s"] - c["operators.job_busy_s"] - catalyst_s
                    self.assertAlmostEqual(c["remainder_s"], remainder, delta=EPS, msg=op)
                    self.assertGreaterEqual(remainder, -MS_SLACK, op)

    def test_batches_follow_the_seed(self):
        def digest(seed):
            with tempfile.TemporaryDirectory() as d:
                out = os.path.join(d, "batches.txt")
                run("batches", 0, seed=seed, out=out)
                with open(out, "rb") as fh:
                    return hashlib.sha256(fh.read()).hexdigest()
        self.assertEqual(digest(11), digest(11))
        self.assertNotEqual(digest(11), digest(12))


if __name__ == "__main__":
    unittest.main()
