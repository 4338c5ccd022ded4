#!/usr/bin/env python3
"""The benchmark's own test, at the "tiny" scale.

Usage (from the repository root): python3 graftbench/test_bench.py

Checks that every workload prints the metric names and units listed in
BENCHMARK.json, that two traced runs with one seed execute the same op
sequence with identical layer counts, that a corrupted expected digest is
reported as a failed op, and that the engine fails no op. Makes seven
runs, about seven minutes on 4 cores.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["catalog", "lakehouse"]
SEED = 11


def bench(workload, trace, expected=None):
    """Runs one tiny workload; returns its result line and its ledger."""
    with tempfile.TemporaryDirectory() as tmp:
        ledger = os.path.join(tmp, "ledger.json")
        cmd = [sys.executable, os.path.join(HERE, "run.py"),
               "--workload", workload, "--seed", str(SEED), "--seconds", "4",
               "--trace", str(trace), "--scale", "tiny", "--ledger", ledger]
        if expected:
            cmd += ["--expected", expected]
        out = subprocess.run(cmd, capture_output=True, text=True)
        if out.returncode != 0:
            raise AssertionError(f"{workload} run failed:\n{out.stderr[-3000:]}")
        with open(ledger) as f:
            return json.loads(out.stdout.splitlines()[-1]), json.load(f)


def units(result):
    return {k: v["unit"] for k, v in result["metrics"].items()}


class BenchTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
            spec = json.load(f)
        cls.end_to_end = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        cls.per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}

    def test_end_to_end_metrics_and_zero_failures(self):
        for w in WORKLOADS:
            result, _ = bench(w, 0)
            self.assertEqual(units(result), self.end_to_end, w)
            self.assertEqual(result["failed"], 0, w)
            self.assertTrue(result["correct"], w)

    def test_traced_runs_repeat(self):
        for w in WORKLOADS:
            (a, la), (b, lb) = bench(w, 1), bench(w, 1)
            self.assertEqual(units(a), self.per_layer, w)
            self.assertEqual((a["failed"], b["failed"]), (0, 0), w)
            self.assertEqual(la["sequence"], lb["sequence"], w)
            counts = [n for n, u in self.per_layer.items() if u == "count"
                      and (n == "spark.jobs" or n.startswith("plan."))]
            for n in counts:
                self.assertEqual(a["metrics"][n]["value"],
                                 b["metrics"][n]["value"], f"{w} {n}")

    def test_corrupted_digest_fails_its_op(self):
        with open(os.path.join(HERE, "expected", "tiny.txt")) as f:
            lines = f.read().splitlines()
        bad = [l if not l.startswith("tpch_q19 ") else "tpch_q19 0:0:0 pass"
               for l in lines]
        self.assertNotEqual(bad, lines)
        with tempfile.NamedTemporaryFile("w", suffix=".txt") as f:
            f.write("\n".join(bad) + "\n")
            f.flush()
            result, ledger = bench("catalog", 0, expected=f.name)
        failed = {o["op"]: o["failed"] for o in ledger["ops"] if o["failed"]}
        passes = ledger["sequence"].count("tpch_q19")
        self.assertEqual(failed, {"tpch_q19": passes})
        self.assertEqual(result["failed"], passes)
        self.assertFalse(result["correct"])


if __name__ == "__main__":
    unittest.main(verbosity=2)
