#!/usr/bin/env python3
"""The benchmark's own tests, at scale factor 0.001 with a few ops.

    python3 perfbench/test_smoke.py        (from the root of a checkout)

Every workload must run, pass its correctness check, and print the
metrics BENCHMARK.json names; with --break-view the check must fail;
the same seed must draw the same inputs; and a directory holding only
the benchmark must fail without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def bench(workload, *extra, trace=0, seed=1):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--smoke", *extra],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, (json.loads(lines[-1]) if lines else None)


def record(workload, seed, trace):
    path = os.path.join(run.WORK, "results", f"{workload}-seed{seed}-trace{trace}.json")
    with open(path) as fh:
        return json.load(fh)


class Smoke(unittest.TestCase):
    def check_metrics(self, result, spec):
        self.assertEqual(list(result["metrics"]), [m["name"] for m in spec])
        for m in spec:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])

    def test_listed_workloads_exist(self):
        names = [w["name"] for w in SPEC["workloads"]]
        self.assertTrue(set(names) <= set(run.WORKLOADS), names)

    def test_each_workload_runs_and_passes_its_check(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                code, result = bench(w)
                self.assertEqual(code, 0)
                self.assertTrue(result["correct"])
                self.assertGreaterEqual(result["attempted"], 1)
                self.assertEqual(result["failed"], 0)
                self.check_metrics(result, SPEC["end_to_end"])
                for m in result["metrics"].values():
                    self.assertGreater(m["value"], 0)

    def test_a_wrong_view_fails_the_check(self):
        # traced, so the same runs also show every per-layer metric
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                code, result = bench(w, "--break-view", trace=1)
                self.assertEqual(code, 1)
                self.assertFalse(result["correct"])
                self.assertEqual(result["failed"], result["attempted"])
                self.check_metrics(result, SPEC["per_layer"])
                self.assertEqual(result["metrics"]["op_fail_ratio"]["value"], 1.0)

    def test_same_seed_same_inputs(self):
        digests = []
        for seed in (5, 5, 6):
            self.assertEqual(bench("q10_bulk", seed=seed)[0], 0)
            digests.append(record("q10_bulk", seed, 0)["inputs_digest"])
        self.assertEqual(digests[0], digests[1])
        self.assertNotEqual(digests[0], digests[2])

    def test_benchmark_alone_fails_without_a_result(self):
        tmp = tempfile.mkdtemp(dir=run.TARGET if os.path.isdir(run.TARGET) else None)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
            shutil.copytree(HERE, os.path.join(tmp, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "q10_bulk",
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=tmp, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=170)
            self.assertNotEqual(proc.returncode, 0)
            self.assertEqual(proc.stdout.strip(), "")
        finally:
            shutil.rmtree(tmp)


if __name__ == "__main__":
    unittest.main()
