#!/usr/bin/env python3
"""The benchmark's own test: every workload at the tiny `sf0.001` size.

    python3 lambdabench/test_smoke.py

Checks that each workload (the BENCHMARK.json ones and corpus_dedup)
runs, passes its correctness checks and prints exactly the metrics
BENCHMARK.json names (end-to-end untraced, per-layer traced), that a
traced run writes its spans and rollup, that compare.py reads the
records, and that the command fails without printing a result when the
engine sources are absent. Takes a few minutes (one JVM per run).
"""
import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, seed, trace, cwd=ROOT, env=None):
    """run.py of the checkout at `cwd` on the smoke size."""
    return subprocess.run([sys.executable, os.path.join(cwd, "lambdabench", "run.py"),
                           "--workload", workload, "--seed", str(seed), "--seconds", "3",
                           "--trace", str(trace), "--size", "sf0.001"],
                          cwd=cwd, env=env, capture_output=True, text=True, timeout=900)


class SmokeTest(unittest.TestCase):
    def result(self, p):
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        return json.loads(p.stdout.strip().splitlines()[-1])

    def test_workloads_untraced(self):
        names = sorted(m["name"] for m in SPEC["end_to_end"])
        # corpus_dedup is runnable but not listed in BENCHMARK.json
        for w in sorted({w["name"] for w in SPEC["workloads"]} | {"corpus_dedup"}):
            with self.subTest(workload=w):
                res = self.result(run(w, 1, 0))
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)
                self.assertGreaterEqual(res["attempted"], 1)
                self.assertEqual(sorted(res["metrics"]), names)
                self.assertTrue(all(v["value"] > 0 for v in res["metrics"].values()), res)

    def test_traced_run_writes_spans_and_rollup(self):
        res = self.result(run("speed_serve", 2, 1))
        self.assertEqual(sorted(res["metrics"]), sorted(m["name"] for m in SPEC["per_layer"]))
        results = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                               "results")
        spans = max(glob.glob(os.path.join(results, "speed_serve-seed2-sf0.001-trace1-*"
                                                    ".spans.jsonl")), key=os.path.getmtime)
        with open(spans) as f:
            names = {json.loads(l)["name"] for l in f}
        self.assertIn("operators.LexIndex.append", names)
        self.assertIn("model.ServingPointer.resolve", names)
        p = subprocess.run([sys.executable, os.path.join(BENCH, "compare.py"), results, results],
                           capture_output=True, text=True, timeout=120)
        self.assertEqual(p.returncode, 0, p.stderr)
        self.assertIn("speed_serve trace=1", p.stdout)

    def test_fails_without_engine_sources(self):
        d = tempfile.mkdtemp(dir=os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR",
                                                                     ".bench_build")))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "lambdabench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            env = dict(os.environ, CARGO_TARGET_DIR=".bench_build")
            p = run("corpus_dedup", 1, 0, cwd=d, env=env)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
