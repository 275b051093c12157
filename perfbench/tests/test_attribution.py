#!/usr/bin/env python3
"""Phase-attribution tests for the perfbench harness.

Run from the root of a graft checkout:

    python3 -m unittest discover -s perfbench/tests -v

Each test runs one op in a traced harness run (a test-only workload in
perfbench/workloads.json) and reads the spans the tracer wrote.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)


def traced_run(workload, seed=7):
    """Runs `workload` traced; returns (result line, spans of traced passes)."""
    r = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    if r.returncode != 0:
        raise AssertionError(f"run.py exited {r.returncode}:\n{r.stderr[-3000:]}")
    result = json.loads(r.stdout.strip().splitlines()[-1])
    with open(os.path.join(BENCH, "out", "runs", f"{workload}-s{seed}-t1", "spans.json")) as f:
        spans = json.load(f)
    return result, spans["ops"]


def phase(op_span, name):
    return next(p for p in op_span["phases"] if p["name"] == name)


class PhaseAttribution(unittest.TestCase):

    def test_q160_eager_jobs_land_in_build(self):
        result, ops = traced_run("attribution_q160")
        self.assertTrue(result["correct"])
        self.assertTrue(ops)
        for op in ops:
            build, execp = phase(op, "build"), phase(op, "exec")
            # PageRank's builder iterates eagerly: its jobs run inside the
            # SparkEntry.queries call, not when the result is collected
            self.assertGreaterEqual(len(build["jobs"]), 10, op)
            self.assertGreater(len(build["jobs"]), len(execp["jobs"]), op)
            self.assertEqual(len(phase(op, "plan")["jobs"]), 0, op)
        m = result["metrics"]
        self.assertGreaterEqual(m["SparkEntry.build_jobs"]["value"], 10)
        self.assertGreater(m["SparkEntry.build_job_ms"]["value"], 0)
        self.assertGreater(m["scheduler.jobs"]["value"], m["SparkEntry.build_jobs"]["value"] - 1)

    def test_q107_single_task_forward_stage_is_serial(self):
        result, ops = traced_run("attribution_q107")
        self.assertTrue(result["correct"])
        for op in ops:
            execp = phase(op, "exec")
            serial = [s for j in execp["jobs"] for s in j["stages"] if s["tasks"] == 1]
            self.assertTrue(serial, op)
            # the forward pass is one task that holds most of exec
            self.assertGreater(max(s["wall_ms"] for s in serial), 0.5 * execp["wall_ms"], op)
        self.assertGreater(result["metrics"]["scheduler.serial_stage_ms"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
