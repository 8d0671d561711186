"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests -v

Run from the repository root. `SmokeTest` runs every workload at the
tiny size, untraced and traced, and checks the output contract.
`StructureTest` runs two back-to-back traced runs and checks that the
structural counters (jobs, stages, tasks) agree exactly: on the same
input a difference means the tracing lost events or the engine's plan
execution varies from run to run (see README.md for the one it finds).
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(workload, seed, trace, size="tiny", seconds=2):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace), "--size", size],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{workload} exited {p.returncode}: {p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class SmokeTest(unittest.TestCase):
    def check(self, res, wanted):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0)
        self.assertEqual(set(res["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])

    def test_every_workload_tiny(self):
        for w in WORKLOADS:
            with self.subTest(workload=w, trace=0):
                res = run(w, seed=7, trace=0)
                self.check(res, SPEC["end_to_end"])
                for m in SPEC["end_to_end"]:
                    self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])
            with self.subTest(workload=w, trace=1):
                self.check(run(w, seed=7, trace=1), SPEC["per_layer"])

    def test_failed_build_prints_no_result(self):
        # a directory holding only the benchmark (no engine sources)
        # must fail without a result line
        import shutil
        import tempfile
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, "perfbench", "target")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
                 "--seconds", "1", "--trace", "0"], cwd=d, capture_output=True, text=True,
                timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)


class StructureTest(unittest.TestCase):
    def test_traced_counts_repeat(self):
        keys = {
            "video_backlog": ["engine.jobs", "engine.stages", "engine.tasks"],
            "query_mix": [m["name"] for m in SPEC["per_layer"]
                          if m["name"].startswith("queries.")
                          and m["name"].endswith((".jobs", ".tasks"))],
        }
        for w, ks in keys.items():
            with self.subTest(workload=w):
                a = run(w, seed=11, trace=1, size="full", seconds=1)["metrics"]
                b = run(w, seed=11, trace=1, size="full", seconds=1)["metrics"]
                for k in ks:
                    self.assertGreater(a[k]["value"], 0, k)
                    self.assertEqual(a[k]["value"], b[k]["value"], k)


if __name__ == "__main__":
    unittest.main()
