#!/usr/bin/env python3
"""Self-test of the benchmark: tiny runs of every workload (sf0.001,
2 s) that must print every metric of BENCHMARK.json with its unit and
pass every correctness gate, where each workload's traced run must
measure its own layers under the names BENCHMARK.json lists; the same
runs with injected output faults (a dropped event, a wrong lineage and
a reordered arrival; a dropped document; a wrong query row), each of
which must be counted as a failure; and a run outside a checkout, which
must fail without printing a result.

    python3 perfbench/selftest.py          # from the repository root
"""

from __future__ import annotations

import importlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
SEED = "7"
# per-layer numbers that may honestly read 0 on a healthy run: Spark
# reports durations in whole ms, and the per-event chain plans its
# one-row segments in less than 1 ms
MAY_BE_ZERO = ("empty_batches", "steal_frac", "chain_classify.latest_offset_ms_p50",
               "chain_sink.latest_offset_ms_p50")


def bench(workload: str, *extra: str, cwd: str = REPO) -> subprocess.CompletedProcess:
    return subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", SEED,
         "--seconds", "2", "--sf", "0.001", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def result(proc: subprocess.CompletedProcess) -> dict:
    if proc.returncode != 0:
        raise AssertionError(f"exit {proc.returncode}: {proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


class SelfTest(unittest.TestCase):
    def check_metrics(self, out: dict, spec: list[dict]) -> None:
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(out["metrics"]), {m["name"] for m in spec})
        for m in spec:
            got = out["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_end_to_end_metrics_and_gates(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                out = result(bench(w, "--trace", "0"))
                self.check_metrics(out, SPEC["end_to_end"])
                self.assertTrue(out["correct"])
                self.assertEqual(out["failed"], 0)
                self.assertGreater(out["attempted"], 0)
                for name, m in out["metrics"].items():
                    self.assertGreater(m["value"], 0, name)

    def test_per_layer_metrics(self):
        """Each workload's traced run prints every per-layer metric, and
        the metrics it measured itself (in its trace file, where nothing
        is filled in) are listed in BENCHMARK.json and non-zero; between
        them the workloads measure every listed metric."""
        listed = {m["name"] for m in SPEC["per_layer"]}
        measured = set()
        for w in WORKLOADS:
            with self.subTest(workload=w):
                out = result(bench(w, "--trace", "1"))
                self.check_metrics(out, SPEC["per_layer"])
                self.assertTrue(out["correct"])
                with open(os.path.join(HERE, ".out", f"trace-{w}-{SEED}.json")) as f:
                    layer = json.load(f)["layer"]
                self.assertLessEqual(set(layer), listed)
                for name, value in layer.items():
                    if not name.endswith(MAY_BE_ZERO):
                        self.assertGreater(value, 0, name)
                measured |= set(layer)
        self.assertEqual(measured, listed)

    def test_injected_fault_is_counted(self):
        sys.path.insert(0, HERE)
        for w in WORKLOADS:
            with self.subTest(workload=w):
                out = result(bench(w, "--trace", "0", "--fault"))
                self.assertFalse(out["correct"])
                # every fault sits on a different event, so each gate
                # that misses its fault lowers the count
                self.assertEqual(out["failed"], importlib.import_module(w).FAULTS)
                self.assertLess(out["metrics"]["ok_frac"]["value"], 1.0)

    def test_fails_outside_a_checkout(self):
        os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
        bare = tempfile.mkdtemp(dir=os.path.join(HERE, ".work"))
        try:
            shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
            for path in SPEC["paths"]:
                shutil.copytree(os.path.join(REPO, path), os.path.join(bare, path),
                                ignore=shutil.ignore_patterns(".work", ".out", "__pycache__"))
            proc = bench(WORKLOADS[0], "--trace", "0", cwd=bare)
            self.assertNotEqual(proc.returncode, 0)
            self.assertNotIn('"metrics"', proc.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
