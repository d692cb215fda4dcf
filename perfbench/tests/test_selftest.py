"""Self-test of the benchmark: every workload at toy size prints every
metric BENCHMARK.json names, with its unit, and passes its output checks;
a tampered output is caught and counted as a failed op.

Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

Each case starts a JVM and builds small indexes, so the whole file takes a
few minutes.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
# gated workloads plus the ungated ones run.py also offers
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["curation_stream"]


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "3", "--trace", str(trace), "--toy", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class SelfTest(unittest.TestCase):
    def assert_metrics(self, result: dict, spec: list) -> None:
        self.assertEqual(sorted(result), ["attempted", "correct", "failed", "metrics"])
        for m in spec:
            self.assertIn(m["name"], result["metrics"])
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(result["metrics"][m["name"]]["value"], (int, float))
        self.assertTrue(result["correct"], result)
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)

    def test_end_to_end_metrics(self) -> None:
        for w in WORKLOADS:
            with self.subTest(workload=w):
                self.assert_metrics(run(w, 0), SPEC["end_to_end"])

    def test_per_layer_metrics(self) -> None:
        for w in WORKLOADS:
            with self.subTest(workload=w):
                self.assert_metrics(run(w, 1), SPEC["per_layer"])

    def test_tampered_output_is_counted(self) -> None:
        # two lines of one reducer file swapped: the key-order check fails
        r = run("wordcount_jobs", 0, "--tamper")
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["failed"], 1)


if __name__ == "__main__":
    unittest.main()
