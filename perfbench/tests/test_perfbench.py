"""Tests of the benchmark itself (not of the program under test).

    python3 -m unittest discover -s perfbench/tests -v

Each test runs the real benchmark (a few JVM runs of about a minute each)
with `--seconds 1`: one measured pass untraced, three traced.
"""
import json
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

RUN = Path(__file__).resolve().parent.parent / "run.py"


def run(workload, seed, *extra):
    r = subprocess.run([sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
                        "--seconds", "1", *extra], capture_output=True, text=True)
    if r.returncode != 0:
        raise AssertionError(f"run failed ({r.returncode}): {r.stderr[-3000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def traced(workload, seed):
    with tempfile.TemporaryDirectory() as d:
        out = Path(d) / "trace.json"
        res = run(workload, seed, "--trace", "1", "--trace-out", str(out))
        return res, json.loads(out.read_text())


class PlantedWrongAnswer(unittest.TestCase):
    def test_one_planted_wrong_answer_is_counted(self):
        clean = run("graph_serve", 1)
        self.assertTrue(clean["correct"])
        self.assertEqual(clean["failed"], 0)
        planted = run("graph_serve", 1, "--plant", "5")
        self.assertFalse(planted["correct"])
        self.assertEqual(planted["failed"], 1)
        self.assertEqual(planted["attempted"], clean["attempted"])


class SeedDeterminism(unittest.TestCase):
    def test_same_seed_same_ops_and_counts(self):
        (r1, t1), (r2, t2) = traced("graph_serve", 7), traced("graph_serve", 7)
        self.assertTrue(r1["correct"] and r2["correct"])
        self.assertEqual(t1["ops_seq"], t2["ops_seq"])
        # bytes written over a fixed count of staged user bytes is write_amp
        for m in ("write.bytes_written", "scan.bytes_read", "graph.smj_per_op"):
            self.assertEqual(r1["metrics"][m]["value"], r2["metrics"][m]["value"], m)
        _, t3 = traced("graph_serve", 8)
        self.assertNotEqual(t1["ops_seq"], t3["ops_seq"])


if __name__ == "__main__":
    unittest.main()
