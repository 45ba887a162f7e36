"""Tests of the comparison step.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import contextlib
import io
import json
import os
import tempfile
import unittest

import compare

ENV = {"local_threads": 4, "heap_max_mb": 3072, "nproc": 4}


def record(workload, metrics, env=ENV):
    return {"workload": workload, "trace": 0, "env": env,
            "host": {"before": {"steal_jiffies": 0}, "after": {"steal_jiffies": 10}},
            "detail": {"timed_phase_s": 10.0},
            "metrics": {k: {"value": v, "unit": "s"} for k, v in metrics.items()}}


class CompareTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.bench = compare.load_bench()
        self.workload = self.bench["workloads"][0]["name"]
        self.metric = next(m for m in self.bench["end_to_end"]
                           if m["better"] == "lower" and m["name"] != "setup_s")

    def tearDown(self):
        self.dir.cleanup()

    def write(self, name, runs):
        path = os.path.join(self.dir.name, name)
        with open(path, "w") as f:
            for r in runs:
                f.write(json.dumps(r) + "\n")
        return path

    def runs(self, values, env=ENV):
        return [record(self.workload, {self.metric["name"]: v}, env) for v in values]

    def main(self, *paths):
        out = io.StringIO()
        with contextlib.redirect_stdout(out), contextlib.redirect_stderr(out):
            rc = compare.main(["compare.py", *paths])
        return rc, out.getvalue()

    def test_refuses_different_environment_stamps(self):
        a = self.write("a.jsonl", self.runs([1.0, 1.0, 1.0]))
        b = self.write("b.jsonl", self.runs([1.0, 1.0, 1.0], env=dict(ENV, local_threads=8)))
        rc, out = self.main(a, b)
        self.assertEqual(rc, 2)
        self.assertIn("refused", out)

    def test_flags_a_regression_beyond_the_bound(self):
        worse = 1.0 + 2 * self.metric["bound"]
        a = self.write("a.jsonl", self.runs([1.0, 1.01, 0.99, 1.0]))
        b = self.write("b.jsonl", self.runs([worse, worse, worse, worse]))
        rc, out = self.main(a, b)
        self.assertEqual(rc, 1)
        self.assertIn("REGRESSION", out)

    def test_within_bound_passes(self):
        near = 1.0 + self.metric["bound"] / 2
        a = self.write("a.jsonl", self.runs([1.0, 1.0, 1.0]))
        b = self.write("b.jsonl", self.runs([near, near, near]))
        rc, out = self.main(a, b)
        self.assertEqual(rc, 0)
        self.assertIn("within bound", out)

    def test_spread_uses_quartiles_over_median(self):
        path = self.write("a.jsonl", self.runs([1.0, 2.0, 3.0, 4.0, 5.0]))
        rc, out = self.main(path)
        self.assertEqual(rc, 1)  # an IQR of 3 over a median of 3 exceeds any bound
        self.assertIn("TOO WIDE", out)

    def test_spread_within_bound_passes(self):
        path = self.write("a.jsonl", self.runs([0.98, 0.99, 1.0, 1.01, 1.02]))
        rc, out = self.main(path)
        self.assertEqual(rc, 0)
        self.assertIn("within bound", out)


if __name__ == "__main__":
    unittest.main()
