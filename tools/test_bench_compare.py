"""Tests of the pass-matched comparison in bench_compare.py.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest
from unittest import mock

import bench_compare


def record(passes, steal, pass_steal):
    """A Bench record with one query, q1, timed over len(passes) passes."""
    n = len(passes)
    return {"metric": "total", "value": min(passes), "passes": n,
            "queries": {"q1": min(passes)},
            "pass_steal": pass_steal,
            "query_detail": {"q1": {"passes": passes, "gc_ms": [0] * n,
                                    "gc_pause_ms": [0] * n, "steal": steal,
                                    "codegen_compiles": [0] * n}}}


class PassMatchedTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.dir.cleanup()

    def main(self, a, b):
        paths = []
        for name, rec in (("a.json", a), ("b.json", b)):
            paths.append(os.path.join(self.dir.name, name))
            with open(paths[-1], "w") as f:
                f.write(json.dumps(rec) + "\n")
        out = io.StringIO()
        with mock.patch.object(sys, "argv", ["bench_compare.py", *paths]), \
                contextlib.redirect_stdout(out):
            rc = bench_compare.main()
        return rc, out.getvalue()

    def test_notes_ignore_passes_beyond_the_matched_count(self):
        # A's third pass is its fastest but stole 9000 jiffies; B ran two
        # passes, so the comparison uses A's first two and must not
        # annotate A from the third
        a = record([2.0, 2.6, 1.0], steal=[0, 0, 9000],
                   pass_steal=[100, 100, 90000])
        b = record([2.5, 2.6], steal=[0, 0], pass_steal=[100, 100])
        rc, out = self.main(a, b)
        self.assertIn("PASS-COUNT MISMATCH", out)
        line = next(l for l in out.splitlines() if l.strip().startswith("q1"))
        self.assertIn("2.00 ->    2.50", line)
        self.assertNotIn("[", line)  # no note at all

    def test_notes_still_cite_a_matched_pass(self):
        a = record([2.0, 1.5, 1.0], steal=[0, 9000, 0],
                   pass_steal=[100, 100, 100])
        b = record([2.5, 2.6], steal=[0, 0], pass_steal=[100, 100])
        rc, out = self.main(a, b)
        line = next(l for l in out.splitlines() if l.strip().startswith("q1"))
        self.assertIn("1.50 ->    2.50", line)
        self.assertIn("A: min pass stole 9000 jiffies", line)


if __name__ == "__main__":
    unittest.main()
