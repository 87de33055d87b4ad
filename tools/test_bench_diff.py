"""Tests of tools/bench_diff.py. Run: python3 -m unittest discover -s tools -p 'test_*.py'"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import bench_diff  # noqa: E402


def entry(construct_s, construct_jobs, action_jobs):
    return {"construct_s": construct_s, "action_s": 0.5,
            "construct_jobs": construct_jobs, "action_jobs": action_jobs,
            "stages": 1, "tasks": 4, "error": None}


def run(old, new):
    with tempfile.TemporaryDirectory() as d:
        paths = []
        for name, doc in (("old.json", old), ("new.json", new)):
            p = os.path.join(d, name)
            with open(p, "w") as f:
                json.dump(doc, f)
            paths.append(p)
        out = io.StringIO()
        argv = sys.argv
        sys.argv = ["bench_diff.py"] + paths
        try:
            with contextlib.redirect_stdout(out):
                bench_diff.main()
        finally:
            sys.argv = argv
        return out.getvalue()


class ProfileDiffTest(unittest.TestCase):

    def test_profiles_print_layer_deltas_and_totals(self):
        old = {"session_index": 1.0, "queries": {
            "q01_a": entry(1.0, 2, 1), "q02_b": entry(0.5, 0, 1)}}
        new = {"session_index": 1.1, "queries": {
            "q01_a": entry(0.25, 0, 1), "q02_b": entry(0.5, 0, 1)}}
        out = run(old, new)
        self.assertIn("2 shared queries (profile)", out)
        q01 = next(l for l in out.splitlines() if l.startswith("q01_a"))
        self.assertEqual(q01.split(), ["q01_a", "1.00", "->", "0.25",
                                       "2", "->", "0", "1", "->", "1"])
        # an unchanged query prints no row
        self.assertNotIn("q02_b", out)
        total = next(l for l in out.splitlines() if l.startswith("TOTAL"))
        self.assertEqual(total.split(), ["TOTAL", "1.50", "->", "0.75",
                                         "2", "->", "0", "2", "->", "2"])

    def test_bench_files_keep_the_ratio_report(self):
        old = {"queries": {"q01_a": 1.0, "q02_b": 2.0}}
        new = {"queries": {"q01_a": 1.0, "q02_b": 2.0}}
        out = run(old, new)
        self.assertIn("median ratio 1.00", out)
        self.assertNotIn("(profile)", out)


if __name__ == "__main__":
    unittest.main()
