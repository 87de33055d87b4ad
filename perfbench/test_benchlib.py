"""Tests of the benchmark's own code.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import benchlib

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def span(id, parent, start, end, kind="call", **tags):
    return {"id": id, "parent": parent, "kind": kind, "name": f"s{id}",
            "start": start, "end": end, "attrs": {}, "tags": tags}


class GeneratorTest(unittest.TestCase):
    def digest(self, workload, seed):
        with tempfile.TemporaryDirectory() as out:
            p = subprocess.run([sys.executable, os.path.join(BENCH, "gen.py"),
                                "--workload", workload, "--seed", str(seed), "--out", out,
                                "--curate-posts", "3000", "--stream-files", "20",
                                "--posts-per-file", "20"],
                               capture_output=True, text=True, check=True)
            return json.loads(p.stdout)["digest"]

    def test_same_seed_same_inputs_across_processes(self):
        for w in ("curate_batch", "stream_ingest", "query_mix"):
            self.assertEqual(self.digest(w, 7), self.digest(w, 7), w)

    def test_different_seeds_different_inputs(self):
        for w in ("curate_batch", "stream_ingest", "query_mix"):
            self.assertNotEqual(self.digest(w, 7), self.digest(w, 8), w)


class PercentileTest(unittest.TestCase):
    def test_refuses_fewer_than_ten_beyond(self):
        with self.assertRaises(ValueError):
            benchlib.tail_percentile(range(99), 90)
        with self.assertRaises(ValueError):
            benchlib.tail_percentile(range(50), 99)

    def test_nearest_rank_with_ten_beyond(self):
        self.assertEqual(benchlib.tail_percentile(range(1, 101), 90), 90)
        self.assertEqual(benchlib.tail_percentile(range(1, 21), 50), 10)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_on_hand_built_tree(self):
        spans = [
            span(1, 0, 0, 100, kind="pass"),
            span(2, 1, 10, 30),    # overlaps 3: union 10..50
            span(3, 1, 20, 50),
            span(4, 1, 60, 70),
            span(5, 1, 90, 120),   # clipped to the parent: 90..100
            span(6, 2, 12, 18, kind="job"),
        ]
        t = benchlib.SpanTree(spans)
        self.assertAlmostEqual(t.self_time(t.by_id[1]), 100 - 40 - 10 - 10)
        self.assertAlmostEqual(t.self_time(t.by_id[2]), 20 - 6)
        self.assertAlmostEqual(t.self_time(t.by_id[6]), 6)

    def test_layer_metrics_use_the_tree(self):
        spans = [
            span(1, 0, 0, 1000, kind="pass"),
            span(2, 1, 0, 400, layer="queries", phase="construct", group="dedup"),
            span(3, 2, 100, 300, kind="job"),
            span(4, 1, 400, 1000, layer="queries", phase="action", group="dedup"),
            span(5, 4, 500, 900, kind="job"),
        ]
        m = benchlib.layer_metrics(spans, cores=4, info={})
        self.assertEqual(m["exec.jobs"], 2)
        self.assertEqual(m["queries.construct_jobs"], 1)
        self.assertAlmostEqual(m["queries.construct_s"], 0.4)
        self.assertAlmostEqual(m["exec.nojob_s"], 0.4)
        self.assertAlmostEqual(m["calls.self_s"], 0.4)


class EndToEndTest(unittest.TestCase):
    def test_repeated_op_counts_once_at_its_median(self):
        phase = {"passes_s": [3.0, 1.0, 2.0],
                 "ops": [["a", 1.0, True], ["a", 9.0, True], ["a", 4.0, True],
                         ["b", 16.0, True], ["b", 1.0, False],
                         ["backlog/c", 100.0, True]]}
        m = benchlib.e2e_metrics(phase, 1.0, 1.0)
        self.assertEqual(m["pass_s"], 2.0)
        self.assertAlmostEqual(m["op_geomean_ms"], 8.0)  # sqrt(4 * 16)
        self.assertEqual(m["op_p50_ms"], 10.0)


class MetricNamesTest(unittest.TestCase):
    def test_names_are_valid_unique_and_all_reported(self):
        spec = benchlib.load_spec(ROOT)
        e2e, layers = benchlib.metric_names(spec)
        names = e2e + layers
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
            self.assertLessEqual(len(n), 64)
        self.assertEqual(len(names), len(set(names)))
        reported = (set(benchlib.layer_metrics([], cores=4, info={}))
                    | set(benchlib.stream_metrics()) | set(benchlib.RUN_LAYER_METRICS))
        self.assertEqual(set(layers), reported)
        phase = {"ops": [["a", 1.0, True]], "passes_s": [1.0]}
        self.assertEqual(set(e2e), set(benchlib.e2e_metrics(phase, 1.0, 1.0)))


if __name__ == "__main__":
    unittest.main()
