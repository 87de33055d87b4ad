"""Tests of tools/bench_pairs.py's verdict math on fixed numbers.
Run: python3 -m unittest discover -s tools -p 'test_*.py'"""
import io
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import bench_pairs  # noqa: E402

PARENT = [2360, 2122, 2561, 2400, 2200, 2500, 2300, 2450, 2150, 2600]


class JudgeTest(unittest.TestCase):
    def test_quartiles_are_statistics_quantiles(self):
        self.assertEqual(bench_pairs.quartiles([1, 2, 3, 4, 5]), (1.5, 3.0, 4.5))
        self.assertEqual(bench_pairs.quartiles([7]), (7, 7, 7))

    def test_gain_needs_nine_of_ten_and_a_gap_beyond_the_parent_iqr(self):
        change = [p - 800 for p in PARENT]
        j = bench_pairs.judge(PARENT, change, bound=0.25)
        self.assertEqual((j["won"], j["lost"]), (10, 0))
        self.assertGreater(j["gap"], j["iqr"])
        self.assertEqual(j["verdict"], "GAIN")

    def test_eight_wins_of_ten_is_no_gain(self):
        change = [p - 800 for p in PARENT]
        change[0] = PARENT[0] + 1
        change[1] = PARENT[1]                    # a tie counts for neither side
        j = bench_pairs.judge(PARENT, change, bound=0.25)
        self.assertEqual((j["won"], j["lost"]), (8, 1))
        self.assertNotEqual(j["verdict"], "GAIN")

    def test_a_gap_inside_the_parent_iqr_is_no_gain(self):
        change = [p - 50 for p in PARENT]        # wins every pair, by little
        j = bench_pairs.judge(PARENT, change, bound=0.25)
        self.assertEqual(j["won"], 10)
        self.assertLess(j["gap"], j["iqr"])
        self.assertEqual(j["verdict"], "SAME")

    def test_worse_beyond_the_bound(self):
        j = bench_pairs.judge([10.0] * 4 + [11.0] * 4, [13.0] * 4 + [14.0] * 4, bound=0.25)
        self.assertEqual(j["verdict"], "WORSE")

    def test_wide_spread_is_unresolved_unless_the_sides_separate(self):
        parent = [10, 20, 10, 20, 10, 20, 10, 20]
        j = bench_pairs.judge(parent, [11, 19, 12, 21, 9, 20, 10, 18], bound=0.25)
        self.assertGreater(j["spread"], 0.25)
        self.assertEqual(j["verdict"], "UNRESOLVED")
        # every change run beats every parent run: resolved, even if wide
        j = bench_pairs.judge([100, 200, 100, 200], [90, 95, 90, 95], bound=0.25)
        self.assertLess(j["gap"], j["iqr"])
        self.assertEqual(j["verdict"], "SAME")

    def test_higher_is_better(self):
        j = bench_pairs.judge([100, 101, 99, 100], [150, 151, 149, 150], bound=0.25,
                              lower_better=False)
        self.assertEqual((j["won"], j["verdict"]), (4, "GAIN"))


class ReportTest(unittest.TestCase):
    def test_seeds_and_op_lines(self):
        self.assertEqual(bench_pairs.parse_seeds("21-23,31", 6), [21, 22, 23, 31, 21, 22])
        err = "[perfbench] x\n[perfbench] op ms: ingest=6450 decontam=3070\n"
        self.assertEqual(bench_pairs.op_ms(err), {"ingest": 6450.0, "decontam": 3070.0})
        self.assertEqual(bench_pairs.op_ms("no line"), {})

    def test_report_pairs_runs_and_judges_each_metric(self):
        bench = {"end_to_end": [{"name": "op_p50_ms", "better": "lower", "bound": 0.25}]}
        records = []
        for i, p in enumerate(PARENT):
            for side, v in (("parent", p), ("change", p - 800)):
                records.append({"pair": i, "side": side, "rc": 0, "op_ms": {"decontam": v},
                                "result": {"attempted": 9, "failed": 0,
                                           "metrics": {"op_p50_ms": {"value": v}}}})
        records.append({"pair": 10, "side": "parent", "rc": 0, "op_ms": {}, "result": None})
        out = io.StringIO()
        verdicts = bench_pairs.report(records, bench, out)
        self.assertEqual(verdicts, {"op_p50_ms": "GAIN"})
        text = out.getvalue()
        self.assertIn("parent: 10 runs, failed ops 0 of 90", text)   # pair 10 is unpaired
        self.assertIn("won 10/10", text)


if __name__ == "__main__":
    unittest.main()
