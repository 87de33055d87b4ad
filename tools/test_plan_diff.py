"""Tests of tools/plan_diff.py. Run: python3 -m unittest discover -s tools -p 'test_*.py'"""
import contextlib
import io
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import plan_diff  # noqa: E402

Q18 = """===== q18_minhash_pairs =====
== Physical Plan ==
AdaptiveSparkPlan (3)
+- Exchange (2)
   +- Scan parquet  (1)

(1) Scan parquet [codegen id : {cg}]
Output [2]: [doc_id#{a}L, text#{b}]
Location: InMemoryFileIndex [file:{root}/spark-warehouse/graft_q157_dedup_{key}]

(2) Exchange
Arguments: hashpartitioning(doc_id#{a}L, 8), ENSURE_REQUIREMENTS, [plan_id={p}]
"""

LOGS = """[info] running graft.PlanPeek
26/10/19 23:46:53 INFO ResourceUtils: ==============================
"""


def peek(a=0, b=1, p=139, cg=1, key="8170828c3fb5", root="/a", extra=""):
    return LOGS + Q18.format(a=a, b=b, p=p, cg=cg, key=key, root=root) + extra


def run(old, new, *flags):
    with tempfile.TemporaryDirectory() as d:
        paths = []
        for name, text in (("old.txt", old), ("new.txt", new)):
            path = os.path.join(d, name)
            with open(path, "w") as f:
                f.write(text)
            paths.append(path)
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            code = plan_diff.main(paths + list(flags))
        return code, out.getvalue()


class PlanDiffTest(unittest.TestCase):

    def test_ids_plan_ids_codegen_ids_and_run_keys_are_not_changes(self):
        code, out = run(peek(), peek(a=900, b=901, p=24981, cg=7,
                                     key="2b9e2eafa47c", root="/b"))
        self.assertEqual(code, 0)
        self.assertEqual(out.split(), ["same", "q18_minhash_pairs"])

    def test_a_renamed_column_is_a_change_and_exits_1(self):
        new = peek().replace("text#1]", "body#1]")
        code, out = run(peek(), new, "--diff")
        self.assertEqual(code, 1)
        self.assertTrue(out.startswith("changed   q18_minhash_pairs"))
        self.assertIn("-Output [2]: [doc_id#, text#]", out)
        self.assertIn("+Output [2]: [doc_id#, body#]", out)

    def test_output_before_the_plan_and_log_lines_are_ignored(self):
        crash = peek().replace("== Physical Plan ==",
                               "java.lang.RuntimeException: boom\n"
                               "\tat graft.X(X.scala:573)\n== Physical Plan ==")
        noisy = peek().replace("(2) Exchange",
                               "26/10/19 23:47:01 WARN Foo: bar\n(2) Exchange")
        self.assertEqual(run(peek(), crash)[0], 0)
        self.assertEqual(run(peek(), noisy)[0], 0)

    def test_a_query_missing_from_one_side_fails(self):
        extra = "===== q35_char_ngram_pairs =====\n== Physical Plan ==\nSort (1)\n"
        code, out = run(peek(), peek(extra=extra))
        self.assertEqual(code, 1)
        self.assertIn("only-new  q35_char_ngram_pairs", out)


if __name__ == "__main__":
    unittest.main()
