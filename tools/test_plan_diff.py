"""Unit tests for tools/plan_diff.py on two small hand-written dumps.

    python3 -m unittest tools/test_plan_diff.py
"""
import contextlib
import io
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import plan_diff  # noqa: E402

# sbt-wrapped dump: log noise, per-run ids, a lambda suffix, an app id,
# a JVM lambda class, an RDD id and the checkout root all differ from
# CHANGE below
PARENT = """\
[info] loading project definition from /ckpt/a/project
[error] 26/10/17 14:38:58 INFO SparkContext: Running Spark version 4.1.2
[info] ===== q_same =====
[info] (1) Scan parquet
[info] Output [2]: [doc_id#12L, sh#13]
[info] Location: InMemoryFileIndex [file:/ckpt/a/target/tmp/artifact_store/x_0123456789ab/data_v1]
[info] Arguments: hashpartitioning(doc_id#12L, 4), ENSURE_REQUIREMENTS, [plan_id=41]
[info] (2) Project
[info] Output [1]: [transform(sh#13, lambdafunction(lambda x_33#1001L + 1, lambda x_33#1001L, false)) AS s#14]
[info] Location: InMemoryFileIndex [file:/tmp/graft_model_store_local-1792247939949__sf]
[info] Arguments: graft.operators.MultimodalQueries$$$Lambda$6089/0x00007fe345647ba8@34a51ba5
[info] Functions [1]: [pairagg(graft.plans.PairCount$PairAgg$@35ad04e3)]
[info] Arguments: [word#7], MapPartitionsRDD[2537] at localCheckpoint at X.scala:650
[info] ===== q_changed =====
[info] (1) BroadcastHashJoin
[info] ===== q_gone =====
[info] (1) Range
[success] Total time: 40 s
"""

CHANGE = """\
===== q_same =====
(1) Scan parquet
Output [2]: [doc_id#912L, sh#913]
Location: InMemoryFileIndex [file:/other/checkout/target/tmp/artifact_store/x_0123456789ab/data_v1]
Arguments: hashpartitioning(doc_id#912L, 4), ENSURE_REQUIREMENTS, [plan_id=7]
(2) Project
Output [1]: [transform(sh#913, lambdafunction(lambda x_7#5L + 1, lambda x_7#5L, false)) AS s#914]
Location: InMemoryFileIndex [file:/tmp/graft_model_store_local-1792999999999__sf]
Arguments: graft.operators.MultimodalQueries$$$Lambda$7001/0x00007f0000000001@1a2b3c4d
Functions [1]: [pairagg(graft.plans.PairCount$PairAgg$@0badf00d)]
Arguments: [word#70], MapPartitionsRDD[2541] at localCheckpoint at X.scala:650
===== q_changed =====
(1) SortMergeJoin
===== q_new =====
(1) Range
"""


class PlanDiffTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.parent = os.path.join(self.dir.name, "parent.txt")
        self.change = os.path.join(self.dir.name, "change.txt")
        with open(self.parent, "w") as f:
            f.write(PARENT)
        with open(self.change, "w") as f:
            f.write(CHANGE)

    def tearDown(self):
        self.dir.cleanup()

    def run_main(self, *extra):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            code = plan_diff.main([self.parent, self.change, *extra])
        return code, out.getvalue()

    def test_per_run_tokens_normalise_away(self):
        with open(self.parent) as f:
            parent = plan_diff.parse(f)
        with open(self.change) as f:
            change = plan_diff.parse(f)
        self.assertEqual(parent["q_same"], change["q_same"])
        self.assertEqual(sorted(parent), ["q_changed", "q_gone", "q_same"])

    def test_sbt_noise_is_not_part_of_a_plan(self):
        with open(self.parent) as f:
            parent = plan_diff.parse(f)
        self.assertEqual(parent["q_gone"], ["(1) Range"])

    def test_differing_queries_are_listed(self):
        code, out = self.run_main()
        self.assertEqual(code, 1)
        self.assertIn("q_changed: differs (UNEXPECTED)", out)
        self.assertIn("q_gone: differs (UNEXPECTED, only in parent)", out)
        self.assertIn("q_new: differs (UNEXPECTED, only in change)", out)
        self.assertNotIn("q_same", out)

    def test_expected_differences_pass(self):
        code, out = self.run_main("--expect", "q_changed,q_gone,q_new")
        self.assertEqual(code, 0, out)
        self.assertIn("q_changed: differs (expected)", out)

    def test_one_unexpected_difference_fails(self):
        code, _ = self.run_main("--expect", "q_changed,q_gone")
        self.assertEqual(code, 1)


if __name__ == "__main__":
    unittest.main()
