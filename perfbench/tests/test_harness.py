"""Self-tests of the benchmark: percentile selection, self-time arithmetic,
call site -> module attribution, failure accounting, input sampling. Run with

    python3 -m unittest discover -s perfbench/tests

The last test builds the harness and runs its JVM-side self-check.
"""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

import build  # noqa: E402
import datagen  # noqa: E402
import metrics  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_linear_interpolation(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(metrics.percentile(xs, 0.5), 2.5)
        self.assertAlmostEqual(metrics.percentile(xs, 0.9), 3.7)
        self.assertEqual(metrics.percentile(xs, 0.0), 1.0)
        self.assertEqual(metrics.percentile(xs, 1.0), 4.0)
        self.assertEqual(metrics.percentile([7.0], 0.9), 7.0)

    def test_samples_beyond(self):
        self.assertEqual(metrics.samples_beyond(101, 0.9), 10)
        self.assertEqual(metrics.samples_beyond(18, 0.9), 2)


class SelfTime(unittest.TestCase):
    def test_children_are_merged_and_clipped(self):
        # children overlap each other and stick out of the parent
        kids = [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0), (-1.0, 0.5)]
        self.assertEqual(metrics.covered(0.0, 10.0, kids), 4.5)
        self.assertEqual(metrics.self_time(0.0, 10.0, kids), 5.5)

    def test_no_children(self):
        self.assertEqual(metrics.self_time(2.0, 5.0, []), 3.0)
        self.assertEqual(metrics.self_time(2.0, 5.0, [(6.0, 7.0)]), 3.0)


class Attribution(unittest.TestCase):
    def test_innermost_program_frame_of_the_sql_execution(self):
        frames = ["graft.operators.TextOps$.bpeMerges(TextOps.scala:417)",
                  "graft.queries.Pipeline$.q222(Pipeline.scala:5766)",
                  "perfbench.QueryWorkload.$anonfun$op$1(Main.scala:170)"]
        self.assertEqual(metrics.module_of(frames, None), "textops")
        self.assertEqual(metrics.module_of(frames[1:], None), "queries")

    def test_call_site_when_no_sql_execution(self):
        self.assertEqual(metrics.module_of(None, "localCheckpoint at Dedup.scala:88"), "dedup")
        self.assertEqual(metrics.module_of(None, "parquet at Engine.scala:90"), "tables")
        self.assertEqual(metrics.module_of(
            None, "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768"), "other")

    def test_unlisted_program_module(self):
        self.assertEqual(metrics.module_of(
            ["graft.operators.Curation$.packShards(Curation.scala:332)"], None), "other")


class FailureAccounting(unittest.TestCase):
    def record(self):
        ops = [{"pass": 0, "index": i, "kind": "query", "name": f"q{i}",
                "start_s": float(i), "dur_s": d, "error": e}
               for i, (d, e) in enumerate([(1.0, None), (None, "boom"), (3.0, None),
                                           (None, "output differs")])]
        return {"ops": ops, "pass_wall_s": [10.0], "vm_hwm_mb": 100.0}

    def test_failed_ops_count_and_add_no_sample(self):
        rec = self.record()
        self.assertEqual(metrics.failures(rec), (4, 2))
        e2e = metrics.end_to_end(rec, 5.0, 1000)
        self.assertEqual(e2e["op_s.p50"], (2.0, "s"))
        self.assertEqual(metrics.request_percentile(rec, 0.9), 2.8)
        self.assertEqual(e2e["input_rows_per_s"], (100.0, "rows/s"))

    def test_every_op_failed(self):
        rec = self.record()
        for o in rec["ops"]:
            o["dur_s"], o["error"] = None, o["error"] or "boom"
        self.assertEqual(metrics.failures(rec), (4, 4))
        e2e = metrics.end_to_end(rec, 5.0, 1000)
        self.assertEqual(e2e["op_s.p50"], (None, "s"))
        self.assertIsNone(metrics.request_percentile(rec, 0.9))
        self.assertEqual(e2e["wall_s"], (10.0, "s"))


class Inputs(unittest.TestCase):
    def test_document_sample_keeps_near_duplicate_pairs(self):
        docs = datagen.fixture("0.1", "documents")
        a = datagen.sample_documents(np.random.default_rng(3), docs, 1000)
        b = datagen.sample_documents(np.random.default_rng(3), docs, 1000)
        self.assertTrue(a.equals(b))
        texts = a["text"].to_pylist()
        self.assertEqual(len(texts), 1000)
        self.assertEqual(sum(t.endswith(" dup") for t in texts), 50)
        self.assertEqual(len(datagen.dup_pairs(a)), 50)

    def test_salted_embeddings_are_unit_norm_with_distinct_ids(self):
        emb = datagen.fixture("0.001", "embeddings")
        t = datagen.salted_embeddings(np.random.default_rng(1), emb, 3)
        self.assertEqual(t.num_rows, 3 * emb.num_rows)
        self.assertEqual(len(set(t["vec_id"].to_pylist())), t.num_rows)
        v = np.stack(t["embedding"].to_numpy(zero_copy_only=False))
        np.testing.assert_allclose(np.linalg.norm(v, axis=1), 1.0, rtol=1e-5)


class JvmLoop(unittest.TestCase):
    def test_throwing_op_is_a_failure_without_timing(self):
        cp = build.build()
        r = subprocess.run(["java", "-cp", cp, "perfbench.SelfTest"],
                           capture_output=True, text=True, timeout=300)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        self.assertIn("SelfTest ok", r.stdout)


if __name__ == "__main__":
    unittest.main()
