"""The benchmark's own tests.

    python3 -m unittest discover -s cdcbench/tests -v

The smoke tests build the program and run every workload at the "tiny"
input size, so they take a few minutes; the rest take seconds.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(build.BUILD_DIR, "tests")


def tree_digest(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bench(workload, trace, cwd=None, script=None):
    os.makedirs(SCRATCH, exist_ok=True)
    results = tempfile.mkdtemp(dir=SCRATCH)
    cmd = [sys.executable, script or os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny",
           "--results", results]
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=cwd or build.ROOT, timeout=900)
    return p, results


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(run.percentile(list(range(99)), 90))
        self.assertEqual(run.percentile(list(range(100)), 90), 89)
        self.assertIsNone(run.percentile([], 90))

    def test_trend_compares_last_quarter_with_first(self):
        self.assertAlmostEqual(run.trend([1, 1, 1, 1, 2, 2, 2, 2]), 2.0)
        self.assertIsNone(run.trend([1, 2, 3]))


class SeedDeterminism(unittest.TestCase):
    def setUp(self):
        os.makedirs(SCRATCH, exist_ok=True)
        self.dir = tempfile.mkdtemp(dir=SCRATCH)

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                a, b, c = (os.path.join(self.dir, w + x) for x in "abc")
                gen.generate(w, 5, "tiny", a, 1)
                gen.generate(w, 5, "tiny", b, 1)
                gen.generate(w, 6, "tiny", c, 1)
                self.assertEqual(tree_digest(a), tree_digest(b))
                self.assertNotEqual(tree_digest(a), tree_digest(c))


class HarnessChecks(unittest.TestCase):
    def test_perfect_clustering_scores_one(self):
        rows = [("a", "1"), ("a", "1"), ("b", "2"), ("b", "2"), ("c", "3")]
        for k, v in checks.cluster_scores(rows).items():
            self.assertAlmostEqual(v, 1.0, places=9, msg=k)
        self.assertEqual(checks.pair_recall(rows), 1.0)

    def test_split_cluster_scores(self):
        # one true cluster of 4 split 2+2: MUC P = 1, R = 2/3; B3 P = 1,
        # R = 1/2; CEAF-e matches one half: phi = 2*2/6, P = 2/3, R = 1/3
        rows = [("a", "1"), ("a", "1"), ("a", "2"), ("a", "2")]
        s = checks.cluster_scores(rows)
        self.assertAlmostEqual(s["muc_f1"], 0.8, places=9)
        self.assertAlmostEqual(s["b3_f1"], 2 / 3, places=9)
        self.assertAlmostEqual(s["ceafe_f1"], 4 / 9, places=9)
        self.assertAlmostEqual(checks.pair_recall(rows), 2 / 6)

    def test_jaccard_is_over_distinct_word_3_shingles(self):
        a = checks.shingles("x y z x y z")
        b = checks.shingles("x y z w")
        self.assertEqual(checks.jaccard_counts(a, b), (1, 4))


class Smoke(unittest.TestCase):
    """Every workload end to end at the tiny size, untraced and traced."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def check_run(self, workload, trace):
        p, results = run_bench(workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        line = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(sorted(line), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(line["correct"], line)
        self.assertGreaterEqual(line["attempted"], 1)
        self.assertEqual(line["failed"], 0)
        wanted = self.spec["per_layer" if trace else "end_to_end"]
        self.assertEqual(sorted(line["metrics"]), sorted(m["name"] for m in wanted))
        for m in wanted:
            got = line["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertIsInstance(got["value"], float, m["name"])
        with open(os.path.join(results, f"{workload}-seed7-trace{trace}.json")) as f:
            result = json.load(f)
        self.assertEqual(result["latency_samples"], line["attempted"] - line["failed"])
        return line, result

    def test_coref_stream(self):
        self.check_run("coref-stream", 0)

    def test_dedup_batch(self):
        self.check_run("dedup-batch", 0)

    def test_coref_batch(self):
        self.check_run("coref-batch", 0)

    def test_traced_run_reports_layers(self):
        _, result = self.check_run("dedup-batch", 1)
        self.assertTrue(result["spans"])
        self.assertGreater(result["layers"]["operators.dedup.pairs.self_s"], 0)
        self.assertIn("trace_overhead_frac", result["layers"])

    def test_traced_coref_batch_reports_kernel_layers(self):
        _, result = self.check_run("coref-batch", 1)
        for layer in ("operators.greedy", "operators.grinch", "operators.metrics"):
            self.assertGreater(result["layers"][layer + ".self_s"], 0, layer)
        self.assertGreater(result["layers"]["operators.grinch.task_skew"], 0)
        # only traced ops persist span outputs: untraced ops, the ones the
        # end-to-end metrics time, run the program's own plan
        traced = set(result["traced_ops"])
        self.assertTrue(traced)
        for i, n in enumerate(result["harness_persisted"]):
            if i in traced:
                self.assertGreater(n, 0, i)
            else:
                self.assertEqual(n, 0, i)

    def test_refuses_to_run_without_the_program(self):
        bare = tempfile.mkdtemp(dir=SCRATCH)
        shutil.copy(os.path.join(build.ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH, os.path.join(bare, "cdcbench"),
                        ignore=shutil.ignore_patterns("results", "__pycache__"))
        p, _ = run_bench("coref-stream", 0, cwd=bare,
                         script=os.path.join(bare, "cdcbench", "run.py"))
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
