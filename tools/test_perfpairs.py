"""Verdict arithmetic and parent export of perfpairs.py:

    python3 -m unittest discover -s tools -p 'test_*.py'
"""

import os
import subprocess
import tempfile
import unittest

from perfpairs import (export_ref, export_worktree, layer_table, parse_seeds,
                       quartiles, verdict)


class VerdictTest(unittest.TestCase):
    parent = [100.0, 104.0, 96.0, 102.0, 98.0, 101.0, 99.0, 103.0, 97.0, 100.0]

    def test_quartiles_inclusive(self):
        self.assertEqual(quartiles([1.0, 2.0, 3.0, 4.0, 5.0]), (2.0, 3.0, 4.0))
        self.assertEqual(quartiles([7.0]), (7.0, 7.0, 7.0))

    def test_clear_win_is_improved(self):
        change = [x - 20.0 for x in self.parent]
        v = verdict(self.parent, change, "lower", 0.25)
        self.assertEqual((v["wins"], v["losses"]), (10, 0))
        self.assertEqual(v["verdict"], "improved")
        self.assertAlmostEqual(v["median_gain"], 20.0)

    def test_higher_is_better_flips_the_sign(self):
        change = [x + 20.0 for x in self.parent]
        self.assertEqual(verdict(self.parent, change, "higher", 0.25)["verdict"],
                         "improved")
        self.assertEqual(verdict(self.parent, change, "lower", 0.25)["verdict"],
                         "worse")

    def test_nine_of_ten_wins_suffice_eight_do_not(self):
        change = [x - 20.0 for x in self.parent]
        change[0] = self.parent[0] + 1.0
        self.assertEqual(verdict(self.parent, change, "lower", 0.25)["verdict"],
                         "improved")
        change[1] = self.parent[1] + 1.0
        v = verdict(self.parent, change, "lower", 0.25)
        self.assertEqual((v["wins"], v["verdict"]), (8, "unresolved"))

    def test_ties_count_for_neither_side(self):
        change = list(self.parent)
        change[0] -= 50.0
        v = verdict(self.parent, change, "lower", 0.25)
        self.assertEqual((v["wins"], v["losses"]), (1, 0))
        self.assertEqual(v["verdict"], "unresolved")

    def test_gap_must_exceed_the_parent_iqr(self):
        # every pair won, but by less than the parent's own spread
        change = [x - 1.0 for x in self.parent]
        v = verdict(self.parent, change, "lower", 0.25)
        self.assertEqual(v["wins"], 10)
        self.assertGreater(v["parent_iqr"], v["median_gain"])
        self.assertEqual(v["verdict"], "unresolved")

    def test_median_beyond_the_bound_is_worse(self):
        # mixed pairs, but the median regressed by 30 % > the 25 % bound
        change = [x * 1.3 if i % 3 else x * 0.9
                  for i, x in enumerate(self.parent)]
        v = verdict(self.parent, change, "lower", 0.25)
        self.assertFalse(v["within_bound"])
        self.assertEqual(v["verdict"], "worse")

    def test_mismatched_samples_are_rejected(self):
        with self.assertRaises(ValueError):
            verdict([1.0, 2.0], [1.0], "lower", 0.25)

    def test_parse_seeds(self):
        self.assertEqual(parse_seeds("1-3,7,9-10"), [1, 2, 3, 7, 9, 10])


class LayerTableTest(unittest.TestCase):
    layers = [{"name": "spark.jobs_per_answer", "unit": "count"},
              {"name": "rag.call_ms", "unit": "ms"},
              {"name": "jvm.gc_ms", "unit": "ms"}]

    def run_of(self, **values):
        return {"metrics": {k.replace("_", ".", 1): {"value": v}
                            for k, v in values.items()}}

    def test_side_by_side_with_signed_difference(self):
        lines = layer_table(
            "churn", 1,
            self.run_of(spark_jobs_per_answer=15.67, rag_call_ms=250.0,
                        jvm_gc_ms=0.0),
            self.run_of(spark_jobs_per_answer=10.67, rag_call_ms=350.0,
                        jvm_gc_ms=3.0),
            self.layers)
        self.assertEqual(lines[0], "\n## churn: per-layer metrics, traced seed 1")
        self.assertEqual(lines[3], "| spark.jobs_per_answer (count) | 15.67 | "
                                   "10.67 | -5 (-31.9%) |")
        self.assertEqual(lines[4], "| rag.call_ms (ms) | 250 | 350 | "
                                   "+100 (+40.0%) |")
        # no relative change against a zero parent
        self.assertEqual(lines[5], "| jvm.gc_ms (ms) | 0 | 3 | +3 |")

    def test_a_metric_missing_on_one_side_reads_na(self):
        lines = layer_table("ingest", 2, self.run_of(rag_call_ms=1.0),
                            self.run_of(), self.layers)
        self.assertEqual(len(lines), 3 + len(self.layers))
        self.assertEqual(lines[4], "| rag.call_ms (ms) | 1 | n/a | n/a |")
        self.assertEqual(lines[3], "| spark.jobs_per_answer (count) | n/a | "
                                   "n/a | n/a |")


class ExportTest(unittest.TestCase):
    def test_export_writes_the_committed_files_only(self):
        with tempfile.TemporaryDirectory() as d:
            export_ref("HEAD", d)
            self.assertTrue(os.path.isfile(os.path.join(d, "BENCHMARK.json")))
            self.assertTrue(os.path.isfile(os.path.join(d, "perfbench", "run.py")))
            self.assertFalse(os.path.exists(os.path.join(d, ".git")))

    def test_unknown_ref_raises(self):
        with tempfile.TemporaryDirectory() as d:
            with self.assertRaises(RuntimeError):
                export_ref("no-such-ref-anywhere", d)


class WorktreeExportTest(unittest.TestCase):
    def git(self, root, *args):
        subprocess.run(["git", "-c", "user.name=t", "-c", "user.email=t@t",
                        *args], cwd=root, check=True, capture_output=True)

    def write(self, root, rel, text):
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write(text)

    def read(self, root, rel):
        with open(os.path.join(root, rel)) as fh:
            return fh.read()

    def test_export_copies_the_tree_as_it_is_now(self):
        with tempfile.TemporaryDirectory() as repo, \
                tempfile.TemporaryDirectory() as dest:
            self.git(repo, "init", "-q")
            self.write(repo, ".gitignore", ".bench_build/\nout.log\n")
            self.write(repo, "src/A.scala", "committed")
            self.write(repo, "gone.txt", "committed")
            self.git(repo, "add", "-A")
            self.git(repo, "commit", "-q", "-m", "base")
            self.write(repo, "src/A.scala", "edited")       # uncommitted edit
            self.write(repo, "src/New.scala", "new")        # not yet added
            os.remove(os.path.join(repo, "gone.txt"))       # deleted, tracked
            self.write(repo, ".bench_build/classes/X", "b")  # build output
            self.write(repo, "out.log", "ignored")
            export_worktree(dest, root=repo)
            self.assertEqual(self.read(dest, "src/A.scala"), "edited")
            self.assertEqual(self.read(dest, "src/New.scala"), "new")
            self.assertTrue(os.path.isfile(os.path.join(dest, ".gitignore")))
            for absent in ("gone.txt", ".bench_build", "out.log", ".git"):
                self.assertFalse(os.path.exists(os.path.join(dest, absent)),
                                 absent)

    def test_export_of_this_tree_can_run_the_benchmark(self):
        with tempfile.TemporaryDirectory() as d:
            export_worktree(d)
            self.assertTrue(os.path.isfile(os.path.join(d, "BENCHMARK.json")))
            self.assertTrue(os.path.isfile(os.path.join(d, "perfbench", "run.py")))
            self.assertFalse(os.path.exists(os.path.join(d, ".bench_build")))


if __name__ == "__main__":
    unittest.main()
