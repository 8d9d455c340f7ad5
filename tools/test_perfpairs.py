"""Verdict arithmetic and parent export of perfpairs.py:

    python3 -m unittest discover -s tools -p 'test_*.py'
"""

import os
import tempfile
import unittest

from perfpairs import export_ref, parse_seeds, quartiles, verdict


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


if __name__ == "__main__":
    unittest.main()
