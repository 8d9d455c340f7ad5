"""Report parsing of layoutcompat.py:

    python3 -m unittest discover -s tools -p 'test_*.py'
"""

import unittest

from layoutcompat import jobs_table, report_lines


class ReportTest(unittest.TestCase):
    def test_report_lines_keep_tagged_and_neutralize_store(self):
        out = ("noise\nJOBS lsh-open 0\nMETA lsh a=1 p=\"/w/store_x/q\"\n"
               "ANS lsh-open [1,2]\n[error] x\n")
        self.assertEqual(report_lines(out, "/w/store_x"),
                         ["JOBS lsh-open 0", "META lsh a=1 p=\"<store>/q\"",
                          "ANS lsh-open [1,2]"])

    def test_jobs_table_pairs_sides_by_verb(self):
        table = jobs_table(["JOBS lsh-upsert 6", "META lsh a=1"],
                           ["JOBS lsh-upsert 6", "JOBS lsh-compact 2"])
        self.assertEqual(len(table), 2)
        self.assertEqual(table[0].split(), ["lsh-upsert", "6", "6"])
        self.assertEqual(table[1].split(), ["lsh-compact", "-", "2"])


if __name__ == "__main__":
    unittest.main()
