"""Tests of the benchmark's own logic. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import hashlib
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import stats  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def digest(self, workload, seed):
        return hashlib.sha256(gen.dumps(gen.generate(workload, seed)).encode()).hexdigest()

    def test_same_seed_same_bytes(self):
        for w in gen.SIZES:
            self.assertEqual(self.digest(w, 7), self.digest(w, 7))

    def test_other_seed_other_bytes(self):
        for w in gen.SIZES:
            self.assertNotEqual(self.digest(w, 7), self.digest(w, 8))

    def test_properties_recorded(self):
        chat = gen.generate("chat", 3)
        p = chat["properties"]
        self.assertEqual(p["docs"], gen.SIZES["chat"]["docs"])
        self.assertEqual(p["text_bytes"],
                         sum(len(d["text"].encode()) for d in chat["docs"]))
        lo, hi = p["questions_per_request"]
        self.assertTrue(1 <= lo <= hi <= 8)
        self.assertEqual(p["zipf_s"], gen.ZIPF_S)

    def test_churn_ids_fresh_and_deletes_alive(self):
        w = gen.generate("churn", 5)
        alive = {d["doc_id"] for d in w["docs"]}
        ever = set(alive)
        for o in w["ops"]:
            if o["op"] == "upsert":
                new = {d["doc_id"] for d in o["docs"]}
                self.assertFalse(new & ever, "upserted ids must be fresh")
                ever |= new
                alive |= new
            elif o["op"] == "delete":
                self.assertTrue(set(o["doc_ids"]) <= alive)
                alive -= set(o["doc_ids"])
        kinds = [o["op"] for o in w["ops"]]
        self.assertEqual(set(kinds), {"read", "upsert", "delete", "compact"})

    def test_unknown_workload(self):
        with self.assertRaises(ValueError):
            gen.generate("nope", 1)


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        # p90: rank 90, 10 samples beyond; p95 leaves only 5
        self.assertEqual(stats.tail(xs), (90.0, 90))

    def test_small_sample_uses_median(self):
        xs = list(range(1, 21))  # 20 samples: p50 leaves exactly 10
        self.assertEqual(stats.tail(xs), (50.0, 10))

    def test_too_few_samples_reports_max(self):
        self.assertEqual(stats.tail([3, 1, 2]), (100.0, 3))

    def test_large_sample(self):
        xs = list(range(1, 10001))
        p, v = stats.tail(xs)
        self.assertEqual(p, 99.9)
        self.assertEqual(v, 9990)
        self.assertEqual(len(xs) - stats.rank_of(p, len(xs)), 10)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.tail(list(range(40, 0, -1))), (75.0, 30))


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(i, start, end, parent=-1):
        return {"id": i, "name": f"x.{i}", "start_ns": start, "end_ns": end,
                "parent": parent, "request": 0}

    def test_children_subtracted(self):
        spans = [self.span(0, 0, 100), self.span(1, 10, 30, 0),
                 self.span(2, 50, 60, 0)]
        self.assertEqual(stats.self_times(spans), {0: 70, 1: 20, 2: 10})

    def test_overlapping_children_counted_once(self):
        spans = [self.span(0, 0, 100), self.span(1, 10, 50, 0),
                 self.span(2, 40, 70, 0)]
        self.assertEqual(stats.self_times(spans)[0], 40)

    def test_children_clipped_to_parent(self):
        spans = [self.span(0, 0, 100), self.span(1, 90, 150, 0)]
        self.assertEqual(stats.self_times(spans)[0], 90)

    def test_layer_totals(self):
        spans = [{"id": 0, "name": "read", "start_ns": 0, "end_ns": 4_000_000,
                  "parent": -1, "request": 0},
                 {"id": 1, "name": "rag.call", "start_ns": 0,
                  "end_ns": 3_000_000, "parent": 0, "request": 0},
                 {"id": 2, "name": "spark.job", "start_ns": 1_000_000,
                  "end_ns": 2_000_000, "parent": 1, "request": 0}]
        self.assertEqual(stats.layer_self_ms(spans),
                         {"client": 1.0, "rag": 2.0, "spark": 1.0})


class FailedRatioTest(unittest.TestCase):
    def test_counts_failed_over_attempted(self):
        ops = [{"ok": True}, {"ok": False}, {"ok": True}, {"ok": True}]
        self.assertEqual(stats.failed_ratio(ops), 0.25)

    def test_all_ok(self):
        self.assertEqual(stats.failed_ratio([{"ok": True}] * 3), 0.0)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.failed_ratio([])


if __name__ == "__main__":
    unittest.main()
