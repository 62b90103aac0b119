"""Tests of the benchmark's own helpers.

Run from the repository root: `python3 -m unittest discover -s perfbench/tests`.
"""

import filecmp
import os
import shutil
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402
from metrics import Span, beyond, covered, percentile, self_times, tail_percentile  # noqa: E402

SCRATCH = os.path.join(".perfbench_work", "tests")


class PercentileTest(unittest.TestCase):

    def test_interpolates_between_order_statistics(self):
        self.assertEqual(percentile([3, 1, 2], 0.5), 2)
        self.assertEqual(percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertAlmostEqual(percentile(list(range(101)), 0.95), 95.0)
        self.assertEqual(percentile([7], 0.95), 7)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            percentile([], 0.5)

    def test_samples_beyond(self):
        self.assertEqual(beyond(200, 0.95), 10)
        self.assertEqual(beyond(199, 0.95), 9)
        self.assertEqual(beyond(1000, 0.99), 10)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertAlmostEqual(tail_percentile(list(range(200)), 0.95), 189.05)
        with self.assertRaises(ValueError):
            tail_percentile(list(range(199)), 0.95)
        with self.assertRaises(ValueError):
            tail_percentile(list(range(999)), 0.99)


class SpanTest(unittest.TestCase):

    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(covered(0, 100, [(10, 30), (20, 50), (90, 120)]), 50)
        self.assertEqual(covered(0, 100, []), 0)
        self.assertEqual(covered(0, 100, [(-5, 200)]), 100)
        self.assertEqual(covered(0, 100, [(100, 120), (-10, 0)]), 0)

    def test_self_time_subtracts_only_direct_children(self):
        spans = [Span("b", "engine.batch", 0, 100),
                 Span("a", "engine.add_batch", 10, 60, "b"),
                 Span("s", "sink.write", 20, 50, "a"),
                 Span("j", "exec.job", 25, 45, "s"),
                 Span("c", "engine.commit_offsets", 60, 70, "b")]
        st = self_times(spans)
        self.assertEqual(st, {"b": 40, "a": 20, "s": 10, "j": 20, "c": 10})
        # self times of a tree whose children stay inside their parents add
        # up to the root's duration
        self.assertEqual(sum(st.values()), 100)

    def test_overlapping_children_are_not_double_counted(self):
        spans = [Span("p", "x", 0, 10), Span("c1", "y", 0, 6, "p"), Span("c2", "y", 4, 8, "p")]
        self.assertEqual(self_times(spans)["p"], 2)


class GeneratorTest(unittest.TestCase):

    PARAMS = dict(records=6000, rate=4000, keys=50, zipf_s=1.1, file_records=200,
                  shards_before=4, shards_after=8, reshard_at=3000, replay_p=0.3, replay_len=40)

    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def staged(self, seed, name):
        files = gen.plan_files(seed, **self.PARAMS)
        root = os.path.join(SCRATCH, name)
        rows = gen.stage(files, os.path.join(root, "staging"), os.path.join(root, "stream"), 0)
        return files, rows, os.path.join(root, "staging")

    def test_same_seed_same_files_and_truth(self):
        f1, r1, d1 = self.staged(7, "a")
        f2, r2, d2 = self.staged(7, "b")
        names = sorted(os.listdir(d1))
        self.assertEqual(names, sorted(os.listdir(d2)))
        match, mismatch, errors = filecmp.cmpfiles(d1, d2, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))
        self.assertEqual([r[:4] for r in r1], [r[:4] for r in r2])
        self.assertEqual(gen.ground_truth(f1), gen.ground_truth(f2))

    def test_other_seed_other_files_and_truth(self):
        f1, _, d1 = self.staged(7, "a")
        f2, _, d2 = self.staged(8, "b")
        names = sorted(set(os.listdir(d1)) & set(os.listdir(d2)))
        _, mismatch, _ = filecmp.cmpfiles(d1, d2, names, shallow=False)
        self.assertTrue(mismatch)
        self.assertNotEqual(gen.ground_truth(f1), gen.ground_truth(f2))

    def test_truth_counts_each_replayed_record_once(self):
        files = gen.plan_files(3, **self.PARAMS)
        sent = sum(len(f["cols"]["event_id"]) for f in files)
        truth = gen.ground_truth(files)
        self.assertGreater(sent, self.PARAMS["records"])  # replay runs were sent
        self.assertEqual(sum(n for n, _, _ in truth.values()), self.PARAMS["records"])

    def test_files_route_by_key_and_keep_shard_order(self):
        files = gen.plan_files(5, **dict(self.PARAMS, replay_p=0.0))
        last = {}
        for f in files:
            ids, users = f["cols"]["event_id"], f["cols"]["user_id"]
            shards = 8 if ids[0] >= 3000 else 4
            self.assertTrue(((users % shards) == f["shard"]).all())
            self.assertTrue((ids[1:] > ids[:-1]).all())
            self.assertGreater(ids[0], last.get(f["shard"], -1))
            last[f["shard"]] = ids[-1]
        dues = [f["due_ms"] for f in files]
        self.assertEqual(dues, sorted(dues))


if __name__ == "__main__":
    unittest.main()
