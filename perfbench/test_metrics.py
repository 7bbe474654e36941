"""Unit tests of the benchmark's metric rules.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics as M  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertTrue(M.supported(100, 90))
        self.assertFalse(M.supported(99, 90))
        self.assertTrue(M.supported(1000, 99))
        self.assertFalse(M.supported(999, 99))
        self.assertTrue(M.supported(20, 50))
        self.assertFalse(M.supported(19, 50))

    def test_tail_is_none_below_the_rule(self):
        xs = list(range(1, 100))
        self.assertIsNone(M.tail(xs, 90))
        self.assertAlmostEqual(M.tail(xs + [100], 90), 90.1)

    def test_percentile_interpolates(self):
        self.assertEqual(M.percentile([1, 2, 3, 4, 5], 50), 3)
        self.assertEqual(M.percentile([10, 20], 50), 15)
        self.assertEqual(M.percentile([7], 99), 7)


class LatencyAttribution(unittest.TestCase):
    progress = [
        # a no-data batch repeats the previous end offset and commits later
        {"name": "lake", "end_offset": "3", "end": 1300.0},
        {"name": "lake", "end_offset": "1", "end": 1100.0},
        {"name": "lake", "end_offset": "3", "end": 1900.0},
        {"name": "alerts", "end_offset": "3", "end": 5000.0},
        {"name": "lake", "end_offset": None, "end": 900.0},
    ]

    def test_commit_times_per_query_in_offset_order(self):
        self.assertEqual(M.commit_times(self.progress, "lake"),
                         [(1, 1100.0), (3, 1300.0), (3, 1900.0)])

    def test_first_covering_batch_commits_a_tick(self):
        ticks = [{"offset": 0, "sched_ms": 1000.0}, {"offset": 1, "sched_ms": 1050.0},
                 {"offset": 2, "sched_ms": 1100.0}, {"offset": 3, "sched_ms": 1150.0},
                 {"offset": 4, "sched_ms": 1200.0}]
        lat = M.attribute(ticks, M.commit_times(self.progress, "lake"))
        self.assertEqual(lat, [100.0, 50.0, 200.0, 150.0, None])

    def test_backlog_counts_sent_frames_beyond_the_committed_offset(self):
        ticks = [{"offset": o, "sched_ms": 1000.0 + 100 * o, "late_ms": 1.0, "frames": 10}
                 for o in range(5)]
        # at 1250 ticks 0-2 are sent and offset 0 is committed: 20 waiting
        self.assertEqual(M.backlog(ticks, [(0, 1250.0), (4, 1500.0)]), 20)

    def test_expand_weights_by_frames_and_skips_uncommitted(self):
        self.assertEqual(M.expand([5.0, None, 7.0], [2, 3, 1]), [5.0, 5.0, 7.0])


class FailedFraction(unittest.TestCase):
    samples = [{"query": q, "digest": d, "error": None}
               for q, d in [("a", "3:11"), ("b", "5:22"), ("a", "3:11"), ("b", "5:22")]]
    expected = {"a": "3:11", "b": "5:22"}
    oracle = {"a": True, "b": True}

    def test_matching_digests_fail_nothing(self):
        self.assertEqual(M.batch_failures(self.samples, self.expected, self.oracle), 0)

    def test_corrupted_expected_digest_fails_every_execution_of_the_query(self):
        bad = dict(self.expected, b="5:23")
        self.assertEqual(M.batch_failures(self.samples, bad, self.oracle), 2)

    def test_oracle_mismatch_and_errors_count(self):
        self.assertEqual(M.batch_failures(self.samples, self.expected, {"a": True, "b": False}), 2)
        errs = self.samples + [{"query": "a", "digest": None, "error": "boom"}]
        self.assertEqual(M.batch_failures(errs, self.expected, self.oracle), 1)


class StreamCounters(unittest.TestCase):
    counters = {"offered": 110, "malformed": 2, "duplicates": 8}
    check = {"valid": 108, "unique": 100}

    def test_counters_add_up(self):
        self.assertTrue(M.stream_counters_ok(self.counters, self.check, 110, 108))

    def test_lost_rows_are_caught(self):
        self.assertFalse(M.stream_counters_ok(self.counters, self.check, 110, 107))
        self.assertFalse(M.stream_counters_ok(self.counters, dict(self.check, unique=99), 110, 108))


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(M.union_ms([(0, 10), (5, 15), (20, 25)]), 20)

    def test_self_time_subtracts_covered_children(self):
        spans = [
            {"id": "b1", "name": "construct", "start": 0.0, "end": 100.0, "parent": None, "attrs": {}},
            {"id": "q1", "name": "sql", "start": 10.0, "end": 60.0, "parent": None,
             "attrs": {"sql": "1", "lake_write": True}},
            {"id": "j1", "name": "job", "start": 20.0, "end": 50.0, "parent": None,
             "attrs": {"sql": "1", "stages": [7]}},
            {"id": "s7.0", "name": "stage", "start": 25.0, "end": 45.0, "parent": None,
             "attrs": {"job_stage": 7}},
        ]
        M.attach_parents(spans)
        self.assertEqual([s["parent"] for s in spans], [None, "b1", "q1", "j1"])
        self.assertEqual(M.self_times(spans), {"operators": 50.0, "sources": 20.0, "exec": 30.0})


if __name__ == "__main__":
    unittest.main()
