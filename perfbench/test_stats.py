"""Tests of the benchmark's own statistics.

Run from the repository root:  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        # 100 samples: p90 has exactly 10 beyond rank 90, p95 only 5
        self.assertEqual(stats.tail(list(range(1, 101))), (90, 90, 100))

    def test_steps_down_as_samples_shrink(self):
        self.assertEqual(stats.tail(list(range(1, 60)))[0], 75)   # 59 - 45 = 14 beyond p75
        self.assertEqual(stats.tail(list(range(1, 40)))[0], 50)   # 39 - 30 = 9 beyond p75
        self.assertEqual(stats.tail(list(range(1, 201)))[0], 95)  # 200 - 190 = 10 beyond p95

    def test_too_few_samples_fall_back_to_the_median(self):
        p, v, n = stats.tail([5.0, 1.0, 3.0])
        self.assertEqual((p, v, n), (50, 3.0, 3))

    def test_order_of_input_does_not_matter(self):
        xs = [float(x) for x in range(40, 0, -1)]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_nearest_rank(self):
        self.assertEqual(stats.nearest_rank([1, 2, 3, 4], 50), 2)
        self.assertEqual(stats.nearest_rank([1, 2, 3, 4], 51), 3)
        self.assertEqual(stats.nearest_rank([7], 99), 7)


def span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name}


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once_when_they_overlap(self):
        spans = [span(1, 0, 0.0, 10.0), span(2, 1, 1.0, 4.0), span(3, 1, 3.0, 6.0),
                 span(4, 1, 8.0, 9.0)]
        self.assertAlmostEqual(stats.self_times(spans)[1], 10.0 - 5.0 - 1.0)

    def test_grandchildren_count_only_against_their_parent(self):
        spans = [span(1, 0, 0.0, 10.0), span(2, 1, 2.0, 8.0), span(3, 2, 3.0, 4.0)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 4.0)
        self.assertAlmostEqual(st[2], 5.0)
        self.assertAlmostEqual(st[3], 1.0)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, 0, 0.0, 2.0), span(2, 1, 1.5, 5.0)]
        self.assertAlmostEqual(stats.self_times(spans)[1], 1.5)

    def test_leaf_self_time_is_its_duration(self):
        self.assertAlmostEqual(stats.self_times([span(1, 0, 2.0, 2.5)])[1], 0.5)


def progress(t, end):
    return {"t": t, "end_offset": end, "input_rows": 0, "duration_ms": {}}


class LagMatchTest(unittest.TestCase):
    def test_first_batch_covering_the_offset_commits_the_chunk(self):
        chunks = [(0, 0.0, 0.0, 0, 10), (1, 0.1, 0.1, 1, 10), (2, 0.2, 0.2, 2, 10)]
        events = [progress(0.5, 0), progress(1.2, 2)]
        lags = stats.match_lags(chunks, events)
        self.assertEqual([round(x, 6) for x in lags], [0.5, 1.1, 1.0])

    def test_events_out_of_order_and_uncommitted_chunks(self):
        chunks = [(0, 1.0, 1.0, 5, 10), (1, 2.0, 2.0, 6, 10)]
        events = [progress(3.0, 5), progress(1.5, 4)]
        self.assertEqual(stats.match_lags(chunks, events), [2.0, None])

    def test_a_batch_ending_before_the_chunk_was_scheduled_does_not_count(self):
        # a stale event with a large end offset from an earlier stream
        chunks = [(0, 5.0, 5.0, 1, 10)]
        events = [progress(1.0, 9), progress(6.0, 1)]
        self.assertEqual(stats.match_lags(chunks, events), [1.0])

    def test_rows_per_batch_by_offset_ranges(self):
        added = [(0, 10), (1, 20), (2, 5)]
        events = [progress(1.0, 1), progress(2.0, 1), progress(3.0, 2)]
        got = [rows for _, rows in stats.rows_per_batch(added, events)]
        self.assertEqual(got, [30, 5])


class GeomeanTest(unittest.TestCase):
    def test_each_value_counts_by_its_ratio(self):
        self.assertAlmostEqual(stats.geomean([0.1, 1.0, 10.0]), 1.0)
        self.assertAlmostEqual(stats.geomean([2.0]), 2.0)
        self.assertEqual(stats.geomean([]), 0.0)


class UnstolenTest(unittest.TestCase):
    def test_each_time_loses_its_stolen_share(self):
        self.assertEqual(stats.unstolen([10.0, 4.0], [0.1, 0.0]), [9.0, 4.0])

    def test_a_missing_share_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.unstolen([1.0, 2.0], [0.1])


def traced_span(i, parent, start, end, name):
    return dict(span(i, parent, start, end, name), work=[0.0] * 9, extra={})


class PlanExecTest(unittest.TestCase):
    def test_only_lazy_calls_inside_measured_ops_count(self):
        spans = [
            traced_span(1, 0, 1.0, 9.0, "plan"),        # warm-up call, no op
            traced_span(2, 0, 9.0, 9.5, "exec"),
            traced_span(3, 0, 10.0, 10.5, "read.sql_counts"),
            traced_span(4, 3, 10.0, 10.1, "plan"),
            traced_span(5, 3, 10.1, 10.5, "exec"),
            traced_span(6, 0, 21.0, 29.0, "verify.read"),  # after the measured phase
            traced_span(7, 6, 21.0, 22.0, "plan"),
            traced_span(8, 6, 22.0, 29.0, "exec"),
        ]
        raw = {"values": {}, "spans": spans, "measure": [10.0, 20.0], "cores": 4,
               "progress": [], "batch_work": {}, "work_columns": ["jobs", "stages", "tasks",
               "input_bytes", "shuffle_write_bytes", "spill_bytes", "executor_run_ms",
               "records_read", "output_bytes"], "workload_record": {}, "samples": {},
               "actions": []}
        metrics, _ = stats.per_layer(raw)
        self.assertAlmostEqual(metrics["span.plan_s_p50"][0], 0.1)
        self.assertAlmostEqual(metrics["span.exec_s_p50"][0], 0.4)


if __name__ == "__main__":
    unittest.main()
