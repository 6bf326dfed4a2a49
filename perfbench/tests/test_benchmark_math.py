"""Tests for the benchmark's own math and its trade generator.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402
import run  # noqa: E402
import trades  # noqa: E402


class UnionLength(unittest.TestCase):
    def test_overlapping_and_nested_intervals_count_once(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (6, 7), (20, 25)]), 20)

    def test_touching_intervals_merge(self):
        self.assertEqual(metrics.union_length([(0, 5), (5, 8)]), 8)

    def test_clipped_to_window(self):
        self.assertEqual(metrics.union_length([(-5, 5), (8, 30)], lo=0, hi=10), 7)

    def test_empty(self):
        self.assertEqual(metrics.union_length([]), 0)

    def test_driver_only_time_is_wall_minus_job_union(self):
        op = {"op": 1, "kind": "query", "start_ms": 0.0, "end_ms": 100.0,
              "built_ms": 10.0, "phases_ms": {}, "aqe_updates": 0}
        jobs = [{"start_ms": 20, "end_ms": 50, "sources_call_site": False},
                {"start_ms": 40, "end_ms": 60, "sources_call_site": True},
                {"start_ms": 90, "end_ms": 130, "sources_call_site": False}]
        t = run.layer_totals([op], {1: (jobs, [])}, cores=4)
        self.assertAlmostEqual(t["scheduler.driver_only_s"], (100 - 40 - 10) / 1e3)
        self.assertEqual(t["scheduler.jobs"], 3)
        self.assertEqual(t["sources.schema_jobs"], 1)
        self.assertEqual(t["queries.build_jobs"], 0)


class Tail(unittest.TestCase):
    def test_ten_samples_beyond(self):
        pct, v = metrics.tail(range(1, 101))
        self.assertEqual((pct, v), (90.0, 90))
        self.assertEqual(sum(1 for x in range(1, 101) if x > v), 10)

    def test_small_sample(self):
        pct, v = metrics.tail([3.0, 1.0] + [2.0] * 10)
        self.assertAlmostEqual(pct, 200.0 / 12)
        self.assertEqual(v, 2.0)

    def test_too_few_samples_is_the_maximum(self):
        self.assertEqual(metrics.tail([5, 1, 3]), (100.0, 5))


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_covered_part_once(self):
        spans = [
            {"id": 0, "parent": -1, "start_ms": 0, "end_ms": 100},
            {"id": 1, "parent": 0, "start_ms": 10, "end_ms": 40},
            {"id": 2, "parent": 0, "start_ms": 30, "end_ms": 60},
            {"id": 3, "parent": 1, "start_ms": 15, "end_ms": 20},
            {"id": 4, "parent": 0, "start_ms": 90, "end_ms": 120},
        ]
        own = metrics.self_times(spans)
        self.assertEqual(own[0], 100 - 50 - 10)
        self.assertEqual(own[1], 30 - 5)
        self.assertEqual(own[3], 5)
        self.assertEqual(own[4], 30)


class Occupancy(unittest.TestCase):
    def test_share_of_core_time(self):
        self.assertAlmostEqual(metrics.occupancy(2.0, 1.0, 4), 0.5)

    def test_zero_wall(self):
        self.assertEqual(metrics.occupancy(1.0, 0.0, 4), 0.0)

    def test_layer_totals_occupancy(self):
        op = {"op": 1, "kind": "query", "start_ms": 0.0, "end_ms": 1000.0,
              "built_ms": 0.0, "phases_ms": {}, "aqe_updates": 0}
        stage = {"tasks": 4, "empty_tasks": 1, "run_ms": 2000, "cpu_ns": 0, "gc_ms": 0,
                 "fetch_wait_ms": 0, "delay_ms": 0, "shuffle_read_bytes": 0,
                 "shuffle_write_bytes": 0, "spill_bytes": 0, "input_bytes": 0,
                 "peak_mem_bytes": 0}
        t = run.layer_totals([op], {1: ([], [stage])}, cores=4)
        self.assertAlmostEqual(t["executor.occupancy"], 0.5)
        self.assertAlmostEqual(t["scheduler.empty_task_frac"], 0.25)


class TradeGenerator(unittest.TestCase):
    def test_same_seed_same_log(self):
        a = trades.generate(7, 200)
        self.assertEqual(a, trades.generate(7, 200))
        self.assertNotEqual(a, trades.generate(8, 200))

    def test_shape(self):
        files, late = trades.generate(3, 400)
        self.assertEqual(len(files), trades.FILES)
        self.assertGreater(late, 0)
        total = sum(len(v) for v in files.values())
        self.assertGreater(total, 400)  # re-deliveries
        # the files split the log by time
        first = [min(t["t"] for t in json.loads(lines[0])["data"]) for lines in
                 (files["part-%d.log" % f] for f in range(trades.FILES))]
        self.assertEqual(first, sorted(first))

    def test_recomputation_drops_late_and_redelivered_trades(self):
        line = '{"data":[%s]}'
        tr = '{"p":%s,"s":"%s","t":%d,"v":%s}'
        t0 = trades.BASE_MS + 30 * trades.MINUTE_MS
        files = {"part-0.log": [
            line % ",".join([tr % (10.0, "A", t0, 1.0), tr % (12.0, "A", t0 + 1, 2.0),
                             tr % (99.0, "A", t0 - trades.LATE_BY_MS, 5.0)]),
            line % ",".join([tr % (10.0, "A", t0, 1.0), tr % (12.0, "A", t0 + 1, 2.0),
                             tr % (99.0, "A", t0 - trades.LATE_BY_MS, 5.0)]),
            line % tr % (11.0, "A", t0 + 2, 4.0),
        ]}
        bars = trades.expected_bars(files)
        self.assertEqual(bars, {("A", t0): (10.0, 12.0, 10.0, 11.0, 7.0)})


class OutputChecks(unittest.TestCase):
    def test_stream_check_flags_wrong_missing_and_late(self):
        files, late = trades.generate(5, 500)
        bars = trades.expected_bars(files)
        wm_ms = trades.BASE_MS + 6 * trades.MINUTE_MS
        closed = [[k[0], k[1]] + list(v) for k, v in bars.items()
                  if k[1] + trades.MINUTE_MS <= wm_ms]

        def drain(flushed, dropped):
            return {"pass": 1, "error": None, "bars": flushed,
                    "batches": [{"watermark": "2024-01-01T00:06:00.000Z",
                                 "state": [{"dropped_by_watermark": dropped}]}]}
        ok = drain([list(b) for b in closed], late)
        self.assertEqual(run.check_stream({"rounds": [ok]}, {}, (bars, late))[:2], (1, 0))
        wrong = [list(b) for b in closed]
        wrong[0][3] += 1
        missing = [list(b) for b in closed[1:]]
        rounds = [drain(wrong, late), drain(missing, late), drain(closed, late - 1),
                  {"pass": 1, "error": "boom", "bars": [], "batches": []}]
        attempted, failed, problems = run.check_stream({"rounds": rounds}, {}, (bars, late))
        self.assertEqual((attempted, failed, len(problems)), (4, 4, 4))

    def test_query_check_counts_rows_and_digests(self):
        expected = {"queries": {"a": {"rows": 3, "digest": "3:1"},
                                "b": {"rows": 2, "digest": "2:9"}},
                    "nondeterministic": {"b": "sampled"}}
        rec = {"ops": [{"name": "a", "pass": 1, "rows": 3, "error": None},
                       {"name": "a", "pass": 2, "rows": 4, "error": None},
                       {"name": "b", "pass": 1, "rows": -1, "error": "boom"}],
               "digests": {"a": "3:2", "b": "2:0"}}
        attempted, failed, problems = run.check_queries(rec, expected)
        # b's digest is not checked: it is listed as nondeterministic
        self.assertEqual((attempted, failed), (4, 3))


if __name__ == "__main__":
    unittest.main()
