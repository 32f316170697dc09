"""Unit tests of the benchmark's reporting rules.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import analysis  # noqa: E402


def span(i, parent, name, start, end, compiles=0, compile_ns=0):
    return {"id": i, "parent": parent, "qid": -1, "name": name,
            "start_ns": start, "end_ns": end, "compiles": compiles,
            "compile_ns": compile_ns}


class PercentileRule(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(analysis.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(analysis.percentile([1, 2, 3, 4, 5], 75), 4)
        self.assertEqual(analysis.percentile([7], 99), 7)

    def test_harrell_davis_percentile(self):
        xs = list(range(1, 42))
        self.assertAlmostEqual(analysis.hd_percentile(xs, 50), 21.0, places=6)
        self.assertAlmostEqual(analysis.hd_percentile([3.0] * 40, 75), 3.0)
        p75 = analysis.hd_percentile(xs, 75)
        self.assertTrue(30 < p75 < 32, p75)
        # a swap of two middle ranks moves the estimate far less than the
        # interpolated percentile
        jumpy = [1.0] * 20 + [2.0] * 20
        swapped = [1.0] * 19 + [2.0] * 21
        self.assertEqual(analysis.percentile(swapped, 50) - analysis.percentile(jumpy, 50), 0.5)
        self.assertLess(analysis.hd_percentile(swapped, 50) - analysis.hd_percentile(jumpy, 50), 0.15)

    def test_samples_beyond(self):
        self.assertEqual(analysis.samples_beyond(41, 75), 10)
        self.assertEqual(analysis.samples_beyond(40, 75), 10)
        self.assertEqual(analysis.samples_beyond(38, 75), 10)
        self.assertEqual(analysis.samples_beyond(37, 75), 9)

    def test_highest_percentile_keeps_ten_beyond(self):
        self.assertIsNone(analysis.highest_percentile(19))
        self.assertEqual(analysis.highest_percentile(20), 50)
        self.assertEqual(analysis.highest_percentile(37), 50)
        self.assertEqual(analysis.highest_percentile(38), 75)
        self.assertEqual(analysis.highest_percentile(101), 90)
        self.assertEqual(analysis.highest_percentile(1001), 99)

    def test_empty_percentile_raises(self):
        with self.assertRaises(ValueError):
            analysis.percentile([], 50)


class SpanSelfTime(unittest.TestCase):
    def test_self_time_subtracts_direct_children_only(self):
        spans = [
            span(1, -1, "pass", 0, 10_000_000_000),
            span(2, 1, "reset", 0, 500_000_000),
            span(3, 1, "query", 1_000_000_000, 9_000_000_000),
            span(4, 3, "build", 1_000_000_000, 3_000_000_000),
            span(5, 3, "action", 3_500_000_000, 9_000_000_000),
        ]
        st = analysis.self_times(spans)
        self.assertAlmostEqual(st["pass"], 10 - 0.5 - 8)
        self.assertAlmostEqual(st["reset"], 0.5)
        self.assertAlmostEqual(st["query"], 8 - 2 - 5.5)
        self.assertAlmostEqual(st["build"], 2)
        self.assertAlmostEqual(st["action"], 5.5)
        self.assertAlmostEqual(sum(st.values()), 10)

    def test_self_times_sum_per_name(self):
        spans = [span(1, -1, "pass", 0, 4), span(2, 1, "build", 0, 1),
                 span(3, 1, "build", 1, 3)]
        st = analysis.self_times(spans)
        self.assertAlmostEqual(st["build"], 3e-9)
        self.assertAlmostEqual(st["pass"], 1e-9)


class Attribution(unittest.TestCase):
    streams = {"run-7": {"query": "q39_stream_tumbling", "qid": 3}}

    def test_groups_map_to_queries(self):
        self.assertEqual(analysis.owner("ingest/q02_x", "ingest", {}), "q02_x")
        self.assertEqual(analysis.owner("run-7", "ingest", self.streams),
                         "q39_stream_tumbling")
        self.assertIsNone(analysis.owner("", "ingest", self.streams))
        self.assertIsNone(analysis.owner("relational/q01", "ingest", {}))

    def test_counter_sums_by_group(self):
        jobs = [
            {"group": "ingest/q02_x", "phase": "build", "tasks": 4},
            {"group": "ingest/q02_x", "phase": "action", "tasks": 2},
            {"group": "run-7", "phase": "", "tasks": 1},
            {"group": "run-7", "phase": "", "tasks": 1},
            {"group": "", "phase": "", "tasks": 9},
        ]
        got = analysis.attribute(jobs, ["tasks"], "ingest", self.streams)
        self.assertEqual(got, {"q02_x": {"tasks": 6},
                               "q39_stream_tumbling": {"tasks": 2},
                               None: {"tasks": 9}})
        self.assertEqual(analysis.build_phase_jobs(jobs, "ingest", self.streams), 3)

    def test_per_query_joins_job_and_execution_counters(self):
        p = {"streams": self.streams,
             "jobs": [{"group": "ingest/q02_x", "phase": "build", "tasks": 4},
                      {"group": "run-7", "phase": "", "tasks": 2}],
             "execs": [{"group": "ingest/q02_x", "planning_ms": 3}]}
        got = analysis.per_query(p, "ingest")
        self.assertEqual(got["q02_x"]["jobs"], 1)
        self.assertEqual(got["q02_x"]["tasks"], 4)
        self.assertEqual(got["q02_x"]["planning_ms"], 3)
        self.assertEqual(got["q39_stream_tumbling"]["tasks"], 2)
        self.assertEqual(got["q39_stream_tumbling"]["planning_ms"], 0)

    def test_pass_layers_sums_counters(self):
        p = {
            "wall_ns": 10_000_000_000, "gc_ms": 250, "persisted_rdds": 2,
            "heap_peak_bytes": 5 << 20,
            "cache_mem_bytes": 3 << 20,
            "queries": [{"build_ns": 2_000_000_000, "action_ns": 7_000_000_000}],
            "spans": [span(1, -1, "pass", 0, 10_000_000_000),
                      span(2, 1, "query", 0, 9_500_000_000, 7, 40_000_000),
                      span(3, 2, "build", 0, 2_000_000_000, 3, 10_000_000),
                      span(4, 2, "action", 2_000_000_000, 9_000_000_000, 4, 30_000_000)],
            "jobs": [{"group": "w/q", "phase": "build", "tasks": 3, "stages": 2,
                      "scan_tasks": 1, "write_bytes": 1000, "write_rows": 10},
                     {"group": "w/q", "phase": "action", "tasks": 5, "stages": 1}],
            "execs": [{"group": "w/q", "mem_scans": 3, "write_files": 2,
                       "analysis_ms": 5, "scan_bytes": 1 << 20}],
            "progress": [{"trigger_ms": 100, "add_batch_ms": 60}],
            "streams": {}, "cached_rdds": [11],
        }
        m = analysis.pass_layers(p, "w")
        self.assertEqual(m["exec.jobs"], 2)
        self.assertAlmostEqual(m["heap_peak_mb"], 5.0)
        self.assertEqual(m["exec.tasks"], 8)
        self.assertEqual(m["ops.build_jobs"], 1)
        self.assertEqual(m["codegen.compiles"], 7)
        self.assertAlmostEqual(m["codegen.compile_s"], 0.04)
        self.assertAlmostEqual(m["cache.hit_ratio"], 0.75)
        self.assertEqual(m["write.files"], 2)
        self.assertAlmostEqual(m["write.bytes_per_row"], 100.0)
        self.assertAlmostEqual(m["scan.files_mb"], 1.0)
        self.assertAlmostEqual(m["stream.trigger_s"], 0.1)
        self.assertAlmostEqual(m["span.coverage"], 0.9)
        self.assertAlmostEqual(m["span.query_self_s"], 0.5)

    def test_trace_overhead_uses_untraced_neighbours(self):
        passes = [(10.0, False), (8.8, True), (8.0, False), (8.4, True), (7.0, False)]
        # 8.8 / 9.0 and 8.4 / 7.5: a falling trend does not read as a speed-up
        self.assertAlmostEqual(analysis.trace_overhead(passes),
                               (8.8 / 9.0 + 8.4 / 7.5) / 2)
        self.assertEqual(analysis.trace_overhead([(1.0, False), (1.0, True)]), 0.0)

    def test_drift_flags_changed_counters_only(self):
        base = dict.fromkeys(analysis.STABLE_COUNTERS, 5)
        moved = dict(base, **{"exec.jobs": 6})
        self.assertEqual(analysis.drift([base, base]), {})
        self.assertEqual(analysis.drift([base, moved]), {"exec.jobs": [5, 6]})


class GoldenComparison(unittest.TestCase):
    golden = {"q1": {"rows": 3, "hash": "17"}, "q2": {"rows": 0, "hash": "0"}}

    def test_matching_checks_pass(self):
        checks = [{"query": "q1", "rows": 3, "hash": "17", "error": None},
                  {"query": "q2", "rows": 0, "hash": "0", "error": None}]
        self.assertEqual(analysis.compare_golden(checks, self.golden), [])

    def test_mismatch_error_and_unknown_are_named(self):
        checks = [{"query": "q1", "rows": 3, "hash": "18", "error": None},
                  {"query": "q2", "error": "AnalysisException: boom"},
                  {"query": "q3", "rows": 1, "hash": "1", "error": None}]
        bad = dict(analysis.compare_golden(checks, self.golden))
        self.assertEqual(sorted(bad), ["q1", "q2", "q3"])
        self.assertIn("3/18 != 3/17", bad["q1"])
        self.assertIn("AnalysisException", bad["q2"])
        self.assertIn("no golden entry", bad["q3"])


if __name__ == "__main__":
    unittest.main()
