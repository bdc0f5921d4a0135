"""Self-tests for the benchmark's own rules (no Spark needed).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


def rung(eps, backlogs, latencies, missing=0):
    """A rung whose batches start once a second, each taking 500 ms for 100
    rows, with the given backlogs at their commits."""
    batches = [{"after_start": True, "commit_ns": int((i + 1) * 1e9), "begin_ns": int(i * 1e9),
                "backlog": b, "from": i * 100, "until": (i + 1) * 100, "rows": 100,
                "duration_ms": {"triggerExecution": 500}} for i, b in enumerate(backlogs)]
    batches.insert(0, {"after_start": False, "commit_ns": 0, "begin_ns": -1, "backlog": 10 ** 6,
                       "from": 0, "until": 1, "rows": 1, "duration_ms": {"triggerExecution": 9000}})
    return {"eps": eps, "batches": batches, "latencies_ms": latencies, "missing": missing}


class TailRule(unittest.TestCase):
    def test_exactly_ten_samples_lie_beyond_the_tail(self):
        xs = list(range(1, 101))
        value, pct, n = stats.tail(xs)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_of_samples_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 12.0]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))
        self.assertEqual(stats.tail(xs)[0], 2.0)

    def test_too_few_samples_report_the_maximum_as_p100(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0))

    def test_median_of_even_count_averages_the_middle_pair(self):
        self.assertEqual(stats.median([1, 2, 3, 10]), 2.5)


class SustainedRate(unittest.TestCase):
    def test_slope_of_a_line(self):
        self.assertAlmostEqual(stats.slope([0, 1, 2, 3], [5, 7, 9, 11]), 2.0)
        self.assertEqual(stats.slope([1], [4]), 0.0)

    def test_setup_batch_is_left_out_of_the_backlog_slope(self):
        r = rung(200, [0, 0, 0, 0], [100.0] * 20)
        self.assertEqual(stats.backlog_slope(r), 0.0)

    def test_flat_backlog_within_limit_is_sustained(self):
        self.assertTrue(stats.rung_sustained(rung(200, [3, 1, 4, 2], [500.0] * 50), limit_ms=2000))

    def test_growing_backlog_is_not_sustained(self):
        self.assertFalse(stats.rung_sustained(rung(2000, [0, 900, 1800, 2700], [500.0] * 50), limit_ms=2000))

    def test_tail_over_the_limit_is_not_sustained(self):
        lat = [500.0] * 40 + [2500.0] * 20
        self.assertFalse(stats.rung_sustained(rung(200, [0, 0, 0], lat), limit_ms=2000))

    def test_missing_outputs_are_not_sustained(self):
        self.assertFalse(stats.rung_sustained(rung(200, [0, 0], [10.0] * 30, missing=3), limit_ms=2000))

    def test_processed_rate_is_rows_over_batch_time_without_the_setup_batch(self):
        r = rung(8000, [0, 0, 0, 0], [])
        self.assertAlmostEqual(stats.processed_rate(r), 200.0)

    def test_delivered_rate_counts_delivered_events_over_due_to_last_write(self):
        r = rung(2000, [0, 0], [700.0] * 9000)
        r["delivered_s"] = 5.625
        self.assertAlmostEqual(stats.delivered_rate(r), 1600.0)
        r["delivered_s"] = 0.0
        self.assertEqual(stats.delivered_rate(r), 0.0)

    def test_failures_count_missing_wrong_and_duplicated_outputs(self):
        raw = {"rungs": [{"name": "lo", "backlog": 0, "gen_lateness_p99_ms": 5.0,
                          "valid": 100, "missing": 2, "wrong": 1, "duplicate": 0},
                         {"name": "backlog", "backlog": 6000, "gen_lateness_p99_ms": 0.0,
                          "valid": 500, "missing": 0, "wrong": 0, "duplicate": 1}]}
        self.assertEqual(stats.stream_failures(raw, 100), (600, 4))

    def test_a_late_generator_fails_every_event_of_its_rung(self):
        raw = {"rungs": [{"name": "lo", "backlog": 0, "gen_lateness_p99_ms": 5.0,
                          "valid": 100, "missing": 0, "wrong": 0, "duplicate": 0},
                         {"name": "mid", "backlog": 0, "gen_lateness_p99_ms": 150.0,
                          "valid": 1000, "missing": 0, "wrong": 0, "duplicate": 0}]}
        self.assertEqual(stats.late_rungs(raw, 100), ["mid"])
        self.assertEqual(stats.stream_failures(raw, 100), (1100, 1000))
        self.assertEqual(stats.stream_failures(raw, 200), (1100, 0))


class LayerMapping(unittest.TestCase):
    def test_innermost_operator_frame_wins(self):
        frames = ["graft.operators.DupClusters$.rounds(DupClusters.scala:88)",
                  "graft.queries.Extensions$.$anonfun$all$12(Extensions.scala:400)"]
        self.assertEqual(stats.layer_of(frames), "operators.DupClusters")

    def test_operator_outside_the_named_files_is_other(self):
        self.assertEqual(stats.layer_of(["graft.operators.Skew$.salt(Skew.scala:10)"]), "operators.other")

    def test_functions_frame_maps_to_functions(self):
        self.assertEqual(stats.layer_of(["graft.functions.FlacDecode$.decode(FlacDecode.scala:9)",
                                         "graft.operators.AudioDedup$.x(AudioDedup.scala:3)"]), "functions")

    def test_program_frames_without_operators(self):
        self.assertEqual(stats.layer_of(["graft.Engine$Tables.rd(Engine.scala:135)"]), "engine")
        self.assertEqual(stats.layer_of(["graft.Artifacts$.getOrFit(Artifacts.scala:199)"]), "artifacts")
        self.assertEqual(stats.layer_of(["graft.queries.Parity$.f(Parity.scala:1)"]), "queries")
        self.assertEqual(stats.layer_of([]), "exec")

    def test_schema_reads_are_reader_calls_from_the_readers_and_read_back(self):
        reader = "org.apache.spark.sql.classic.DataFrameReader.parquet(DataFrameReader.scala:57)"
        writer = "org.apache.spark.sql.classic.DataFrameWriter.parquet(DataFrameWriter.scala:80)"
        job = lambda api, frames: {"api": api, "frames": frames}
        self.assertTrue(stats.is_schema_read(job(reader, ["graft.Engine$Tables.rd(Engine.scala:135)"])))
        self.assertTrue(stats.is_schema_read(job(reader, ["graft.Artifacts$.getOrFit(Artifacts.scala:199)"])))
        self.assertFalse(stats.is_schema_read(job(writer, ["graft.Artifacts$.getOrFit(Artifacts.scala:120)"])))
        self.assertFalse(stats.is_schema_read(job(reader, ["graft.queries.Parity$.f(Parity.scala:1)",
                                                           "graft.Engine$Tables.rd(Engine.scala:135)"])))
        self.assertFalse(stats.is_schema_read(job(reader, [])))


class Attribution(unittest.TestCase):
    spans = [{"id": 1, "layer": "queries", "start_ns": 0, "end_ns": 100_000_000},
             {"id": 2, "layer": "plans", "start_ns": 100_000_000, "end_ns": 120_000_000},
             {"id": 3, "layer": "exec", "start_ns": 120_000_000, "end_ns": 500_000_000},
             {"id": 4, "layer": "query", "start_ns": 0, "end_ns": 500_000_000}]

    def test_jobs_go_to_the_phase_holding_their_start(self):
        jobs = [{"start_ms": 50}, {"start_ms": 130}, {"start_ms": 800}]
        got = [(j["start_ms"], ph["layer"]) for j, ph in stats.attribute(jobs, self.spans, ("queries", "plans", "exec"))]
        self.assertEqual(got, [(50, "queries"), (130, "exec")])

    def test_phase_gap_is_the_largest_relative_difference_to_wall_time(self):
        raw = {"executions": [{"wall_s": 1.0, "build_s": 0.5, "plan_s": 0.1, "exec_s": 0.39},
                              {"wall_s": 2.0, "build_s": 1.0, "plan_s": 0.5, "exec_s": 0.5}]}
        self.assertAlmostEqual(stats.phase_split(raw), 0.01)


class Digest(unittest.TestCase):
    want = {"q01": {"rows": 10, "hash": "00ff"}, "q02": {"rows": 3, "hash": "abcd"}}

    def test_equal_digests_pass(self):
        self.assertEqual(stats.digest_failures({"q01": {"rows": 10, "hash": "00ff"}}, self.want), [])

    def test_row_count_or_hash_change_fails(self):
        got = {"q01": {"rows": 11, "hash": "00ff"}, "q02": {"rows": 3, "hash": "abce"}}
        self.assertEqual(stats.digest_failures(got, self.want), ["q01", "q02"])

    def test_unrecorded_query_fails(self):
        self.assertEqual(stats.digest_failures({"q09": {"rows": 1, "hash": "0"}}, self.want), ["q09"])

    def test_recorded_digests_cover_every_batch_query(self):
        here = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
        conf = json.load(open(os.path.join(here, "workloads.json")))
        recorded = json.load(open(os.path.join(here, "digests.json")))["digests"]
        for w in conf["workloads"].values():
            for q in w.get("queries", []):
                self.assertIn(q, recorded)


class Output(unittest.TestCase):
    def test_every_metric_is_named_with_its_unit(self):
        block = stats.metric_block({"setup_s": 1.5}, stats.END_TO_END)
        self.assertEqual(set(block), set(stats.END_TO_END))
        for name, m in block.items():
            self.assertEqual(set(m), {"value", "unit"})
            self.assertEqual(m["unit"], stats.END_TO_END[name])
        self.assertEqual(block["setup_s"]["value"], 1.5)
        json.dumps(block)

    def test_metric_lists_match_the_benchmark_file(self):
        here = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..")
        bench = json.load(open(os.path.join(here, "BENCHMARK.json")))
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, stats.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, stats.PER_LAYER)

    def test_self_time_subtracts_covered_child_intervals(self):
        spans = [{"id": 0, "parent": -1, "layer": "query", "start_ns": 0, "end_ns": 10 * 10 ** 9},
                 {"id": 1, "parent": 0, "layer": "queries", "start_ns": 0, "end_ns": 4 * 10 ** 9},
                 {"id": 2, "parent": 0, "layer": "exec", "start_ns": 3 * 10 ** 9, "end_ns": 6 * 10 ** 9}]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st["query"], 4.0)
        self.assertAlmostEqual(st["queries"], 4.0)
        self.assertAlmostEqual(st["exec"], 3.0)


if __name__ == "__main__":
    unittest.main()
