"""Self-tests for the benchmark's metric math, on synthetic progress
records.  No Spark needed:

    python3 -m pytest perfbench/test_metrics.py -q
"""

from __future__ import annotations

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402
import streams  # noqa: E402


def progress(batch_id, ts, total_ms, rows=0, phases=None, state=None, end_offset=None):
    """A StreamingQueryProgress record as Spark serializes it."""
    dur = {"addBatch": 0, "queryPlanning": 0, "walCommit": 0, "commitOffsets": 0,
           "latestOffset": 0, "getBatch": 0, "triggerExecution": total_ms}
    dur.update(phases or {})
    return {
        "id": "q", "runId": "r", "batchId": batch_id, "timestamp": ts,
        "numInputRows": rows, "durationMs": dur,
        "stateOperators": state or [],
        "sources": [{"description": "RateStreamV2", "startOffset": None,
                     "endOffset": end_offset, "numInputRows": rows}],
    }


class PercentileTest(unittest.TestCase):
    def test_interpolates_like_numpy_linear(self):
        xs = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
        self.assertAlmostEqual(metrics.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(metrics.percentile(xs, 95), 9.55)
        self.assertEqual(metrics.percentile([3.0], 95), 3.0)
        self.assertEqual(metrics.percentile(xs, 0), 1)
        self.assertEqual(metrics.percentile(xs, 100), 10)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.percentile([5, 1, 4, 2, 3], 50), 3)

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)

    def test_summary_states_sample_counts(self):
        s = metrics.summary(list(range(1, 201)))
        self.assertEqual(s["n"], 200)
        self.assertAlmostEqual(s["p50"], 100.5)
        self.assertAlmostEqual(s["p95"], 190.05)
        # 191..200 lie beyond the 95th percentile
        self.assertEqual(s["n_beyond_p95"], 10)


class LagTest(unittest.TestCase):
    def test_lag_is_commit_minus_last_packet_plus_timeout(self):
        commit = {3: 110.0, 4: 114.5}
        rows = [(3, 100.0), (4, 100.0), (4, 108.0)]
        self.assertEqual(metrics.detection_lags(rows, commit, 2.5), [7.5, 12.0, 4.0])

    def test_row_from_unknown_batch_is_an_error(self):
        with self.assertRaises(KeyError):
            metrics.detection_lags([(9, 1.0)], {3: 2.0}, 2.5)

    def test_parse_time_forms(self):
        t = metrics.parse_time("2026-01-02T03:04:05.250Z")
        self.assertAlmostEqual(t, 1767323045.25)
        self.assertAlmostEqual(metrics.parse_time("2026-01-02T03:04:05.250+00:00"), t)
        self.assertAlmostEqual(metrics.parse_time("2026-01-02T04:04:05.250+01:00"), t)
        self.assertAlmostEqual(metrics.parse_time("2026-01-02T03:04:05.250"), t)


class ProgressParsingTest(unittest.TestCase):
    def test_batches_drop_idle_reports_and_keep_last_duplicate(self):
        idle = {"batchId": 2, "timestamp": "2026-01-01T00:00:09.000Z",
                "numInputRows": 0, "durationMs": {"latestOffset": 1, "triggerExecution": 1}}
        recs = [
            progress(1, "2026-01-01T00:00:05.000Z", 3000, rows=10),
            progress(0, "2026-01-01T00:00:00.000Z", 5000, rows=0),
            idle,
            progress(1, "2026-01-01T00:00:05.000Z", 3500, rows=10),
        ]
        bs = metrics.batches(recs)
        self.assertEqual([b.batch_id for b in bs], [0, 1])
        self.assertEqual(bs[1].duration_s, 3.5)
        self.assertAlmostEqual(bs[1].end - bs[0].start, 8.5)

    def test_state_sums_and_last_gauges(self):
        st = [{"numRowsTotal": 5, "allUpdatesTimeMs": 100, "memoryUsedBytes": 1000},
              {"numRowsTotal": 7, "allUpdatesTimeMs": 50, "memoryUsedBytes": 3000}]
        recs = [
            progress(0, "2026-01-01T00:00:00.000Z", 1000, state=st[:1]),
            progress(1, "2026-01-01T00:00:01.000Z", 1000, state=st),
        ]
        bs = metrics.batches(recs)
        self.assertEqual(metrics.state_total(bs, "allUpdatesTimeMs"), 250)
        self.assertEqual(metrics.state_last(bs, "numRowsTotal"), 12)
        self.assertEqual(metrics.state_last(bs, "memoryUsedBytes"), 4000)
        self.assertEqual(metrics.state_total(bs, "absent"), 0)

    def test_stream_layers_account_for_batch_time(self):
        recs = [
            progress(i, f"2026-01-01T00:00:0{i}.000Z", 1000 + 200 * i,
                     phases={"addBatch": 700 + 200 * i, "queryPlanning": 100,
                             "walCommit": 50, "commitOffsets": 50, "latestOffset": 100})
            for i in range(3)
        ]
        lay = streams.stream_layers(metrics.batches(recs))
        parts = sum(lay[k][0] for k in streams.PHASES.values()) + lay["stream.other_s"][0]
        self.assertAlmostEqual(parts, lay["stream.batch_mean_s"][0])
        self.assertAlmostEqual(lay["stream.add_batch_s"][0], 0.9)
        self.assertAlmostEqual(lay["stream.other_s"][0], 0.1)
        self.assertAlmostEqual(lay["stream.batch_p50_s"][0], 1.2)
        self.assertAlmostEqual(lay["stream.batch_p95_s"][0], 1.38)
        self.assertEqual(lay["stream.batches"][0], 3)

    def test_progress_object_with_json_attribute(self):
        class P:
            json = '{"batchId": 4, "timestamp": "2026-01-01T00:00:00.000Z", ' \
                   '"durationMs": {"addBatch": 5, "triggerExecution": 9}}'

        (b,) = metrics.batches([P()])
        self.assertEqual((b.batch_id, b.duration_s, b.input_rows), (4, 0.009, 0))


class DrainTest(unittest.TestCase):
    def test_drained_needs_a_batch_an_idle_timeout_after_the_reading_one(self):
        import live_accum

        base = 1_767_225_600.0  # 2026-01-01T00:00:00Z

        def rec(i, start_s):
            # the rate source, created at base + 0.5, reads whole seconds
            return progress(i, _iso(base + start_s), 500,
                            end_offset=str(int(start_s - 0.5)))

        timeout = live_accum.IDLE_TIMEOUT_MS / 1000
        recs = [rec(0, 1.0), rec(1, 5.0), rec(2, 9.0)]
        w1 = base + 7.5
        # batch 2 read all input to w1, but none started a timeout after it
        self.assertFalse(live_accum.drained(metrics.batches(recs), w1))
        recs.append(rec(3, 9.0 + timeout / 2))
        self.assertFalse(live_accum.drained(metrics.batches(recs), w1))
        recs.append(rec(4, 9.0 + timeout))
        self.assertTrue(live_accum.drained(metrics.batches(recs), w1))
        self.assertFalse(live_accum.drained([], w1))


class BenchmarkFileTest(unittest.TestCase):
    def test_metric_names_and_units_match_what_runs_print(self):
        import json

        import run

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            doc = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in doc["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in doc["per_layer"]}, run.PER_LAYER)
        self.assertEqual([w["name"] for w in doc["workloads"]], list(run.WORKLOADS))


def _iso(t: float) -> str:
    import datetime as dt

    return dt.datetime.fromtimestamp(t, dt.timezone.utc).isoformat().replace("+00:00", "Z")


if __name__ == "__main__":
    unittest.main()
