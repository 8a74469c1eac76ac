"""Pieces shared by the live stream and the replay: the traced
foreachBatch sink, stopping a query, sink reading, and the per-layer
numbers read from StreamingQueryProgress."""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

import metrics

# durationMs phases reported per batch, as per-layer metric names
PHASES = {
    "addBatch": "stream.add_batch_s",
    "queryPlanning": "stream.query_planning_s",
    "walCommit": "stream.wal_commit_s",
    "commitOffsets": "stream.commit_offsets_s",
}

VECTOR_COLS = ("features", "rawPrediction", "probability")


class TracedSink:
    """foreachBatch function for the traced run.  It runs what the plain
    run's sink does — finalized-flow filter, ``score``, then
    ``ndjson_batch_writer`` — as separate timed steps on a persisted batch,
    so the stream's upstream work, scoring and the write each get a span."""

    def __init__(self, model, out_dir: str):
        from anti_ddos_spark.sources.sinks import ndjson_batch_writer

        self.model = model
        self.write = ndjson_batch_writer(out_dir)
        self.spans: list[dict] = []

    def __call__(self, batch_df, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from anti_ddos_spark.ml import score

        t0 = time.perf_counter()
        batch_df.persist()
        emitted = batch_df.count()
        final = batch_df.filter(F.col("is_final"))
        n_final = final.count()
        t1 = time.perf_counter()
        scored = score(self.model, final).drop(*VECTOR_COLS).persist()
        scored.count()
        t2 = time.perf_counter()
        self.write(scored, batch_id)
        t3 = time.perf_counter()
        scored.unpersist()
        batch_df.unpersist()
        self.spans.append({
            "batch_id": batch_id, "emitted": emitted, "final": n_final,
            "upstream_s": t1 - t0, "score_s": t2 - t1, "write_s": t3 - t2,
        })


def start_traced(flows, model, out_dir: str, checkpoint: str, update: bool):
    """Start ``flows`` (finalized-flag rows, not yet scored) into a
    TracedSink with the trigger run_detection_to_ndjson uses."""
    sink = TracedSink(model, out_dir)
    w = (
        flows.writeStream.outputMode("update" if update else "append")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
    )
    w = w.trigger(processingTime="1 second") if update else w.trigger(availableNow=True)
    return w.start(), sink


def stop(query, timeout_s: float) -> bool:
    """Stop a query and wait for it; False if it did not end in time."""
    query.stop()
    return bool(query.awaitTermination(timeout_s)) or not query.isActive


def read_sink(out_dir: str) -> list[tuple[int, dict]]:
    """(batch_id, row) for every NDJSON row the sink wrote."""
    rows = []
    for path in sorted(glob.glob(os.path.join(out_dir, "batch_id=*", "part-*"))):
        bid = int(os.path.basename(os.path.dirname(path)).split("=", 1)[1])
        with open(path) as f:
            rows.extend((bid, json.loads(line)) for line in f if line.strip())
    return rows


def stream_layers(bs: list[metrics.Batch]) -> dict:
    """Micro-batch engine numbers over the given batches: batch time
    percentiles and the mean per batch of each durationMs phase."""
    durs = [b.duration_s for b in bs]
    out = {
        "stream.batches": (float(len(bs)), "count"),
        "stream.batch_p50_s": (metrics.percentile(durs, 50), "s"),
        "stream.batch_p95_s": (metrics.percentile(durs, 95), "s"),
        "stream.batch_mean_s": (statistics.fmean(durs), "s"),
    }
    named = 0.0
    for phase, name in PHASES.items():
        mean = metrics.phase_total(bs, phase) / len(bs)
        named += mean
        out[name] = (mean, "s")
    # latestOffset, getBatch and the engine's own bookkeeping
    out["stream.other_s"] = (statistics.fmean(durs) - named, "s")
    return out


def state_layers(prefix: str, bs: list[metrics.Batch]) -> dict:
    """State-store numbers from stateOperators: busy times as means per
    batch, sizes at the last batch."""
    n = len(bs)
    return {
        f"{prefix}.update_s": (metrics.state_total(bs, "allUpdatesTimeMs") / 1000 / n, "s"),
        f"{prefix}.state_commit_s": (metrics.state_total(bs, "commitTimeMs") / 1000 / n, "s"),
        f"{prefix}.state_rows": (metrics.state_last(bs, "numRowsTotal"), "count"),
        f"{prefix}.state_bytes": (metrics.state_last(bs, "memoryUsedBytes"), "bytes"),
    }


def sink_layers(spans: list[dict]) -> dict:
    """Scoring and write spans from the TracedSink, as means per batch."""
    n = max(1, len(spans))
    return {
        "ml.score_s": (sum(s["score_s"] for s in spans) / n, "s"),
        "ml.flows_scored": (float(sum(s["final"] for s in spans)), "count"),
        "sinks.write_s": (sum(s["write_s"] for s in spans) / n, "s"),
    }
