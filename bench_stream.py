"""Streaming throughput soak (BASELINE.md "streaming proxy" target).

Drives the rate source through the full detection plan — sessionizer +
77-feature extraction (+ optionally RF scoring) — at a configured
rows/sec for a fixed wall duration, then reports whether the pipeline
kept up: sustained processedRowsPerSecond, mean batch duration vs the
trigger interval, and end-of-run backlog.

Usage:  python bench_stream.py [rows_per_sec] [duration_s] [mode] [n_flows]
        mode ∈ session_window | accum, each optionally with a
        "+score" suffix (e.g. accum+score) that appends in-stream RF
        scoring (100 trees × depth 6, the reference's model contract) to
        the plan — BASELINE.md's full streaming proxy. The model is
        trained up front on batch flows from the same synthetic traffic
        generator (training time excluded from the soak window).

        n_flows (default 1000) sets the open-flow key cardinality of the
        synthetic traffic. Group count — not row count — is the
        capacity-planning variable for stateful operators (the round-2
        measurement bug proved it the hard way: unique keys per row made
        the same pipeline look 100× slower), so the round-7 ladder soaks
        the same offered rows/sec at 1k/10k/100k open flows. Append
        ",rocksdb" to n_flows (e.g. 100000,rocksdb) to run that point on
        the RocksDB state-store provider.

Prints one JSON line.
"""

from __future__ import annotations

import json
import statistics
import sys
import tempfile
import time


def _train_soak_model(spark):
    """RF 100×d6 (the reference's train_rf.py contract) fit on batch
    flows from the same synthetic generator the soak streams, with a
    traffic-shape label — the model is a realistic scoring payload, not
    a correctness artifact."""
    from pyspark.sql import functions as F

    from anti_ddos_spark.ml import train
    from anti_ddos_spark.sources.packets import synthetic_packets_batch
    from anti_ddos_spark.streaming.sessionize_stream import flow_features_arrayagg

    pkts = synthetic_packets_batch(spark, n_rows=200_000)
    flows = flow_features_arrayagg(pkts, gap_s=None)
    labeled = flows.withColumn(
        "label",
        F.when(
            F.col("total_fwd_packets") + F.col("total_backward_packets") > 150,
            F.lit("DrDoS_UDP"),
        ).otherwise(F.lit("BENIGN")),
    )
    model, _metrics, _ = train(labeled)
    return model


# Longest wait past the soak window for the in-flight batch to commit.
STOP_WAIT_S = 120


def _stop_at_batch_boundary(q) -> None:
    """Stop ``q`` once no trigger is running or the batch running at the
    call has committed (whichever comes first, at most STOP_WAIT_S): a
    stop mid-batch interrupts the state commit, which RocksDB logs as
    CANNOT_COMMIT and InterruptedException traces. A query that runs
    behind its trigger starts the next batch at once, so a new progress
    entry is the only boundary it shows."""

    def last_batch():
        return q.lastProgress["batchId"] if q.lastProgress else None

    committed = last_batch()
    deadline = time.monotonic() + STOP_WAIT_S
    while (
        q.status["isTriggerActive"]
        and last_batch() == committed
        and time.monotonic() < deadline
    ):
        time.sleep(0.01)
    q.stop()


def main() -> None:
    rows_per_sec = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    duration_s = int(sys.argv[2]) if len(sys.argv) > 2 else 30
    mode = sys.argv[3] if len(sys.argv) > 3 else "session_window"
    mode, _, score_suffix = mode.partition("+")
    if mode not in ("session_window", "accum") or score_suffix not in ("", "score"):
        raise ValueError(f"unknown mode {sys.argv[3]!r}")
    with_score = score_suffix == "score"
    flows_arg = sys.argv[4] if len(sys.argv) > 4 else "1000"
    flows_arg, _, provider = flows_arg.partition(",")
    n_flows = int(flows_arg)
    # trigger interval (s). The round-7 cardinality ladder's lever: when
    # every open flow is touched every batch, per-batch cost is
    # ~groups × group-machinery regardless of row count — so the trigger
    # must scale with per-executor key cardinality to amortize it (a
    # cluster additionally divides the keys across executors).
    trigger_s = int(sys.argv[5]) if len(sys.argv) > 5 else 1
    # state-partition count (6th arg). Round 8: defaults to the
    # cardinality-sized POLICY (session.state_partitions_for) instead of
    # a hand knob — 8 at 1k flows (sub-MB state, task overhead
    # dominates), 32 at 100k (8 partitions strand 24 of 32 cores while
    # each task walks 12.5k groups; measured 20x recovery in PERF.md's
    # round-7 ladder, now automatic). Pass the 6th arg to override.
    from anti_ddos_spark.session import get_spark, rocksdb_conf, state_partitions_for

    n_parts = (
        int(sys.argv[6]) if len(sys.argv) > 6
        else state_partitions_for(n_flows)
    )
    from anti_ddos_spark.sources.packets import rate_packet_stream
    from anti_ddos_spark.streaming.sessionize_stream import streaming_flow_features
    from anti_ddos_spark.streaming.stateful_accum import stateful_flow_features_accum

    # Streaming micro-batches are small; 32 shuffle partitions would give
    # sub-MB state partitions and per-task overhead dominates. 8 is sized
    # for local mode; a cluster deployment scales this with executor count.
    spark = get_spark(
        app_name="bench_stream",
        shuffle_partitions=n_parts,
        extra_conf=rocksdb_conf() if provider == "rocksdb" else None,
    )
    spark.sparkContext.setLogLevel("ERROR")

    model = _train_soak_model(spark) if with_score else None

    packets = rate_packet_stream(
        spark, rows_per_second=rows_per_sec, n_flows=n_flows
    )
    if with_score:
        # full reference proxy: sessionize → 77 features → finalized
        # filter → RF transform, all in-stream (streaming/pipeline.py)
        from anti_ddos_spark.streaming.pipeline import scored_flow_stream

        kwargs = (
            dict(gap_s=5, watermark="0 seconds")
            if mode == "session_window"
            else dict(timeout_ms=5_000)
        )
        flows = scored_flow_stream(packets, model, mode=mode, **kwargs)
        out_mode = "append" if mode == "session_window" else "update"
    elif mode == "session_window":
        flows = streaming_flow_features(packets, gap_s=5, watermark="0 seconds")
        out_mode = "append"
    else:
        flows = stateful_flow_features_accum(packets, timeout_ms=5_000)
        out_mode = "update"

    ckpt = tempfile.mkdtemp(prefix="bench_stream_ck_")
    q = (
        flows.writeStream.outputMode(out_mode)
        .format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime=f"{trigger_s} seconds")
        .start()
    )
    time.sleep(duration_s)
    _stop_at_batch_boundary(q)
    progress = [p for p in q.recentProgress]
    q.awaitTermination(30)

    # skip the first 5 batches (codegen + state warmup)
    steady = progress[5:] if len(progress) > 8 else progress
    proc = [p["processedRowsPerSecond"] for p in steady if p["numInputRows"] > 0]
    durs = [p["batchDuration"] / 1000.0 for p in steady if p["numInputRows"] > 0]
    if not proc:
        sys.exit(
            f"bench_stream: no batch with input finished in {len(progress)} "
            f"batches ({duration_s} s soak + up to {STOP_WAIT_S} s for the last batch)"
        )
    backlog_batches = [p for p in steady if p["batchDuration"] > 2_000 * trigger_s]
    out = {
        "metric": "stream_sustained_rows_per_sec",
        "value": round(statistics.median(proc), 1) if proc else 0.0,
        "unit": "rows/sec",
        "mode": mode + ("+score" if with_score else ""),
        "n_flows": n_flows,
        "provider": provider or "memory",
        "offered_rows_per_sec": rows_per_sec,
        "batches": len(progress),
        "mean_batch_s": round(statistics.mean(durs), 2) if durs else None,
        "slow_batches_gt_2x_trigger": len(backlog_batches),
        "trigger_s": trigger_s,
        "shuffle_partitions": n_parts,
        "kept_up": bool(durs) and statistics.mean(durs) < 2.0 * trigger_s,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
