"""live_accum: the deployed shape of the reference — an open-loop packet
stream through the update-mode sessionizer, the frozen RandomForest and
the NDJSON sink (``run_detection_to_ndjson(mode="accum")``).

The load generator is Spark's ``rate`` source at a fixed rate.  Each row
carries its scheduled creation time, and the source does not slow when
the pipeline does, so a slow pipeline shows as bigger, later batches.
Each row becomes one packet of ``SHAPE`` (perfbench/gen.py).

Timeline: the model loads, the query starts and runs ``LEAD_S``
unmeasured, then the window of ``--seconds``, then a tail in which every
flow whose last packet fell in the window times out and reaches the sink.

End to end: per finalized flow whose last packet was created in the
window, detection lag = commit time of the batch that wrote its scored
row - (creation time of its last packet + idle timeout), as median and
95th percentile; and packets processed per second by the batches that
commit window flows.  The traced run also drains the event-time replay
(replay.py).
"""

from __future__ import annotations

import os
import statistics
import time

import gen
import metrics
import replay
import streams

SHAPE = gen.PacketShape(n_open=200, pkts_lo=60, pkts_hi=140, reverse_share=1 / 3)
# Offered packets/s.  On 4 cores the backlog stays flat at 2000/s and
# diverges near 3000/s; at 1000/s batches take 3-5 s with the host's
# speed, so a window holds several of them.
RATE = 1_000
# A flow times out in the first batch that starts an idle timeout after
# the batch that read its last packet.  Batches start at least one 1 s
# trigger apart, so a timeout under the trigger puts every flow's final
# row in the next batch; one near a multiple of the batch time would make
# that a coin flip.
IDLE_TIMEOUT_MS = 800
# Flows whose last packet is created from LEAD_S after the query starts
# are measured: their rows commit after its first two (cold) batches.
LEAD_S = 6.0
# Deadline for the tail after the window, in which every flow ending in
# the window must time out and commit.
TAIL_DEADLINE_S = 45.0
# The backlog after the tail may exceed its median over the measured
# batches by at most this much; an unsustainable rate grows it without
# bound, a transient stall recovers.
MAX_BACKLOG_GROWTH_S = 3.0


def load_model(spark):
    from pyspark.ml import PipelineModel

    import anti_ddos_spark

    return PipelineModel.load(
        os.path.join(os.path.dirname(anti_ddos_spark.__file__), "artifacts", "rf_frozen_model")
    )


def rate_packets(spark, seed: int):
    from pyspark.sql import functions as F

    rate = spark.readStream.format("rate").option("rowsPerSecond", RATE).load()
    pkts = rate.select(*gen.packet_columns(seed, SHAPE, F.col("timestamp")))
    return pkts.select(*gen.PACKET_COLS)


def drained(bs: list, w1: float) -> bool:
    """Whether every flow whose last packet was created by ``w1`` has had
    its chance to time out and commit: some batch has read all input up
    to ``w1``, and a batch that started an idle timeout after that one
    has completed."""
    if not bs:
        return False
    t0 = min(b.start - float(b.sources[0]["endOffset"]) for b in bs)
    read = [b for b in bs if float(b.sources[0]["endOffset"]) >= w1 - t0 + 1]
    return bool(read) and any(b.start >= read[0].start + IDLE_TIMEOUT_MS / 1000 for b in bs)


def wait_drained(query, w1: float, deadline: float) -> bool:
    """Poll the query's progress until ``drained``; False at the deadline."""
    while time.time() < deadline:
        if drained(metrics.batches(query.recentProgress), w1):
            return True
        time.sleep(0.2)
    return False


def run(run):
    from anti_ddos_spark.streaming.pipeline import run_detection_to_ndjson
    from anti_ddos_spark.streaming.stateful_accum import stateful_flow_features_accum

    spark = run.spark
    model = load_model(spark)
    out_dir, ckpt = run.path("sink"), run.path("ckpt")
    packets = rate_packets(spark, run.seed)
    sink = None
    if run.trace:
        flows = stateful_flow_features_accum(packets, timeout_ms=IDLE_TIMEOUT_MS)
        query, sink = streams.start_traced(flows, model, out_dir, ckpt, update=True)
    else:
        query = run_detection_to_ndjson(
            packets, model, out_dir, ckpt, mode="accum", timeout_ms=IDLE_TIMEOUT_MS
        )
    w0 = time.time() + LEAD_S
    w1 = w0 + run.seconds
    time.sleep(max(0.0, w0 - time.time()))
    run.setup_done()
    drained_ok = wait_drained(query, w1, w1 + TAIL_DEADLINE_S)
    stopped = streams.stop(query, 60)
    bs = metrics.batches(query.recentProgress)
    commit = {b.batch_id: b.end for b in bs}
    rows = streams.read_sink(out_dir)
    flows_gen = gen.generated_flows(spark, run.seed, SHAPE, sum(b.input_rows for b in bs))

    # creation time of counter value v is t0 + v / RATE; the sink rows
    # carry their flows' last packet time, which pins t0
    seen = {row["flow_id"]: (bid, row) for bid, row in rows}
    t0s = [
        metrics.parse_time(row["timestamp"]) - flows_gen[fid][1] / RATE
        for fid, (_, row) in seen.items() if fid in flows_gen
    ]
    t0 = statistics.median(t0s) if t0s else w0

    # every sink row must carry its flow's generated packet total, and
    # every flow that ended with its last packet in the window is due
    bad = [
        fid for fid, (_, row) in seen.items()
        if row["total_fwd_packets"] + row["total_backward_packets"]
        != flows_gen.get(fid, (None,))[0]
    ]
    finals, missing = [], []
    for fid, (_, last_v, ended) in flows_gen.items():
        if not ended or not (w0 <= t0 + last_v / RATE < w1):
            continue
        if fid in seen:
            bid, row = seen[fid]
            finals.append((bid, metrics.parse_time(row["timestamp"])))
        else:
            missing.append(fid)
    lags = metrics.detection_lags(finals, commit, IDLE_TIMEOUT_MS / 1000)

    # batches that can commit window flows
    busy = [b for b in bs if b.start >= w0 + IDLE_TIMEOUT_MS / 1000]
    # backlog: at each batch's end, the newest input minus what has been
    # read.  The rate source's offsets count whole seconds since t0.
    backlog = [(b.end, b.end - t0 - float(b.sources[0]["endOffset"])) for b in busy]
    final_backlog = bs[-1].end - t0 - float(bs[-1].sources[0]["endOffset"]) if bs else 0.0
    growth = final_backlog - statistics.median(v for _, v in backlog) if backlog else 0.0
    processed = sum(b.input_rows for b in busy)
    span = busy[-1].end - busy[0].start if busy else float(run.seconds)

    checks = {
        "drained": drained_ok, "stopped": stopped,
        "backlog_steady": growth <= MAX_BACKLOG_GROWTH_S, "has_lags": bool(lags),
    }
    res = metrics.Result(
        attempted=len(seen) + len(missing) + len(checks),
        failed=len(bad) + len(missing) + sum(not ok for ok in checks.values()),
    )
    lag = metrics.summary(lags) if lags else {"p50": 0.0, "p95": 0.0}
    res.e2e["latency_p50_s"] = (lag["p50"], "s")
    res.e2e["latency_p95_s"] = (lag["p95"], "s")
    res.e2e["throughput_per_s"] = (processed / span, "1/s")
    res.detail = {
        "lag": lag, "checks": checks, "missing": missing[:10], "bad_totals": bad[:10],
        "sink_rows": len(rows), "backlog_growth_s": growth, "backlog": backlog,
        "rate": RATE, "shape": SHAPE.__dict__, "idle_timeout_ms": IDLE_TIMEOUT_MS,
        "window": [w0, w1], "batches": [b.__dict__ for b in bs],
    }
    if busy:
        res.layers.update(streams.stream_layers(busy))
        res.layers.update(streams.state_layers("stateful_accum", busy))
        res.layers["stateful_accum.timeout_s"] = (
            metrics.state_total(busy, "allRemovalsTimeMs") / 1000 / len(busy), "s"
        )
        res.layers["stateful_accum.groups_updated"] = (
            metrics.state_total(busy, "numRowsUpdated"), "count"
        )
        res.layers["sources.backlog_s"] = (statistics.fmean(v for _, v in backlog), "s")
    if sink is not None:
        ids = {b.batch_id for b in busy}
        spans = [s for s in sink.spans if s["batch_id"] in ids]
        res.layers.update(streams.sink_layers(spans))
        res.layers["sinks.rows"] = (float(sum(bid in ids for bid, _ in rows)), "count")
        emitted = sum(s["emitted"] for s in spans)
        res.layers["stateful_accum.final_share"] = (
            sum(s["final"] for s in spans) / emitted if emitted else 0.0, "ratio"
        )
        res.detail["spans"] = sink.spans
        rep = replay.run(run, model)
        res.attempted += rep.attempted
        res.failed += rep.failed
        res.layers.update(rep.layers)
        res.detail["replay"] = rep.detail
    return res
