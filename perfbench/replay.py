"""Event-time replay, run inside the traced live_accum run: a seeded
DDoS-flood capture (20,000 open flows of 2-8 packets) read as NDJSON
through ``decode_packets`` into the event-time sessionizer
(``streaming_flow_features``, watermark 0 s) and drained under
availableNow into the traced sink, then the batch twins of the decode and
array-feature steps over the same capture.

It gives the per-layer numbers of ``sources.packets``,
``streaming.sessionize_stream`` and ``features_array``, which the live
stream does not touch.  Capacity (``replay.pkts_per_s``) is the packets
of the batches after the first over their summed batch time, so query
start-up and the cold first batch stay out of it.
"""

from __future__ import annotations

import json
import os
import time

import gen
import metrics
import streams

# 20,000 flows open at once; each slot carries 2 packets, so ~28,000
# flows in all, most of them cut by the capture's end and closed by the
# flush packet.  Sized so the traced run (live stream, this drain and the
# batch twins) takes about two minutes of its three on 4 cores.
SHAPE = gen.PacketShape(n_open=20_000, pkts_lo=2, pkts_hi=8, reverse_share=1 / 3)
PACKETS = 40_000
FILES = 4  # one per micro-batch (maxFilesPerTrigger=1)
CLOCK_PPS = 10_000  # the capture's own clock: packet v is at BASE + v / CLOCK_PPS
# A slot's packets are n_open / CLOCK_PPS = 2 s apart; with a 3 s gap the
# flows that end in the capture's first second close before the flush.
GAP_S = 3
BASE_US = 1_700_000_000_000_000
DEADLINE_S = 120.0


def write_capture(spark, seed: int, out_dir: str) -> int:
    """Write the capture as ``FILES`` NDJSON files in time order, plus a
    final file with one far-future packet that closes every session.
    Returns the number of flows the capture's packets form."""
    from pyspark.sql import functions as F

    from anti_ddos_spark.sources.packets import TIMESTAMP_FMT

    ts = F.timestamp_micros(F.lit(BASE_US) + F.col("value") * (1_000_000 // CLOCK_PPS))
    pkts = (
        spark.range(0, PACKETS, 1, FILES).withColumnRenamed("id", "value")
        .select(*gen.packet_columns(seed, SHAPE, ts))
    )
    n_flows = pkts.select("flow_id").distinct().count()
    pkts.select(
        F.to_json(F.struct(*gen.PACKET_COLS), {"timestampFormat": TIMESTAMP_FMT}).alias("value")
    ).write.text(out_dir)
    flush = {"timestamp": "2099-01-01 00:00:00.000000", "src_ip": "192.0.2.1",
             "dst_ip": "192.0.2.2", "length": 60, "protocol": 17, "src_port": 9,
             "dst_port": 9, "udp_len": 32}
    with open(os.path.join(out_dir, "part-99999-flush.txt"), "w") as f:
        f.write(json.dumps(flush) + "\n")
    # the file source orders files by modification time
    parts = sorted(p for p in os.listdir(out_dir) if p.startswith("part-"))
    now = time.time()
    for i, name in enumerate(parts):
        os.utime(os.path.join(out_dir, name), (now + i, now + i))
    return n_flows


def run(run, model) -> metrics.Result:
    """Drain the capture and time the batch twins; per-layer metrics only."""
    from pyspark.sql import functions as F

    from anti_ddos_spark.sources.packets import decode_packets
    from anti_ddos_spark.streaming.sessionize_stream import (
        flow_features_arrayagg,
        streaming_flow_features,
    )

    import headline_batch

    spark = run.spark
    capture, out_dir = run.path("capture"), run.path("replay_sink")
    n_flows = write_capture(spark, run.seed, capture)

    raw = spark.readStream.schema("value STRING").option("maxFilesPerTrigger", 1).text(capture)
    flows = streaming_flow_features(decode_packets(raw), gap_s=GAP_S, watermark="0 seconds")
    t0 = time.perf_counter()
    query, sink = streams.start_traced(
        flows, model, out_dir, run.path("replay_ckpt"), update=False
    )
    finished = bool(query.awaitTermination(DEADLINE_S))
    wall = time.perf_counter() - t0
    if not finished:
        streams.stop(query, 30)
    bs = metrics.batches(query.recentProgress)
    rows = streams.read_sink(out_dir)
    dropped = metrics.state_total(bs, "numRowsDroppedByWatermark")

    steady = bs[1:]
    steady_s = sum(b.duration_s for b in steady)
    layers = {
        "replay.pkts_per_s": (
            sum(b.input_rows for b in steady) / steady_s if steady_s else 0.0, "1/s"
        )
    }
    layers.update(streams.state_layers("sessionize_stream", bs))
    layers["sessionize_stream.emit_s"] = (
        metrics.state_total(bs, "allRemovalsTimeMs") / 1000 / len(bs), "s"
    )
    layers["sessionize_stream.late_rows_dropped"] = (dropped, "count")

    batch_raw = spark.read.text(capture)
    t0 = time.perf_counter()
    headline_batch.force(decode_packets(batch_raw)).collect()
    layers["sources.decode_s"] = (time.perf_counter() - t0, "s")
    decoded = decode_packets(batch_raw).filter(F.year("timestamp") < 2099)
    t0 = time.perf_counter()
    headline_batch.force(flow_features_arrayagg(decoded, gap_s=GAP_S)).collect()
    layers["features_array.batch_s"] = (time.perf_counter() - t0, "s")

    checks = {"finished": finished, "all_flows_emitted": len(rows) == n_flows,
              "none_dropped": dropped == 0, "batches": len(bs) >= FILES}
    return metrics.Result(
        attempted=len(checks), failed=sum(not ok for ok in checks.values()),
        layers=layers,
        detail={"checks": checks, "flows": n_flows, "sink_rows": len(rows), "wall_s": wall,
                "batches": [b.__dict__ for b in bs], "spans": sink.spans},
    )
