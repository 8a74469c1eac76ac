"""Update-mode accumulator sessionizer across micro-batches: partial
emission, timeout finals, same-timestamp packets, exact totals.

Processing-time timeouts are wall-clock (the reference's semantics,
spark_app/main.py:981), so this test polls with generous margins rather
than asserting exact batch boundaries.
"""

from __future__ import annotations

import os
import time

from anti_ddos_spark.schemas import PACKET_SCHEMA
from anti_ddos_spark.streaming.sessionize_stream import flow_features_arrayagg
from anti_ddos_spark.streaming.stateful_accum import stateful_flow_features_accum
from tests.conftest import make_packets
from tests.oracle_utils import assert_finals_match

TIMEOUT_MS = 8_000
# Deadline ceiling for the poll loops below. Every loop breaks as soon as
# its row-count condition holds, so a large ceiling costs nothing on a
# healthy run — it only buys headroom when the box is contended (the r3
# verdict saw these fail under a concurrent full-suite run at 60 s).
WAIT_S = 300


def test_stateful_partial_then_final(spark, tmp_path):
    rows = make_packets()
    half = len(rows) // 2
    src, ck = str(tmp_path / "src"), str(tmp_path / "ck")
    os.makedirs(src)

    def write(batch):
        spark.createDataFrame(batch, PACKET_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    write(rows[:half])
    stream = (
        spark.readStream.schema(PACKET_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = stateful_flow_features_accum(stream, timeout_ms=TIMEOUT_MS)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_flows")
        .option("checkpointLocation", ck)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        # second half lands well inside the timeout → flows stay open
        write(rows[half:])

        batch_want = flow_features_arrayagg(
            spark.createDataFrame(rows, PACKET_SCHEMA), gap_s=None
        )
        n_flows = batch_want.count()

        deadline = time.time() + WAIT_S
        got = None
        while time.time() < deadline:
            got = spark.table("stateful_flows")
            if got.filter("is_final").count() >= n_flows:
                break
            time.sleep(2)

        assert got.filter("not is_final").count() > 0, (
            "no partial (update-mode) rows emitted"
        )
        # finalized rows == the batch whole-flow features, field for field
        # (sumsq-derived std/variance within the ±1 band)
        assert_finals_match(got, batch_want)
    finally:
        q.stop()
        q.awaitTermination(30)


def test_stateful_duplicate_ts_across_batches(spark, tmp_path):
    """A UDP packet (null tcp fields) arriving in batch N+1 with the SAME
    microsecond timestamp as a batch-N packet folds into the stored
    state: the query survives and the flow's row counts both packets."""
    import datetime as dt

    ts = dt.datetime(2024, 1, 1, 0, 0, 1)
    pkt = dict(
        timestamp=ts, src_ip="10.7.7.1", dst_ip="10.7.7.2", length=90,
        protocol=17, src_port=4444, dst_port=53, udp_len=62,
        tcp_seq=None, tcp_ack=None, tcp_win=None, tcp_len=None,
        cwr_flag=None, ece_flag=None, urg_flag=None, ack_flag=None,
        psh_flag=None, rst_flag=None, syn_flag=None, fin_flag=None,
    )
    src, ck = str(tmp_path / "src"), str(tmp_path / "ck")
    os.makedirs(src)
    for _ in range(2):  # same packet, two files → two micro-batches
        spark.createDataFrame([pkt], PACKET_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(PACKET_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stateful_flow_features_accum(stream, timeout_ms=60_000)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("dup_ts")
        .option("checkpointLocation", ck)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + WAIT_S
        while time.time() < deadline:
            if q.exception() is not None:
                raise AssertionError(f"query died: {q.exception()}")
            rows = spark.table("dup_ts").collect()
            if any(r["total_fwd_packets"] + r["total_backward_packets"] == 2 for r in rows):
                break
            time.sleep(1)
        rows = spark.table("dup_ts").collect()
        assert any(
            r["total_fwd_packets"] + r["total_backward_packets"] == 2 for r in rows
        ), rows
    finally:
        q.stop()
        q.awaitTermination(30)


def test_stateful_overflow_keeps_exact_totals(spark, tmp_path):
    """Additive features stay exact when a flow's state is carried across
    micro-batches (the reference caps its stat arrays at 1000 packets,
    main.py:288-292; accumulators are exact at any length). Feed a
    10-packet flow as 6 + 4 packets and check the additive features of
    its 10-packet row against the batch sessionizer."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    fwd = dict(
        src_ip="10.8.8.1", dst_ip="10.8.8.2", src_port=6666, dst_port=53
    )
    bwd = dict(
        src_ip="10.8.8.2", dst_ip="10.8.8.1", src_port=53, dst_port=6666
    )
    rows = [
        dict(
            timestamp=base + dt.timedelta(seconds=i),
            length=100 + 10 * i, protocol=17, udp_len=72 + 10 * i,
            tcp_seq=None, tcp_ack=None, tcp_win=None, tcp_len=None,
            cwr_flag=None, ece_flag=None, urg_flag=None, ack_flag=None,
            psh_flag=None, rst_flag=None, syn_flag=None, fin_flag=None,
            **(fwd if i % 3 else bwd),
        )
        for i in range(10)
    ]
    # first packet (i=0) is bwd-dict but defines the orientation → it IS fwd
    src, ck = str(tmp_path / "src"), str(tmp_path / "ck")
    os.makedirs(src)
    for batch in (rows[:6], rows[6:]):
        spark.createDataFrame(batch, PACKET_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(PACKET_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stateful_flow_features_accum(stream, timeout_ms=60_000)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("overflow_totals")
        .option("checkpointLocation", ck)
        .trigger(processingTime="1 second")
        .start()
    )
    exact_cols = [
        "total_fwd_packets", "total_backward_packets",
        "total_length_of_fwd_packets", "total_length_of_bwd_packets",
        "fwd_packet_length_max", "fwd_packet_length_min",
        "fwd_packet_length_mean", "bwd_packet_length_max",
        "bwd_packet_length_min", "bwd_packet_length_mean",
        "min_packet_length", "max_packet_length", "packet_length_mean",
        "fwd_header_length", "bwd_header_length",
        "average_packet_size", "avg_fwd_segment_size", "avg_bwd_segment_size",
        "down_up_ratio", "subflow_fwd_packets", "subflow_fwd_bytes",
        "subflow_bwd_packets", "subflow_bwd_bytes", "act_data_pkt_fwd",
        "fin_flag_count", "syn_flag_count", "psh_flag_count",
        "flow_bytes_s", "flow_packets_s", "fwd_packets_s", "bwd_packets_s",
        "timestamp",
    ]
    try:
        want = (
            flow_features_arrayagg(
                spark.createDataFrame(rows, PACKET_SCHEMA), gap_s=None
            )
            .select(*exact_cols)
            .collect()[0]
        )
        deadline = time.time() + WAIT_S
        got = None
        while time.time() < deadline:
            if q.exception() is not None:
                raise AssertionError(f"query died: {q.exception()}")
            hits = (
                spark.table("overflow_totals")
                .filter("total_fwd_packets + total_backward_packets = 10")
                .select(*exact_cols)
                .collect()
            )
            if hits:
                got = hits[-1]
                break
            time.sleep(1)
        assert got is not None, spark.table("overflow_totals").collect()
        for col in exact_cols:
            assert got[col] == want[col], (col, got[col], want[col])
    finally:
        q.stop()
        q.awaitTermination(30)


def test_stateful_partials_refresh(spark, tmp_path):
    """A key touched in two micro-batches emits (at least) two partial
    rows, the later one covering more packets (update-mode refresh)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    mk = lambda s, n: [  # noqa: E731
        dict(
            timestamp=base + dt.timedelta(seconds=s + i),
            src_ip="10.9.9.1", dst_ip="10.9.9.2", length=100, protocol=17,
            src_port=5555, dst_port=53, udp_len=72,
            tcp_seq=None, tcp_ack=None, tcp_win=None, tcp_len=None,
            cwr_flag=None, ece_flag=None, urg_flag=None, ack_flag=None,
            psh_flag=None, rst_flag=None, syn_flag=None, fin_flag=None,
        )
        for i in range(n)
    ]
    src, ck = str(tmp_path / "src"), str(tmp_path / "ck")
    os.makedirs(src)
    spark.createDataFrame(mk(0, 3), PACKET_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(PACKET_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stateful_flow_features_accum(stream, timeout_ms=60_000)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_refresh")
        .option("checkpointLocation", ck)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + WAIT_S
        while time.time() < deadline:
            if spark.table("stateful_refresh").count() >= 1:
                break
            time.sleep(1)
        spark.createDataFrame(mk(10, 2), PACKET_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        while time.time() < deadline:
            if spark.table("stateful_refresh").count() >= 2:
                break
            time.sleep(1)
        rows = (
            spark.table("stateful_refresh")
            .select("total_fwd_packets", "total_backward_packets", "is_final")
            .collect()
        )
        assert len(rows) >= 2, f"expected >=2 partial emissions, got {rows}"
        totals = sorted(r[0] + r[1] for r in rows)
        assert totals[0] == 3 and totals[-1] == 5, totals
        assert all(not r["is_final"] for r in rows)
    finally:
        q.stop()
        q.awaitTermination(30)
