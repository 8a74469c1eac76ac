"""O(1)-state accumulator sessionizer ≡ batch whole-flow features.

Only the sumsq-derived std/variance features may differ ±1 from the
exact two-pass batch numbers (documented catastrophic-cancellation
band); every other of the 85 columns must match exactly.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time

from anti_ddos_spark.schemas import PACKET_SCHEMA
from anti_ddos_spark.streaming.sessionize_stream import flow_features_arrayagg
from anti_ddos_spark.streaming.stateful_accum import (
    ACC_NAMES,
    STATE_SCHEMA,
    pack_state,
    stateful_flow_features_accum,
    unpack_state,
    update_accumulators,
)
from tests.conftest import make_packets
from tests.oracle_utils import assert_finals_match

TIMEOUT_MS = 8_000
WAIT_S = 90


def _start(df, name, ck):
    return (
        df.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ck)
        .trigger(processingTime="1 second")
        .start()
    )


def _wait_finals(spark, name, n_flows):
    deadline = time.time() + WAIT_S
    while time.time() < deadline:
        if spark.table(name).filter("is_final").count() >= n_flows:
            break
        time.sleep(2)
    return spark.table(name)


def test_state_row_is_the_accumulator_doubles():
    """A flow's state row holds its accumulators alone, in ACC_NAMES
    order, and survives the pack/unpack round trip unchanged."""
    import pandas as pd

    flags = ["fin_flag", "syn_flag", "rst_flag", "psh_flag",
             "ack_flag", "urg_flag", "cwr_flag", "ece_flag"]
    pdf = pd.DataFrame({
        "ts_us": [1_000, 2_000, 2_000, 3_500, 4_000],
        "from_a": [True, False, True, False, True],
        "tcp_seq": [1.0, 7.0, None, 9.0, 2.0],
        "length": [60, 1500, 1200, 40, 1100],
        "act": [True, True, False, True, True],
        **{c: [0, 1, 1, 0, i % 2] for i, c in enumerate(flags)},
    })
    acc = update_accumulators(None, pdf, ("10.0.0.1", 1234, "10.0.0.2", 80, 6))
    assert STATE_SCHEMA.fieldNames() == ACC_NAMES
    assert unpack_state(pack_state(acc)) == acc


def test_accum_finals_match_batch(spark, tmp_path):
    rows = make_packets()
    src, ck = str(tmp_path / "src"), str(tmp_path / "ck")
    os.makedirs(src)
    spark.createDataFrame(rows, PACKET_SCHEMA).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(PACKET_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = stateful_flow_features_accum(stream, timeout_ms=TIMEOUT_MS)
    q = _start(out, "accum_flows", ck)
    try:
        want_df = flow_features_arrayagg(
            spark.createDataFrame(rows, PACKET_SCHEMA), gap_s=None
        )
        got_df = _wait_finals(spark, "accum_flows", want_df.count())
        assert_finals_match(got_df, want_df)
        # partial rows existed before finals
        assert got_df.filter("not is_final").count() > 0
    finally:
        q.stop()
        q.awaitTermination(30)


def tie_slices(n_flows: int = 8, seed: int = 3) -> list[list[dict]]:
    """Three time slices of TCP and UDP flows. Every slice opens each flow
    with a packet in each direction at one timestamp, written B→A first,
    so only the (ts, src endpoint) tie order makes the lesser-IP end
    forward; TCP flows also tie within one direction, on distinct tcp_seq
    written in descending order. The last flow's two ends share an IP."""
    rng = random.Random(seed)
    base = dt.datetime(2024, 1, 1)
    slices: list[list[dict]] = [[], [], []]
    for f in range(n_flows):
        tcp = f % 2 == 0
        a = (f"10.0.0.{f + 1}", 40_000 + f)
        b = (a[0] if f == n_flows - 1 else "10.0.9.9", 443 if tcp else 53)

        def pkt(t, src, dst, seq=None):
            length = rng.choice([60, 400, 1200, 1500])
            flags = {
                c: (int(rng.random() < 0.3) if tcp else None)
                for c in ("cwr_flag", "ece_flag", "urg_flag", "ack_flag",
                          "psh_flag", "rst_flag", "syn_flag", "fin_flag")
            }
            return dict(
                timestamp=t, src_ip=src[0], dst_ip=dst[0], length=length,
                protocol=6 if tcp else 17, src_port=src[1], dst_port=dst[1],
                udp_len=None if tcp else length - 28,
                tcp_seq=(seq or rng.randint(1, 2**31 - 1)) if tcp else None,
                tcp_ack=None, tcp_win=None,
                tcp_len=rng.choice([0, length - 40]) if tcp else None, **flags,
            )

        for s, rows in enumerate(slices):
            t = base + dt.timedelta(seconds=10 * s, milliseconds=f)
            rows += [pkt(t, b, a), pkt(t, a, b)]
            for _ in range(6):
                # UDP has no tcp_seq to order same-direction ties by
                t += dt.timedelta(milliseconds=rng.choice([0, 1, 300] if tcp else [1, 300]))
                src, dst = (a, b) if rng.random() < 0.5 else (b, a)
                if tcp and rng.random() < 0.4:
                    lo, hi = sorted(rng.sample(range(1, 2**31), 2))
                    rows += [pkt(t, src, dst, seq=hi), pkt(t, src, dst, seq=lo)]
                elif rng.random() < 0.4:
                    rows += [pkt(t, b, a), pkt(t, a, b)]
                else:
                    rows.append(pkt(t, src, dst))
    return slices


def test_accum_tie_order_and_finals_only_pipeline(spark, tmp_path):
    """Packets tied on timestamp across and within directions, spread over
    three micro-batches: accum finals ≡ batch features (tie order and
    state carried across batches), the default sessionizer emits partial
    rows, and the detection pipeline's stream emits final rows only."""
    from pyspark.ml import PipelineModel

    import anti_ddos_spark
    from anti_ddos_spark.streaming.pipeline import scored_flow_stream

    slices = tie_slices()
    src = str(tmp_path / "src")
    for rows in slices:  # one file per slice, in time order
        spark.createDataFrame(rows, PACKET_SCHEMA).coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.1)
    model = PipelineModel.load(
        os.path.join(os.path.dirname(anti_ddos_spark.__file__), "artifacts", "rf_frozen_model")
    )

    def stream():
        return spark.readStream.schema(PACKET_SCHEMA).option("maxFilesPerTrigger", "1").parquet(src)

    queries = [
        _start(stateful_flow_features_accum(stream(), timeout_ms=TIMEOUT_MS),
               "accum_tie_flows", str(tmp_path / "ck1")),
        _start(scored_flow_stream(stream(), model, mode="accum", timeout_ms=TIMEOUT_MS),
               "accum_tie_scored", str(tmp_path / "ck2")),
    ]
    try:
        want_df = flow_features_arrayagg(
            spark.createDataFrame([r for rows in slices for r in rows], PACKET_SCHEMA),
            gap_s=None,
        )
        n_flows = want_df.count()
        for name in ("accum_tie_flows", "accum_tie_scored"):
            assert_finals_match(_wait_finals(spark, name, n_flows), want_df)
        assert sum(p["numInputRows"] > 0 for p in queries[0].recentProgress) == len(slices)
        assert spark.table("accum_tie_flows").filter("not is_final").count() > 0
        assert spark.table("accum_tie_scored").filter("not is_final").count() == 0
    finally:
        for q in queries:
            q.stop()
            q.awaitTermination(30)
