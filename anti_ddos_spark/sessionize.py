"""Packet → flow sessionization (batch path).

The reference holds per-flow mutable state in a Python
applyInPandasWithState UDF with a 60 s processing-time timeout
(spark_app/main.py:254-990, :981, :1047-1053). Our batch twin is fully
declarative and deterministic: flows split on >gap event-time silences
(the event-time analogue of the reference's state timeout), and every
feature is a Catalyst aggregate.

Plan shape (by construction, verified in tests via explain()):

    parquet scan
      → Exchange hashpartitioning(flow key)      -- the ONE shuffle
      → Sort(flow key, ts, tie-breakers)
      → Window ×k  (session split, orientation, direction IATs, bulk runs)
      → HashAggregate(flow key, session_id)      -- reuses the partitioning
      → result

Everything after the scan stays whole-stage-codegen'd JVM work; at 100 TB
the only cost driver is the single hash exchange on the 5-tuple, which is
exactly the minimum any per-flow computation requires. Hot/skewed keys
(one victim IP under attack) are handled by AQE skew handling for joins;
for the window itself a skewed flow is inherently sequential — mitigate
upstream by bounding session length (gap split) which caps per-key run
length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from anti_ddos_spark.features import (
    BULK_BYTES_THRESHOLD,
    IDLE_THRESHOLD_US,
    flow_feature_aggs,
    identity_aggs,
)
from anti_ddos_spark.normalize import FLOW_KEY_COLS, ORDER_COLS, normalize_flow_key
from anti_ddos_spark.schemas import FLOW_FEATURES

DEFAULT_GAP_S = 60  # reference state timeout: 60 000 ms (main.py:981)


def _session_col_seq(gap_s: float | None, mode: str) -> list:
    """The (name, Column) sequence prepare_sessions appends — every
    expression references columns by unresolved NAME only, so the trees
    are reusable across DataFrames and memoized per (gap_s, mode, JVM)
    via features._memoized (r14, guide §7.3: rebuilding these window
    Columns cost ~0.3-0.5 s of driver py4j per flow-query build)."""
    w = Window.partitionBy(*FLOW_KEY_COLS).orderBy(*ORDER_COLS)
    upto_now = w.rowsBetween(Window.unboundedPreceding, 0)
    prev_rows = w.rowsBetween(Window.unboundedPreceding, -1)

    raw_gap = F.col("ts_us") - F.lag("ts_us").over(w)
    if gap_s is None:
        new_session = F.lag("ts_us").over(w).isNull()
    else:
        gap_us = int(gap_s * 1_000_000)
        new_session = raw_gap.isNull() | (raw_gap > F.lit(gap_us))

    seq: list = [
        ("ts_us", F.unix_micros("timestamp")),
        ("raw_gap_us", raw_gap),
        ("new_session", new_session),
        # Running session index + the session-start packet's orientation;
        # conditional last() over the same window — no extra shuffle.
        ("session_id", F.sum(F.col("new_session").cast("long")).over(upto_now)),
        (
            "sess_start_us",
            F.last(F.when(F.col("new_session"), F.col("ts_us")), ignorenulls=True).over(upto_now),
        ),
        (
            "sess_src_ip",
            F.last(F.when(F.col("new_session"), F.col("src_ip")), ignorenulls=True).over(upto_now),
        ),
        (
            "sess_src_port",
            F.last(F.when(F.col("new_session"), F.col("src_port")), ignorenulls=True).over(upto_now),
        ),
        (
            "is_fwd",
            (F.col("src_ip") == F.col("sess_src_ip"))
            & (F.col("src_port") == F.col("sess_src_port")),
        ),
    ]

    # Direction-local previous-packet tracking (ts + length) via
    # conditional last() over preceding rows, session-fenced afterwards.
    prev_fwd = F.last(
        F.when(F.col("is_fwd"), F.struct("ts_us", "length")), ignorenulls=True
    ).over(prev_rows)
    prev_bwd = F.last(
        F.when(~F.col("is_fwd"), F.struct("ts_us", "length")), ignorenulls=True
    ).over(prev_rows)
    prev_dir = F.when(F.col("is_fwd"), prev_fwd).otherwise(prev_bwd)
    in_session = prev_dir["ts_us"] >= F.col("sess_start_us")

    seq += [
        ("flow_iat_us", F.when(~F.col("new_session"), F.col("raw_gap_us"))),
        ("dir_iat_us", F.when(in_session, F.col("ts_us") - prev_dir["ts_us"])),
        ("prev_dir_len", F.when(in_session, prev_dir["length"])),
    ]

    # Bulk-run head: bulk packet whose same-direction predecessor (within
    # the session) is absent or not bulk — deterministic episode marker.
    is_bulk = F.col("length") > F.lit(BULK_BYTES_THRESHOLD)
    seq.append(
        (
            "bulk_start",
            is_bulk
            & (
                F.col("prev_dir_len").isNull()
                | (F.col("prev_dir_len") <= BULK_BYTES_THRESHOLD)
            ),
        )
    )

    if mode == "exact":
        # Active spans: maximal runs of packets with no >1 s internal gap.
        # Emit each span's width on its closing packet (the one before an
        # idle gap, or the session's last packet) so a plain agg can
        # consume them; approximated here as gap-partitioned run lengths.
        idle_break = F.col("flow_iat_us").isNull() | (
            F.col("flow_iat_us") > F.lit(IDLE_THRESHOLD_US)
        )
        seq.append(
            ("active_run_id", F.sum(idle_break.cast("long")).over(upto_now))
        )
        w_run_start = F.last(
            F.when(idle_break, F.col("ts_us")), ignorenulls=True
        ).over(upto_now)
        nxt = F.lead("ts_us").over(w)
        nxt_sess = F.lead("new_session").over(w)
        run_closes = (
            nxt.isNull() | nxt_sess | ((nxt - F.col("ts_us")) > F.lit(IDLE_THRESHOLD_US))
        )
        seq.append(
            ("active_span_us", F.when(run_closes, F.col("ts_us") - w_run_start))
        )
    return seq


def prepare_sessions(
    packets: DataFrame, gap_s: float | None = DEFAULT_GAP_S, mode: str = "faithful"
) -> DataFrame:
    """Annotate packets with session ids, direction, IATs and bulk runs.

    One hash shuffle on the flow key; every derived column is an analytic
    function over that same partitioning (several Window nodes, one sort).
    ``gap_s=None`` disables session splitting (one flow per 5-tuple).
    """
    from anti_ddos_spark.features import _memoized

    seq = _memoized(
        ("session_col_seq", repr(gap_s), mode), lambda: _session_col_seq(gap_s, mode)
    )
    df = normalize_flow_key(packets)
    # sequential: later columns reference earlier ones by name
    for name, col in seq:
        df = df.withColumn(name, col)
    return df


def flow_features(
    packets: DataFrame,
    gap_s: float | None = DEFAULT_GAP_S,
    mode: str = "faithful",
    keep_session_id: bool = False,
) -> DataFrame:
    """Full batch sessionizer: packets → one 85-column feature row per flow.

    Output schema matches the reference's sessionizer output
    (spark_app/main.py:54-138) with `timestamp` = last-seen packet time.
    """
    prepared = prepare_sessions(packets, gap_s=gap_s, mode=mode)
    aggs = identity_aggs() + flow_feature_aggs(mode=mode)
    out = prepared.groupBy(*FLOW_KEY_COLS, "session_id").agg(*aggs)
    keep = ["flow_id", "source_ip", "source_port", "destination_ip", "destination_port"]
    cols = (
        keep
        + ["protocol", F.col("last_timestamp").alias("timestamp")]
        + [name for name, _ in FLOW_FEATURES]
    )
    if keep_session_id:
        cols.append("session_id")
    return out.select(*cols)
