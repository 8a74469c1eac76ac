"""Structured Streaming flow sessionizer (SURVEY §2.7).

The reference holds per-flow state in a Python applyInPandasWithState UDF
with a nondeterministic processing-time timeout and NO watermark
(spark_app/main.py:981,1047-1053) — results depend on wall-clock batch
boundaries. Our streaming sessionizer is the event-time upgrade the
survey prescribes:

    packets stream
      → withWatermark(timestamp, late_threshold)
      → groupBy(session_window(timestamp, gap), flow key)
      → agg(collect_list(packet_struct))        -- one stateful agg
      → select(array_flow_features(...))        -- pure projection
      [outputMode=append: a flow row emits exactly once, when the
       watermark passes its session end — the deterministic analogue of
       the reference's "_TIMEOUT" finalization]

Everything is JVM-side Catalyst; no Python workers in the stream. The
same array expressions power an alternative batch strategy
(flow_features_arrayagg) used to prove batch ≡ streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from anti_ddos_spark.features_array import array_flow_features, pkt_struct
from anti_ddos_spark.normalize import FLOW_KEY_COLS, normalize_flow_key
from anti_ddos_spark.sessionize import DEFAULT_GAP_S


def streaming_flow_features(
    packets: DataFrame,
    gap_s: float = DEFAULT_GAP_S,
    watermark: str = "2 minutes",
) -> DataFrame:
    """Event-time gap-session flow features on a streaming DataFrame."""
    if gap_s <= 0:
        raise ValueError(f"gap_s must be positive, got {gap_s}")
    keyed = normalize_flow_key(packets).withWatermark("timestamp", watermark)
    # millisecond formatting: int-second truncation would silently change
    # fractional gaps (and produce an invalid '0 seconds' for gap_s < 1),
    # diverging from the batch twin's microsecond-precision gap rule
    grouped = keyed.groupBy(
        F.session_window("timestamp", f"{int(gap_s * 1000)} milliseconds"),
        *FLOW_KEY_COLS,
    ).agg(F.collect_list(pkt_struct()).alias("pkts"))
    out = grouped.select(*array_flow_features())
    # append-mode rows are final by construction
    return out.withColumn("is_final", F.lit(True))


def flow_features_arrayagg(
    packets: DataFrame, gap_s: float | None = DEFAULT_GAP_S
) -> DataFrame:
    """Batch twin of the streaming plan: groupBy + collect_list + project.

    Session split uses the same gap rule as sessionize.prepare_sessions
    (window cumsum) so outputs are comparable row-for-row; the feature
    math runs through the array expressions instead of window+agg.
    """
    from pyspark.sql import Window as W

    from anti_ddos_spark.normalize import ORDER_COLS

    df = normalize_flow_key(packets).withColumn("ts_us", F.unix_micros("timestamp"))
    w = W.partitionBy(*FLOW_KEY_COLS).orderBy(*ORDER_COLS)
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    if gap_s is None:
        new_s = F.lag("ts_us").over(w).isNull()
    else:
        new_s = gap.isNull() | (gap > int(gap_s * 1_000_000))
    df = df.withColumn(
        "session_id",
        F.sum(new_s.cast("long")).over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    grouped = df.groupBy(*FLOW_KEY_COLS, "session_id").agg(
        F.collect_list(pkt_struct()).alias("pkts")
    )
    return grouped.select(*array_flow_features())
