"""End-to-end streaming detection pipeline (SURVEY §3.1).

The reference's full query, rebuilt Spark-first with its defects fixed
(undefined Kafka topic var main.py:1026, undefined foreachBatch fn
main.py:1096, driver-collect NDJSON predict_rf.py:43):

    packet stream (Kafka / NDJSON replay / rate)
      → stateful flow sessionizer (update mode, processing-time timeout)
        OR event-time session_window (append mode)
      → in-stream RF scoring (PipelineModel.transform — model broadcast
        to executors, pure JVM; M3)
      → prediction → 'DDoS'/'Normal' label (M5)
      → finalized-flow filter (is_final, the reference's _TIMEOUT filter
        main.py:1077,1093)
      → foreachBatch NDJSON sink (defined + idempotent) / Kafka sink

MLlib transforms are unbounded-DataFrame-safe, so the same `score`
helper serves batch and stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from anti_ddos_spark.ml import score
from anti_ddos_spark.schemas import FLOW_FEATURE_NAMES
from anti_ddos_spark.sources.sinks import foreach_batch_ndjson
from anti_ddos_spark.streaming.sessionize_stream import streaming_flow_features
from anti_ddos_spark.streaming.stateful import stateful_flow_features


def scored_flow_stream(
    packets: DataFrame,
    model,
    mode: str = "session_window",
    finalized_only: bool = True,
    **sessionizer_kwargs,
) -> DataFrame:
    """packets stream → feature rows → RF scores.

    mode='session_window' (append; deterministic event-time),
    mode='accum' (update; processing-time timeout with O(1) per-flow
    accumulator state — the production update-mode path; with
    ``finalized_only`` it builds no partial rows), or mode='stateful'
    (update; array-state parity twin).
    """
    from anti_ddos_spark.streaming.stateful_accum import _accum_flows

    if mode == "session_window":
        flows = streaming_flow_features(packets, **sessionizer_kwargs)
    elif mode == "accum":
        flows = _accum_flows(packets, partials=not finalized_only, **sessionizer_kwargs)
    elif mode == "stateful":
        flows = stateful_flow_features(packets, **sessionizer_kwargs)
    else:
        raise ValueError(f"unknown mode {mode!r}")
    if finalized_only and mode != "accum":  # accum emitted final rows only
        flows = flows.filter(F.col("is_final"))
    # feature vector must not see identity/string cols
    feature_cols = [c for c in FLOW_FEATURE_NAMES if c in flows.columns]
    scored = score(model, flows)
    keep = [
        "flow_id",
        "source_ip",
        "source_port",
        "destination_ip",
        "destination_port",
        "protocol",
        "timestamp",
        "is_final",
        # capped array-state mode only: marks head-windowed
        # distributional stats so consumers can route elephant flows to
        # the exact accumulator path
        "overflowed",
        "prediction",
        "Label",
        *feature_cols,
    ]
    return scored.select(*[c for c in keep if c in scored.columns])


def run_detection_to_ndjson(
    packets: DataFrame,
    model,
    out_dir: str,
    checkpoint: str,
    mode: str = "session_window",
    **sessionizer_kwargs,
) -> StreamingQuery:
    """The assembled reference pipeline with a working sink."""
    scored = scored_flow_stream(packets, model, mode=mode, **sessionizer_kwargs)
    update = mode in ("stateful", "accum")
    return foreach_batch_ndjson(
        scored,
        out_dir,
        checkpoint,
        output_mode="update" if update else "append",
        trigger_available_now=not update,
        processing_time="1 second" if update else None,
    )
