"""End-to-end streaming detection pipeline (SURVEY §3.1).

The reference's full query, rebuilt Spark-first with its defects fixed
(undefined Kafka topic var main.py:1026, undefined foreachBatch fn
main.py:1096, driver-collect NDJSON predict_rf.py:43):

    packet stream (Kafka / NDJSON replay / rate)
      → finalized flows only (the reference's _TIMEOUT filter,
        main.py:1077,1093), from one of two sessionizers:
        mode='accum': accumulator state, update mode, processing-time
          timeout; it builds final rows only
        mode='session_window': event-time session_window, append mode;
          every row it emits is final
      → in-stream RF scoring (PipelineModel.transform — model broadcast
        to executors, pure JVM; M3)
      → prediction → 'DDoS'/'Normal' label (M5)
      → foreachBatch NDJSON sink (defined + idempotent) / Kafka sink

MLlib transforms are unbounded-DataFrame-safe, so the same `score`
helper serves batch and stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from anti_ddos_spark.ml import score
from anti_ddos_spark.schemas import FLOW_FEATURE_NAMES
from anti_ddos_spark.sources.sinks import foreach_batch_ndjson
from anti_ddos_spark.streaming.sessionize_stream import streaming_flow_features
from anti_ddos_spark.streaming.stateful_accum import stateful_flow_features_accum


def scored_flow_stream(
    packets: DataFrame,
    model,
    mode: str = "session_window",
    **sessionizer_kwargs,
) -> DataFrame:
    """packets stream → finalized feature rows → RF scores.

    mode='session_window' (append; deterministic event-time) or
    mode='accum' (update; processing-time timeout with O(1) per-flow
    accumulator state, final rows only).
    """
    if mode == "session_window":
        flows = streaming_flow_features(packets, **sessionizer_kwargs)
    elif mode == "accum":
        flows = stateful_flow_features_accum(packets, partials=False, **sessionizer_kwargs)
    else:
        raise ValueError(f"unknown mode {mode!r}")
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
    update = mode == "accum"
    return foreach_batch_ndjson(
        scored,
        out_dir,
        checkpoint,
        output_mode="update" if update else "append",
        trigger_available_now=not update,
        processing_time="1 second" if update else None,
    )
