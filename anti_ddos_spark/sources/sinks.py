"""Sinks (SURVEY §2.1 S5-S9).

Fixes two reference defects by construction (SURVEY §2.7 "known
defects"): the foreachBatch function that was referenced but never
defined (spark_app/main.py:1096), and the driver-side
``toPandas().to_json`` NDJSON writer (predict_rf.py:43-52) which
materializes the whole result on one machine — ours writes NDJSON
distributed, one file per partition.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


def write_ndjson(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Distributed NDJSON (one JSON object per line) — replaces the
    reference's driver-collect writer (predict_rf.py:43-52, S7)."""
    df.write.mode(mode).json(path)


def label_predictions(df: DataFrame, pred_col: str = "prediction") -> DataFrame:
    """prediction 1.0 → 'DDoS' else 'Normal' (M5, main.py:1090)."""
    return df.withColumn(
        "label_name",
        F.when(F.col(pred_col) == 1.0, F.lit("DDoS")).otherwise(F.lit("Normal")),
    )


def ndjson_batch_writer(out_dir: str) -> Callable[[DataFrame, int], None]:
    """A *defined* foreachBatch function (S5): append each micro-batch as
    NDJSON under out_dir/batch_id=N. Idempotent per batch_id, so replays
    after failure overwrite rather than duplicate — the exactly-once
    recipe foreachBatch requires."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").json(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    return write_batch


def foreach_batch_ndjson(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint: str,
    trigger_available_now: bool = True,
    processing_time: str | None = None,
    output_mode: str = "append",
) -> StreamingQuery:
    """writeStream → foreachBatch NDJSON sink with checkpointing
    (main.py:1093-1099, with the batch function actually defined).
    output_mode='update' for the stateful sessionizer path."""
    w: DataStreamWriter = (
        stream_df.writeStream.outputMode(output_mode)
        .foreachBatch(ndjson_batch_writer(out_dir))
        .option("checkpointLocation", checkpoint)
    )
    if processing_time is not None:
        w = w.trigger(processingTime=processing_time)
    elif trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def kafka_sink(
    stream_df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint: str,
) -> StreamingQuery:
    """Kafka result sink (S8, topic ddos_result — main.py:1020,
    indexer/indexer.py:26-33). Serializes every row to a JSON ``value``.
    Requires the spark-sql-kafka package on the classpath; builder only
    (no broker in the test environment)."""
    payload = stream_df.select(F.to_json(F.struct("*")).alias("value"))
    return (
        payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    key_col: str,
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> DataFrame:
    """Training-shard writer: deterministic hash sharding of a curated
    corpus into ``n_shards`` parquet partitions (shard = pmod(hash(key)))
    plus an optional per-file row cap — the layout a dataloader consumes
    (shard -> worker, file -> read unit).

    Scale notes: the shuffle is a range repartition on the shard id —
    hash repartition would balls-in-bins multiple shards into one task
    and leave ~1/e of the tasks empty; range keeps shards in disjoint
    tasks (one per task when sizes are even — the sampled bounds are
    weight-based, so heavy skew can still co-locate two shards, with
    output correctness unaffected via partitionBy). Range partitioning
    costs one extra sampling pass over the input; the manifest is
    therefore computed from the WRITTEN table (a columnar scan of two
    pruned columns), not a third pass over the source plan.
    ``maxRecordsPerFile`` bounds file size without any extra pass. The
    returned manifest (shard -> rows, key span) is a driver-sized
    aggregate a release pins alongside the data. With
    ``mode='overwrite'`` it is read back from the written table (the
    cheapest honest source); with any other mode it is computed from
    THIS write's input frame instead — the written table would fold
    pre-existing rows into the counts and misreport what this call
    appended.
    """
    sharded = df.withColumn(
        "shard", F.pmod(F.hash(F.col(key_col)), F.lit(n_shards)).cast("int")
    )
    w = (
        sharded.repartitionByRange(n_shards, "shard")
        .write.mode(mode)
        .partitionBy("shard")
    )
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.parquet(path)
    manifest_src = (
        df.sparkSession.read.parquet(path) if mode == "overwrite" else sharded
    )
    return (
        manifest_src
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(key_col).alias("key_min"),
            F.max(key_col).alias("key_max"),
        )
        .orderBy("shard")
    )


def es_bulk_lines(
    df: DataFrame, index: str, id_col: str
) -> DataFrame:
    """Format rows as an Elasticsearch ``_bulk`` API body (S9): for each
    row, an action line ``{"index": {"_index": ..., "_id": ...}}``
    immediately followed by the document JSON — exactly the payload the
    reference's indexer builds driver-side with ``helpers.bulk``
    (indexer/indexer.py:26-45). Built distributed: a per-row
    ``explode(array(action, doc))`` keeps the action/doc adjacency
    within partition row order, so each written text partition is a
    valid standalone ``_bulk`` body a POST (or the out-of-engine
    indexer) can ship verbatim. The actual HTTP transport stays outside
    the engine by design — this pins the full payload contract, not
    just NDJSON docs."""
    doc_cols = [c for c in df.columns]
    action = F.to_json(
        F.struct(
            F.struct(
                F.lit(index).alias("_index"),
                F.col(id_col).cast("string").alias("_id"),
            ).alias("index")
        )
    )
    doc = F.to_json(F.struct(*[F.col(c) for c in doc_cols]))
    return df.select(F.explode(F.array(action, doc)).alias("value"))


def write_es_bulk(
    df: DataFrame,
    path: str,
    index: str,
    id_col: str,
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """Write the ``_bulk`` bodies as text shards (one file = one valid
    POST body). ``max_records_per_file`` bounds LINES per file; keep it
    EVEN so an action line is never split from its document (enforced
    here rather than documented)."""
    if max_records_per_file is not None and max_records_per_file % 2:
        raise ValueError("max_records_per_file must be even (action+doc pairs)")
    w = es_bulk_lines(df, index, id_col).write.mode(mode)
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.text(path)
