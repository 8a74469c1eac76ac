"""Packet-stream sources (SURVEY §2.1 S1/S2/S4).

The reference reads JSON packet records from Kafka and decodes them with
``from_json`` (spark_app/main.py:1023-1035). The decode step is the
engine-owned logic; the transport is pluggable:

- ``kafka_packet_stream``   — the production path (S1+S2). Builder only
  in this environment (no broker / kafka package), same plan shape.
- ``json_packet_stream``    — file-based twin for tests and replay: NDJSON
  lines through the SAME ``decode_packets`` projection, so the decode
  logic is exercised without a broker (S4's replay role).
- ``rate_packet_stream``    — synthetic load generator from the built-in
  rate source, for throughput soak tests (S4's 10,000× replay role,
  producer/reader/simulator.py:94).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from anti_ddos_spark.schemas import PACKET_SCHEMA

TIMESTAMP_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"  # producer format, simulator.py:61


def decode_packets(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Kafka/NDJSON ``value`` bytes → typed packet columns (S2).

    from_json(cast string) + star-expand, exactly the reference's parse
    (main.py:1033-1035) but against our real typed schema.
    """
    return raw.select(
        F.from_json(
            F.col(value_col).cast("string"),
            PACKET_SCHEMA,
            {"timestampFormat": TIMESTAMP_FMT},
        ).alias("data")
    ).select("data.*")


def kafka_packet_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """S1: Kafka source → decoded packets. Requires spark-sql-kafka."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return decode_packets(raw)


def json_packet_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-based S2 twin: stream NDJSON lines as a one-column `value`
    relation, then run the identical decode projection."""
    raw = spark.readStream.schema("value STRING").text(path)
    return decode_packets(raw)


def _synthetic_packet_cols(n_flows: int) -> list:
    """Deterministic packet columns from the rate source's
    (timestamp, value) relation."""
    v = F.col("value")
    return [
        F.col("timestamp"),
        F.concat(F.lit("10.0.0."), (v % n_flows).cast("string")).alias("src_ip"),
        F.lit("10.0.1.1").alias("dst_ip"),
        (F.lit(60) + (v % 1400)).cast("int").alias("length"),
        F.when(v % 4 == 0, 17).otherwise(6).cast("int").alias("protocol"),
        # port derives from the FLOW index, not the row counter — the
        # 5-tuple must repeat across rows or every packet becomes its
        # own flow and soak tests measure per-group overhead instead of
        # throughput
        (F.lit(1024) + (v % n_flows)).cast("int").alias("src_port"),
        F.lit(80).cast("int").alias("dst_port"),
        F.lit(None).cast("int").alias("udp_len"),
        F.lit(1).cast("int").alias("tcp_seq"),
        F.lit(1).cast("int").alias("tcp_ack"),
        F.lit(8192).cast("int").alias("tcp_win"),
        (v % 1400).cast("int").alias("tcp_len"),
        F.lit(0).cast("int").alias("cwr_flag"),
        F.lit(0).cast("int").alias("ece_flag"),
        F.lit(0).cast("int").alias("urg_flag"),
        F.lit(1).cast("int").alias("ack_flag"),
        (v % 3 == 0).cast("int").alias("psh_flag"),
        F.lit(0).cast("int").alias("rst_flag"),
        (v % 100 == 0).cast("int").alias("syn_flag"),
        F.lit(0).cast("int").alias("fin_flag"),
    ]


def rate_packet_stream(
    spark: SparkSession, rows_per_second: int = 10_000, n_flows: int = 1000
) -> DataFrame:
    """Synthetic packet stream from the rate source: deterministic flow
    keys from the row counter, for backlog/throughput soak tests."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    return rate.select(*_synthetic_packet_cols(n_flows))

