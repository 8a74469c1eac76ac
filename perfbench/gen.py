"""Seeded input generators for the benchmark.

Packets: a counter column ``value`` (the rate source's, or a batch
range's) maps to one packet.  Packets are dealt round-robin to
``n_open`` slots; each slot runs flows back to back, each flow
``pkts_lo..pkts_hi`` packets long (the length is drawn per slot), so
about ``n_open`` flows are open at any time and every flow ends, goes
idle and finalizes.  A slot's first flow starts at a seeded phase so
flows do not all end together.  About ``reverse_share`` of a flow's
packets after its first travel in the reverse direction.  Everything is
a Spark column expression of ``value`` and the seed, so the live stream
and its batch twin produce the same packets for the same counter value.

Headline tables: a small star schema plus the events, documents and
embeddings tables that the 14 headline queries read, written as parquet
from NumPy.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np


@dataclass(frozen=True)
class PacketShape:
    n_open: int  # slots = flows open at once
    pkts_lo: int  # per-slot flow length is drawn from [pkts_lo, pkts_hi]
    pkts_hi: int
    reverse_share: float  # share of non-first packets sent dst -> src


def _h(seed: int, tag: int, *cols):
    """Seeded non-negative 31-bit hash of columns (xxhash64)."""
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(F.lit(seed), F.lit(tag), *cols), F.lit(2**31 - 1))


def packet_columns(seed: int, shape: PacketShape, ts_col):
    """Packet columns (PACKET_SCHEMA order) plus ``flow_id`` and ``flow_end``
    (the packet is its flow's last) from a ``value`` counter column.

    ``ts_col`` is the packet timestamp expression: the rate source's
    scheduled creation time for the live stream, a synthetic clock for
    the replay capture.  ``flow_id`` is the engine's own flow id format
    (``src:port-dst:port-proto`` of the first packet's direction), so
    sink rows can be matched to the packets that built them."""
    from pyspark.sql import functions as F

    v = F.col("value")
    n = F.lit(shape.n_open)
    slot = F.pmod(v, n)
    span = shape.pkts_hi - shape.pkts_lo + 1
    flow_len = F.lit(shape.pkts_lo) + F.pmod(_h(seed, 1, slot), F.lit(span))
    pos = F.floor(v / n) + F.pmod(_h(seed, 2, slot), flow_len)
    gen = F.floor(pos / flow_len)
    idx = F.pmod(pos, flow_len)
    # The first packet the stream carries for a slot (v < n_open) is
    # forward too, so a flow cut at the start keeps its orientation.
    reverse = (
        (idx > 0)
        & (v >= n)
        & (F.pmod(_h(seed, 3, v), F.lit(1000)) < F.lit(int(shape.reverse_share * 1000)))
    )
    udp = F.pmod(_h(seed, 4, slot, gen), F.lit(4)) == 0
    proto = F.when(udp, F.lit(17)).otherwise(F.lit(6))
    client_ip = F.concat(
        F.lit(f"10.{seed % 200}."), (slot / 250).cast("int").cast("string"),
        F.lit("."), (F.pmod(slot, F.lit(250)) + 1).cast("string"),
    )
    client_port = (F.lit(1024) + F.pmod(gen, F.lit(60000))).cast("int")
    server_ip = F.concat(
        F.lit("172.16.0."), (F.pmod(_h(seed, 5, slot), F.lit(8)) + 1).cast("string")
    )
    server_port = F.element_at(
        F.array(F.lit(80), F.lit(443), F.lit(53), F.lit(8080)),
        (F.pmod(_h(seed, 6, slot, gen), F.lit(4)) + 1).cast("int"),
    ).cast("int")
    length = (F.lit(40) + F.pmod(_h(seed, 7, v), F.lit(1475))).cast("int")
    last = idx == flow_len - 1

    def tcp(c):
        return F.when(udp, F.lit(None)).otherwise(c).cast("int")

    def flag(c):
        return tcp(c.cast("int"))

    return [
        ts_col.alias("timestamp"),
        F.when(reverse, server_ip).otherwise(client_ip).alias("src_ip"),
        F.when(reverse, client_ip).otherwise(server_ip).alias("dst_ip"),
        length.alias("length"),
        proto.cast("int").alias("protocol"),
        F.when(reverse, server_port).otherwise(client_port).alias("src_port"),
        F.when(reverse, client_port).otherwise(server_port).alias("dst_port"),
        F.when(udp, length - 28).cast("int").alias("udp_len"),
        tcp(F.pmod(v, F.lit(2**31 - 1))).alias("tcp_seq"),
        tcp(F.lit(1)).alias("tcp_ack"),
        tcp(F.lit(8192) + F.pmod(_h(seed, 8, slot), F.lit(56000))).alias("tcp_win"),
        tcp(F.greatest(length - 40, F.lit(0))).alias("tcp_len"),
        flag(F.lit(False)).alias("cwr_flag"),
        flag(F.lit(False)).alias("ece_flag"),
        flag(F.lit(False)).alias("urg_flag"),
        flag(idx > 0).alias("ack_flag"),
        flag(F.pmod(_h(seed, 9, v), F.lit(3)) == 0).alias("psh_flag"),
        flag(F.lit(False)).alias("rst_flag"),
        flag(idx == 0).alias("syn_flag"),
        flag(last).alias("fin_flag"),
        F.concat(
            client_ip, F.lit(":"), client_port.cast("string"), F.lit("-"),
            server_ip, F.lit(":"), server_port.cast("string"), F.lit("-"),
            proto.cast("string"),
        ).alias("flow_id"),
        last.alias("flow_end"),
    ]


PACKET_COLS = [
    "timestamp", "src_ip", "dst_ip", "length", "protocol", "src_port",
    "dst_port", "udp_len", "tcp_seq", "tcp_ack", "tcp_win", "tcp_len",
    "cwr_flag", "ece_flag", "urg_flag", "ack_flag", "psh_flag", "rst_flag",
    "syn_flag", "fin_flag",
]


def generated_flows(spark, seed: int, shape: PacketShape, n_rows: int) -> dict:
    """flow_id -> (packets, last counter value, whether the flow ended) over
    counter values [0, n_rows), computed as a batch job on a range."""
    from pyspark.sql import functions as F

    pkts = spark.range(n_rows).withColumnRenamed("id", "value").select(
        "value", *packet_columns(seed, shape, F.current_timestamp())
    )
    rows = pkts.groupBy("flow_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("value").alias("last"),
        F.max(F.col("flow_end").cast("int")).alias("ended"),
    ).collect()
    return {r["flow_id"]: (r["n"], r["last"], bool(r["ended"])) for r in rows}


# --- headline tables ------------------------------------------------------

_WORDS = (
    "the a fast slow big small data table row column value key join hash "
    "sort merge scan filter group agg window stream batch spark query order "
    "line part customer vector dup"
).split()
_LANGS = ["en", "es", "de", "fr", "zh"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@dataclass(frozen=True)
class TableScale:
    """Row counts: the repository's sf0.01 test data, with 600 documents."""

    customers: int = 1_500
    orders: int = 15_000
    lineitems: int = 60_000
    parts: int = 2_000
    suppliers: int = 100
    users: int = 150
    events: int = 10_000
    documents: int = 600
    embeddings: int = 1_000
    dim: int = 64


def write_headline_tables(out_dir: str, seed: int) -> None:
    """Write the ten headline tables as parquet under ``out_dir``."""
    sc = TableScale()
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def day(lo: str, n: int, span_days: int) -> np.ndarray:
        return np.datetime64(lo, "us") + rng.integers(0, span_days, n) * np.timedelta64(1, "D")

    put("region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    put("customer", {
        "c_custkey": np.arange(sc.customers, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(sc.customers)],
        "c_nationkey": rng.integers(0, 25, sc.customers).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, sc.customers), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, sc.customers),
    })
    put("supplier", {
        "s_suppkey": np.arange(sc.suppliers, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(sc.suppliers)],
        "s_nationkey": rng.integers(0, 25, sc.suppliers).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, sc.suppliers), 2),
    })
    put("part", {
        "p_partkey": np.arange(sc.parts, dtype=np.int64),
        "p_name": [f"part {i}" for i in range(sc.parts)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(11, 56, sc.parts)],
        "p_type": rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY"], sc.parts),
        "p_size": rng.integers(1, 51, sc.parts).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 2100, sc.parts), 2),
    })
    put("orders", {
        "o_orderkey": np.arange(sc.orders, dtype=np.int64),
        "o_custkey": rng.integers(0, sc.customers, sc.orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], sc.orders),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, sc.orders), 2),
        "o_orderdate": day("1995-01-01", sc.orders, 2400),
        "o_orderpriority": rng.choice(_PRIORITIES, sc.orders),
    })
    put("lineitem", {
        "l_orderkey": rng.integers(0, sc.orders, sc.lineitems).astype(np.int64),
        "l_partkey": rng.integers(0, sc.parts, sc.lineitems).astype(np.int64),
        "l_suppkey": rng.integers(0, sc.suppliers, sc.lineitems).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, sc.lineitems).astype(np.int32),
        "l_quantity": rng.integers(1, 51, sc.lineitems).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, sc.lineitems), 2),
        "l_discount": rng.integers(0, 11, sc.lineitems) / 100.0,
        "l_tax": rng.integers(0, 9, sc.lineitems) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], sc.lineitems),
        "l_linestatus": rng.choice(["F", "O"], sc.lineitems),
        "l_shipdate": day("1995-01-02", sc.lineitems, 2500),
    })
    ev_ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86_400_000_000, sc.events).astype("timedelta64[us]")
    )
    put("events", {
        "event_id": np.arange(sc.events, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, sc.users, sc.events).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, sc.events),
        "value": np.round(rng.exponential(50.0, sc.events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, sc.events)],
    })
    # Documents: random word strings, with a tenth exact copies of
    # earlier documents so the MinHash and dedup queries find pairs.
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(sc.documents):
        if i > 10 and rng.random() < 0.1:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(8, 90)))]))
    put("documents", {
        "doc_id": np.arange(sc.documents, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, sc.documents, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{s}" for s in rng.integers(0, 20, sc.documents)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.normal(0, 0.1, (sc.embeddings, sc.dim)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(sc.embeddings, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, sc.embeddings).astype(np.int32),
    })
