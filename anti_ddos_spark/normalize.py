"""Canonical flow key and the intra-flow packet order.

Reference semantics (spark_app/main.py:234-250): the canonical
bidirectional flow key orders the two (ip, port) endpoints so the
lexicographically-lesser IP comes first, while the original columns are
kept to detect per-packet direction. Direction (main.py:665-674): a packet
is *forward* iff its 4-tuple equals the orientation of the first packet
ever seen for the flow — computed per flow by the sessionizers
(sessionize._session_col_seq, the streaming state functions) over the
key and order defined here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Canonical flow-key column names produced by normalize_flow_key.
FLOW_KEY_COLS = ["flow_src_ip", "flow_src_port", "flow_dst_ip", "flow_dst_port", "protocol"]

# Deterministic intra-flow ordering: timestamp, then stable tie-breakers
# (the reference sorts micro-batches by timestamp only, main.py:524; ties
# there are input-order-dependent — we pin a total order instead).
ORDER_COLS = ["timestamp", "src_ip", "src_port", "dst_ip", "dst_port", "tcp_seq"]


def _lesser_src() -> Column:
    """True when the packet's src endpoint is the canonical 'first' one."""
    return F.col("src_ip") < F.col("dst_ip")


def normalize_flow_key(packets: DataFrame) -> DataFrame:
    """Add canonical bidirectional flow-key columns.

    Faithful to main.py:239-250: comparison is on the IP *strings* and the
    port follows its IP (equal IPs take the else-branch, i.e. swap).
    Column trees are fixed (unresolved names only) — memoized per JVM
    (features._memoized; r14: py4j Column construction is the
    dominant per-run build cost of the flow family, guide §7.3)."""
    from anti_ddos_spark.features import _memoized

    def build() -> list[Column]:
        lesser = _lesser_src()
        return [
            F.when(lesser, F.col("src_ip")).otherwise(F.col("dst_ip")).alias("flow_src_ip"),
            F.when(lesser, F.col("dst_ip")).otherwise(F.col("src_ip")).alias("flow_dst_ip"),
            F.when(lesser, F.col("src_port")).otherwise(F.col("dst_port")).alias("flow_src_port"),
            F.when(lesser, F.col("dst_port")).otherwise(F.col("src_port")).alias("flow_dst_port"),
        ]

    return packets.select("*", *_memoized(("normalize_flow_key",), build))

