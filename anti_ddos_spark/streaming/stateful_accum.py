"""Accumulator-state streaming sessionizer — the O(1)-memory fast path.

The insight making update-mode streaming scale: EVERY flow feature in
the 77-feature surface (SURVEY §2.4) is an algebraic function of
constant-size accumulators — (n, sum, sumsq, min, max) per series plus
last-seen timestamps/lengths per direction. Mean = sum/n, population
std = sqrt(sumsq/n - (sum/n)²), IAT stats accumulate from per-packet
diffs against the stored last timestamp. No packet arrays, no
per-packet state growth — unlike both the reference (1000-entry capped
arrays, spark_app/main.py:288-292) and our array-state variant
(stateful.py), a flow's state here is ~40 doubles regardless of
length.

Input (``accum_input``, shared with stateful_tws.py): the flow key plus
13 value columns — ts_us, from_a, tcp_seq, length, act and the 8 TCP
flags with nulls as 0. Output: a final row when a flow times out, and by
default a partial row per flow in each batch that reads its packets; the
detection pipeline keeps finals only, so it turns partials off.

Tradeoffs vs the array variant (both ship; pick per workload):
- sumsq-based std loses precision for huge values (catastrophic
  cancellation) — the int()-cast features can differ ±1 from the exact
  two-pass computation (same fuzz band the test suite applies between
  the window and array paths);
- cross-batch packet reordering cannot be repaired: within a batch we
  sort by timestamp, across batches the accumulators assume arrival
  order (the reference has the same property, main.py:524).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING, Any

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from anti_ddos_spark.normalize import FLOW_KEY_COLS, normalize_flow_key
from anti_ddos_spark.schemas import FLOW_SCHEMA
from anti_ddos_spark.streaming.stateful import DEFAULT_TIMEOUT_MS

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

# input flag columns and the accumulators they sum into
_FLAG_COLS = ["fin_flag", "syn_flag", "rst_flag", "psh_flag",
              "ack_flag", "urg_flag", "cwr_flag", "ece_flag"]
_FLAG_ACC = ["fin", "syn", "rst", "psh", "ack", "urg", "cwe", "ece"]

# accumulator vector layout (all doubles for a flat Arrow round-trip)
_SERIES = [
    # (prefix, per-direction?)  n/sum/sumsq/min/max accumulate per series
    ("len", True),    # packet lengths, fwd/bwd
    ("iat", True),    # per-direction inter-arrival µs
    ("fiat", False),  # whole-flow inter-arrival µs
    ("alen", False),  # all-packet lengths
]

_SCALARS = [
    "first_ts", "last_ts", "last_fwd_ts", "last_bwd_ts",
    "prev_fwd_len", "prev_bwd_len",
    "fwd_psh", "bwd_psh", "fwd_urg", "bwd_urg",
    "fwd_hdr", "bwd_hdr",
    "fin", "syn", "rst", "psh", "ack", "urg", "cwe", "ece",
    "fwd_bulk_b", "fwd_bulk_p", "fwd_bulk_e",
    "bwd_bulk_b", "bwd_bulk_p", "bwd_bulk_e",
    "act_fwd",
    "src_is_flow_src",  # first-packet orientation: 1 if first pkt's src == flow_src
]


def _acc_names() -> list[str]:
    names: list[str] = []
    for prefix, per_dir in _SERIES:
        dirs = ("f", "b") if per_dir else ("",)
        for d in dirs:
            for stat in ("n", "s", "q", "mn", "mx"):
                names.append(f"{prefix}{d}_{stat}")
    names.extend(_SCALARS)
    return names


ACC_NAMES = _acc_names()
STATE_SCHEMA = T.StructType(
    [T.StructField("sp", T.StringType(), True), T.StructField("ss", T.StringType(), True)]
    + [T.StructField(n, T.DoubleType(), True) for n in ACC_NAMES]
)

_OUT_FIELDS = [f.name for f in FLOW_SCHEMA.fields] + ["is_final"]
OUTPUT_SCHEMA = T.StructType(
    list(FLOW_SCHEMA.fields) + [T.StructField("is_final", T.BooleanType(), False)]
)


def pack_state(acc: dict) -> tuple:
    """acc dict → the positional state tuple matching STATE_SCHEMA.

    The single source of the state layout — the GroupState path here and
    the transformWithState path (stateful_tws.py) share it; a drifted
    copy would deserialize values shifted into the wrong accumulators.
    'ss' is a reserved placeholder field kept for schema stability.
    """
    return (acc["sp"], "", *[float(acc[n]) for n in ACC_NAMES])


def unpack_state(vals: tuple) -> dict:
    """Positional state tuple → acc dict (inverse of pack_state)."""
    acc = dict(zip(["sp", "ss", *ACC_NAMES], vals))
    acc.pop("ss", None)
    return acc


def _new_acc(first_ts: float, src_is_flow_src: bool, key: tuple) -> dict:
    acc = {n: 0.0 for n in ACC_NAMES}
    for p in ("lenf", "lenb", "iatf", "iatb", "fiat", "alen"):
        acc[f"{p}_mn"], acc[f"{p}_mx"] = float("inf"), float("-inf")
    for n in ("last_ts", "last_fwd_ts", "last_bwd_ts", "prev_fwd_len", "prev_bwd_len"):
        acc[n] = float("nan")
    acc["first_ts"] = first_ts
    # the first packet's "ip:port"; its orientation alone decides direction
    acc["sp"] = f"{key[0]}:{int(key[1])}" if src_is_flow_src else f"{key[2]}:{int(key[3])}"
    acc["src_is_flow_src"] = float(src_is_flow_src)
    return acc


def _prev(v, last: float, missing):
    """``v`` shifted one step later, led by the stored ``last`` (NaN: none)."""
    prev = np.empty_like(v)
    prev[1:] = v[:-1]
    prev[0] = last if last == last else missing
    return prev


def update_accumulators(acc: dict | None, pdf: "pd.DataFrame", key: tuple) -> dict:
    """Fold one flow's batch slice (``accum_input`` columns) into its
    accumulators; ``acc`` None starts the flow."""
    ts = pdf["ts_us"].to_numpy("int64")
    from_a = pdf["from_a"].to_numpy(bool)
    # packet order (ts_us, src_ip, src_port, tcp_seq), nulls last: the
    # canonical flow_src endpoint has the lesser IP, and an equal-IP key
    # holds one src endpoint only (normalize_flow_key)
    seq = pdf["tcp_seq"].to_numpy("float64", na_value=np.inf)
    order = np.lexsort((seq, ~from_a, ts))
    ts, from_a = ts[order], from_a[order]
    ln = pdf["length"].to_numpy("int64")[order]
    if acc is None:
        acc = _new_acc(float(ts[0]), bool(from_a[0]), key)
    is_fwd = from_a == (acc["src_is_flow_src"] >= 0.5)

    def series(prefix: str, v):
        if len(v) == 0:
            return
        acc[f"{prefix}_n"] += len(v)
        acc[f"{prefix}_s"] += float(v.sum())
        acc[f"{prefix}_q"] += float((v.astype("float64") ** 2).sum())
        acc[f"{prefix}_mn"] = min(acc[f"{prefix}_mn"], float(v.min()))
        acc[f"{prefix}_mx"] = max(acc[f"{prefix}_mx"], float(v.max()))

    def gaps(t, last):
        # diffs within the batch plus the bridge from the stored last ts
        prev = _prev(t, last, -1)
        return (t - prev)[prev >= 0].astype("float64")

    series("lenf", ln[is_fwd])
    series("lenb", ln[~is_fwd])
    series("alen", ln)
    series("fiat", gaps(ts, acc["last_ts"]))
    acc["last_ts"] = float(ts[-1])
    for d, mask in (("fwd", is_fwd), ("bwd", ~is_fwd)):
        dts, dl = ts[mask], ln[mask].astype("float64")
        if len(dts) == 0:
            continue
        series(f"iat{d[0]}", gaps(dts, acc[f"last_{d}_ts"]))
        # bulk runs: a run starts when length > 1000 and the previous
        # packet of the SAME direction was ≤ 1000 (or absent)
        bulk = dl > 1000
        acc[f"{d}_bulk_b"] += float(dl[bulk].sum())
        acc[f"{d}_bulk_p"] += float(bulk.sum())
        acc[f"{d}_bulk_e"] += float((bulk & (_prev(dl, acc[f"prev_{d}_len"], 0.0) <= 1000)).sum())
        acc[f"last_{d}_ts"], acc[f"prev_{d}_len"] = float(dts[-1]), float(dl[-1])

    # flags / headers / activity
    flags = np.stack([pdf[c].to_numpy("float64") for c in _FLAG_COLS], axis=1)[order]
    tot, fwd = flags.sum(axis=0), flags[is_fwd].sum(axis=0)
    for n, t in zip(_FLAG_ACC, tot):
        acc[n] += float(t)
    for d in ("psh", "urg"):
        i = _FLAG_ACC.index(d)
        acc[f"fwd_{d}"] += float(fwd[i])
        acc[f"bwd_{d}"] += float(tot[i] - fwd[i])
    n_fwd = int(is_fwd.sum())
    hdr = 20.0 if int(key[4]) == 6 else 8.0
    acc["fwd_hdr"] += hdr * n_fwd
    acc["bwd_hdr"] += hdr * (len(ts) - n_fwd)
    acc["act_fwd"] += float(pdf["act"].to_numpy(bool)[order][is_fwd].sum())
    return acc


def _emit_row(acc: dict, key: tuple, final: bool) -> list:
    """Accumulators → one 85-col feature row (faithful int-cast mode)."""
    import math

    def ii(x):
        return int(x) if x == x and abs(x) != float("inf") else 0

    def mean(p):
        n = acc[f"{p}_n"]
        return acc[f"{p}_s"] / n if n else 0.0

    def std(p):
        n = acc[f"{p}_n"]
        if not n:
            return 0.0
        m = acc[f"{p}_s"] / n
        v = acc[f"{p}_q"] / n - m * m
        return math.sqrt(v) if v > 0 else 0.0

    def mn(p):
        v = acc[f"{p}_mn"]
        return v if v != float("inf") else 0

    def mx(p):
        v = acc[f"{p}_mx"]
        return v if v != float("-inf") else 0

    fwd_is_src = acc["src_is_flow_src"] >= 0.5
    src_ip, src_port = (key[0], key[1]) if fwd_is_src else (key[2], key[3])
    dst_ip, dst_port = (key[2], key[3]) if fwd_is_src else (key[0], key[1])
    proto = int(key[4])
    fwdp, bwdp = int(acc["lenf_n"]), int(acc["lenb_n"])
    fwdb, bwdb = acc["lenf_s"], acc["lenb_s"]
    dur = max((acc["last_ts"] - acc["first_ts"]) / 1e6, 0.001)
    import datetime as dt

    # tz-AWARE instant: a naive datetime would be reinterpreted in the
    # session timezone on the JVM side, shifting flow timestamps under
    # any non-UTC session (the batch paths use tz-independent micros)
    last_ts = dt.datetime.fromtimestamp(acc["last_ts"] / 1e6, tz=dt.timezone.utc)

    row = dict(
        flow_id=f"{src_ip}:{src_port}-{dst_ip}:{dst_port}-{proto}",
        source_ip=src_ip, source_port=int(src_port),
        destination_ip=dst_ip, destination_port=int(dst_port),
        protocol=proto,
        timestamp=last_ts,
        total_fwd_packets=fwdp, total_backward_packets=bwdp,
        total_length_of_fwd_packets=ii(fwdb), total_length_of_bwd_packets=ii(bwdb),
        fwd_packet_length_max=ii(mx("lenf")), fwd_packet_length_min=ii(mn("lenf")),
        fwd_packet_length_mean=ii(mean("lenf")), fwd_packet_length_std=ii(std("lenf")),
        bwd_packet_length_max=ii(mx("lenb")), bwd_packet_length_min=ii(mn("lenb")),
        bwd_packet_length_mean=ii(mean("lenb")), bwd_packet_length_std=ii(std("lenb")),
        flow_bytes_s=ii((fwdb + bwdb) / dur), flow_packets_s=ii((fwdp + bwdp) / dur),
        flow_iat_mean=ii(mean("fiat")), flow_iat_std=ii(std("fiat")),
        flow_iat_max=ii(mx("fiat")), flow_iat_min=ii(mn("fiat")),
        fwd_iat_total=ii(acc["iatf_s"]), fwd_iat_mean=ii(mean("iatf")),
        fwd_iat_std=ii(std("iatf")), fwd_iat_max=ii(mx("iatf")), fwd_iat_min=ii(mn("iatf")),
        bwd_iat_total=ii(acc["iatb_s"]), bwd_iat_mean=ii(mean("iatb")),
        bwd_iat_std=ii(std("iatb")), bwd_iat_max=ii(mx("iatb")), bwd_iat_min=ii(mn("iatb")),
        fwd_psh_flags=ii(acc["fwd_psh"]), bwd_psh_flags=ii(acc["bwd_psh"]),
        fwd_urg_flags=ii(acc["fwd_urg"]), bwd_urg_flags=ii(acc["bwd_urg"]),
        fwd_header_length=ii(acc["fwd_hdr"]), bwd_header_length=ii(acc["bwd_hdr"]),
        fwd_packets_s=ii(fwdp / dur), bwd_packets_s=ii(bwdp / dur),
        min_packet_length=ii(mn("alen")), max_packet_length=ii(mx("alen")),
        packet_length_mean=ii(mean("alen")), packet_length_std=ii(std("alen")),
        # int() of the FLOAT std squared (reference main.py:911 floors
        # the variance, not the already-floored std)
        packet_length_variance=ii(std("alen") ** 2),
        fin_flag_count=ii(acc["fin"]), syn_flag_count=ii(acc["syn"]),
        rst_flag_count=ii(acc["rst"]), psh_flag_count=ii(acc["psh"]),
        ack_flag_count=ii(acc["ack"]), urg_flag_count=ii(acc["urg"]),
        cwe_flag_count=ii(acc["cwe"]), ece_flag_count=ii(acc["ece"]),
        down_up_ratio=ii(bwdb / fwdb) if fwdb > 0 else 0,
        average_packet_size=ii(mean("alen")),
        avg_fwd_segment_size=ii(mean("lenf")), avg_bwd_segment_size=ii(mean("lenb")),
        fwd_avg_bytes_bulk=ii(acc["fwd_bulk_b"] / acc["fwd_bulk_e"]) if acc["fwd_bulk_e"] else 0,
        fwd_avg_packets_bulk=ii(acc["fwd_bulk_p"] / acc["fwd_bulk_e"]) if acc["fwd_bulk_e"] else 0,
        fwd_avg_bulk_rate=ii(acc["fwd_bulk_b"] / dur),
        bwd_avg_bytes_bulk=ii(acc["bwd_bulk_b"] / acc["bwd_bulk_e"]) if acc["bwd_bulk_e"] else 0,
        bwd_avg_packets_bulk=ii(acc["bwd_bulk_p"] / acc["bwd_bulk_e"]) if acc["bwd_bulk_e"] else 0,
        bwd_avg_bulk_rate=ii(acc["bwd_bulk_b"] / dur),
        subflow_fwd_packets=fwdp, subflow_fwd_bytes=ii(fwdb),
        subflow_bwd_packets=bwdp, subflow_bwd_bytes=ii(bwdb),
        init_win_bytes_forward=0, init_win_bytes_backward=0,
        act_data_pkt_fwd=ii(acc["act_fwd"]), min_seg_size_forward=0,
        active_mean=0, active_std=0, active_max=0, active_min=0,
        idle_mean=0, idle_std=0, idle_max=0, idle_min=0,
        is_final=final,
    )
    return [row.get(f) for f in _OUT_FIELDS]


def _make_update_fn(timeout_ms: int, partials: bool):
    def update(key: tuple[Any, ...], pdfs: Iterator["pd.DataFrame"], state: GroupState):
        import pandas as pd

        acc = unpack_state(state.get) if state.exists else None
        if state.hasTimedOut:
            state.remove()
            if acc is not None:
                yield pd.DataFrame([_emit_row(acc, key, True)], columns=_OUT_FIELDS)
            return

        for pdf in pdfs:
            if len(pdf):
                acc = update_accumulators(acc, pdf, key)
        if acc is None:
            return
        state.update(pack_state(acc))
        state.setTimeoutDuration(timeout_ms)
        if partials:
            yield pd.DataFrame([_emit_row(acc, key, False)], columns=_OUT_FIELDS)

    return update


def accum_input(packets: DataFrame) -> DataFrame:
    """The flow key plus the 13 value columns the accumulators read:
    from_a is "src endpoint is the key's flow_src", act is "tcp_len > 0
    or udp_len > 0"."""
    from pyspark.sql import functions as F

    col, no = F.col, F.lit(False)
    from_a = (col("src_ip") == col("flow_src_ip")) & (col("src_port") == col("flow_src_port"))
    return normalize_flow_key(packets).select(
        *FLOW_KEY_COLS,
        F.unix_micros("timestamp").alias("ts_us"),
        F.coalesce(from_a, no).alias("from_a"),
        "tcp_seq",
        col("length").cast("long").alias("length"),
        F.coalesce((col("tcp_len") > 0) | (col("udp_len") > 0), no).alias("act"),
        *[F.coalesce(col(c), F.lit(0)).alias(c) for c in _FLAG_COLS],
    )


def _accum_flows(
    packets: DataFrame, timeout_ms: int = DEFAULT_TIMEOUT_MS, partials: bool = True
) -> DataFrame:
    """The accumulator sessionizer; ``partials=False`` emits timeout rows only."""
    return accum_input(packets).groupBy(*FLOW_KEY_COLS).applyInPandasWithState(
        _make_update_fn(timeout_ms, partials),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def stateful_flow_features_accum(
    packets: DataFrame, timeout_ms: int = DEFAULT_TIMEOUT_MS
) -> DataFrame:
    """Update-mode flow features with O(1) per-flow state, partial rows on."""
    return _accum_flows(packets, timeout_ms)
