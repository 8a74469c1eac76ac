"""The 77-flow-feature aggregate surface, as Catalyst-native expressions.

Re-expresses the reference's ~740-LoC procedural pandas state machine
(spark_app/main.py:254-990) as declarative Spark SQL aggregates over a
*prepared* packet relation (see sessionize.prepare_sessions): each packet
row carries ``is_fwd`` (direction), ``flow_iat_us`` / ``dir_iat_us``
(inter-arrival gaps, µs) and bulk-run markers, all computed with analytic
windows in a single shuffle. The feature math itself then runs inside
whole-stage codegen — zero Python in the hot path.

Two modes:

- ``faithful``: bit-matches the reference's documented output semantics —
  every statistic truncated to int (main.py:877 etc.), population std
  (np.std, main.py:267-272), duration floored at 1 ms (main.py:843),
  dead features emitted as 0 (init_win_bytes_*, min_seg_size_forward,
  main.py:563-564; active/idle, main.py:938-939).
- ``exact``: real semantics — float statistics, init_win from the first
  tcp_win per direction, min_seg_size from header lengths, and
  CICFlowMeter-style active/idle statistics from idle gaps > 1 s.

Divergence documented per SURVEY.md §2.4: the reference truncates its
state arrays to the trailing 1000 entries (main.py:288-292) so its
mean/std over >1000-packet flows are windowed; we compute exact values.
Bulk episodes are defined deterministically (maximal consecutive runs of
>1000-byte packets per direction) instead of the reference's
micro-batch-dependent counting (main.py:737-742).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

BULK_BYTES_THRESHOLD = 1000  # main.py:738
MIN_DURATION_S = 0.001  # main.py:843
IDLE_THRESHOLD_US = 1_000_000  # exact-mode active/idle split (CICFlowMeter-ish)


def _fwd(c: Column) -> Column:
    return F.when(F.col("is_fwd"), c)


def _bwd(c: Column) -> Column:
    return F.when(~F.col("is_fwd"), c)


def _z(c: Column) -> Column:
    """coalesce(c, 0) — empty-side aggregates emit 0 like the reference."""
    return F.coalesce(c, F.lit(0))


def _long(c: Column) -> Column:
    """Truncate-toward-zero to long — Python int() on non-negative floats."""
    return _z(c).cast("long")


INT_MAX = 2_147_483_647


def _int(c: Column) -> Column:
    """Saturating cast to int32: byte/packet totals on elephant flows
    (the expected DDoS case) can exceed 2^31-1 and would raise under the
    session's ANSI mode; the values here are non-negative so clamping the
    top preserves reference int semantics below the limit."""
    return F.least(_z(c), F.lit(INT_MAX)).cast("int")


def _header_len() -> Column:
    # Heuristic header size: 20 B for TCP, 8 B for UDP (main.py:722-724).
    return F.when(F.col("protocol") == 6, F.lit(20)).otherwise(F.lit(8))


# Expression-construction memo, shared by every fixed Column tree in the
# engine. Building the 77 aggregate Columns is ~1.5 s of driver-side py4j
# round-trips (measured, PERF.md §q24) and the result depends only on
# `mode` — Catalyst Columns are immutable expression trees, safely shared
# across plans. Keyed by the caller's shape key plus the py4j gateway so
# a restarted JVM in the same process never sees stale object refs.
_COLUMN_MEMO: dict[tuple, list[Column]] = {}


def _jvm_key() -> int | None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    return id(sc._gateway) if sc is not None else None


def _memoized(key: tuple, build) -> list[Column]:
    """``build()``'s Columns, built once per (``key``, JVM)."""
    full = (*key, _jvm_key())
    cols = _COLUMN_MEMO.get(full)
    if cols is None:
        cols = _COLUMN_MEMO[full] = build()
    return list(cols)  # shallow copy: callers may extend the list


def flow_feature_aggs(mode: str = "faithful") -> list[Column]:
    """Aggregate Columns for the 77 features, in reference output order.

    Apply over a DataFrame prepared by ``sessionize.prepare_sessions`` and
    grouped by the flow key (+ session id). Memoized per (mode, JVM).
    """
    if mode not in ("faithful", "exact"):
        raise ValueError(f"mode must be 'faithful' or 'exact', got {mode!r}")
    return _memoized(("flow", mode), lambda: _build_flow_feature_aggs(mode))


def _build_flow_feature_aggs(mode: str) -> list[Column]:
    if mode not in ("faithful", "exact"):
        raise ValueError(f"mode must be 'faithful' or 'exact', got {mode!r}")
    faithful = mode == "faithful"

    length = F.col("length").cast("long")
    fwd_len = _fwd(length)
    bwd_len = _bwd(length)

    fwd_pkts = F.count(_fwd(F.lit(1)))
    bwd_pkts = F.count(_bwd(F.lit(1)))
    fwd_bytes = _z(F.sum(fwd_len))
    bwd_bytes = _z(F.sum(bwd_len))
    total_bytes = fwd_bytes + bwd_bytes
    total_pkts = fwd_pkts + bwd_pkts

    # Duration: last-first in seconds, floored at 1 ms (main.py:843-849).
    duration_s = F.greatest(
        (F.max("ts_us") - F.min("ts_us")) / F.lit(1_000_000.0), F.lit(MIN_DURATION_S)
    )

    def stat_cast(c: Column) -> Column:
        return _long(c) if faithful else _z(c).cast("double")

    def std(c: Column) -> Column:
        return stat_cast(F.stddev_pop(c))

    flow_iat = F.col("flow_iat_us").cast("double")
    fwd_iat = _fwd(F.col("dir_iat_us")).cast("double")
    bwd_iat = _bwd(F.col("dir_iat_us")).cast("double")

    def flag_count(name: str) -> Column:
        return _int(F.sum(_z(F.col(name))))

    # Bulk transfer: an episode is a maximal consecutive same-direction run
    # of packets with length > threshold; `bulk_start` marks run heads.
    is_bulk = length > BULK_BYTES_THRESHOLD
    fwd_bulk_bytes = _z(F.sum(_fwd(F.when(is_bulk, length))))
    fwd_bulk_pkts = F.count(_fwd(F.when(is_bulk, F.lit(1))))
    fwd_bulk_eps = _z(F.sum(F.when(F.col("is_fwd") & F.col("bulk_start"), 1)))
    bwd_bulk_bytes = _z(F.sum(_bwd(F.when(is_bulk, length))))
    bwd_bulk_pkts = F.count(_bwd(F.when(is_bulk, F.lit(1))))
    bwd_bulk_eps = _z(F.sum(F.when(~F.col("is_fwd") & F.col("bulk_start"), 1)))

    def ratio(num: Column, den: Column) -> Column:
        return F.when(den > 0, (num / den)).otherwise(F.lit(0.0))

    # Active/idle: reference declares these but always emits 0
    # (main.py:938-939, :485-486). Exact mode computes them from idle gaps.
    if faithful:
        active_idle = [F.lit(0).cast("long").alias(n) for n in (
            "active_mean", "active_std", "active_max", "active_min",
            "idle_mean", "idle_std", "idle_max", "idle_min")]
        init_win_fwd = F.lit(0).cast("int").alias("init_win_bytes_forward")
        init_win_bwd = F.lit(0).cast("int").alias("init_win_bytes_backward")
        min_seg_fwd = F.lit(0).cast("int").alias("min_seg_size_forward")
    else:
        idle_gap = F.when(flow_iat > IDLE_THRESHOLD_US, flow_iat)
        # Active periods: spans between idle gaps. `active_span_us` is
        # precomputed per session-run in prepare_sessions (exact mode).
        active = F.col("active_span_us").cast("double")
        active_idle = [
            stat_cast(F.avg(active)).alias("active_mean"),
            std(active).alias("active_std"),
            stat_cast(F.max(active)).alias("active_max"),
            stat_cast(F.min(active)).alias("active_min"),
            stat_cast(F.avg(idle_gap)).alias("idle_mean"),
            std(idle_gap).alias("idle_std"),
            stat_cast(F.max(idle_gap)).alias("idle_max"),
            stat_cast(F.min(idle_gap)).alias("idle_min"),
        ]
        # min_by over an explicit (ts_us, tcp_seq) ordering struct: the
        # "first tcp_win per direction" must not depend on rows reaching
        # the aggregate in window-sort order — first() is documented
        # non-deterministic and the ordering is a plan artifact. Within
        # one direction ORDER_COLS reduce to (timestamp, tcp_seq).
        order_key = F.struct(
            F.col("ts_us").alias("ts_us"),
            F.coalesce(F.col("tcp_seq"), F.lit(0)).alias("seq"),
        )
        init_win_fwd = _int(
            F.min_by(
                F.col("tcp_win"),
                F.when(F.col("is_fwd") & F.col("tcp_win").isNotNull(), order_key),
            )
        ).alias("init_win_bytes_forward")
        init_win_bwd = _int(
            F.min_by(
                F.col("tcp_win"),
                F.when(~F.col("is_fwd") & F.col("tcp_win").isNotNull(), order_key),
            )
        ).alias("init_win_bytes_backward")
        min_seg_fwd = _int(F.min(_fwd(_header_len()))).alias("min_seg_size_forward")

    return [
        _int(fwd_pkts).alias("total_fwd_packets"),
        _int(bwd_pkts).alias("total_backward_packets"),
        fwd_bytes.cast("long").alias("total_length_of_fwd_packets"),
        bwd_bytes.cast("long").alias("total_length_of_bwd_packets"),
        _long(F.max(fwd_len)).alias("fwd_packet_length_max"),
        _long(F.min(fwd_len)).alias("fwd_packet_length_min"),
        stat_cast(F.avg(fwd_len)).alias("fwd_packet_length_mean"),
        std(fwd_len).alias("fwd_packet_length_std"),
        _long(F.max(bwd_len)).alias("bwd_packet_length_max"),
        _long(F.min(bwd_len)).alias("bwd_packet_length_min"),
        stat_cast(F.avg(bwd_len)).alias("bwd_packet_length_mean"),
        std(bwd_len).alias("bwd_packet_length_std"),
        stat_cast(total_bytes / duration_s).alias("flow_bytes_s"),
        stat_cast(total_pkts / duration_s).alias("flow_packets_s"),
        stat_cast(F.avg(flow_iat)).alias("flow_iat_mean"),
        std(flow_iat).alias("flow_iat_std"),
        stat_cast(F.max(flow_iat)).alias("flow_iat_max"),
        stat_cast(F.min(flow_iat)).alias("flow_iat_min"),
        stat_cast(F.sum(fwd_iat)).alias("fwd_iat_total"),
        stat_cast(F.avg(fwd_iat)).alias("fwd_iat_mean"),
        std(fwd_iat).alias("fwd_iat_std"),
        stat_cast(F.max(fwd_iat)).alias("fwd_iat_max"),
        stat_cast(F.min(fwd_iat)).alias("fwd_iat_min"),
        stat_cast(F.sum(bwd_iat)).alias("bwd_iat_total"),
        stat_cast(F.avg(bwd_iat)).alias("bwd_iat_mean"),
        std(bwd_iat).alias("bwd_iat_std"),
        stat_cast(F.max(bwd_iat)).alias("bwd_iat_max"),
        stat_cast(F.min(bwd_iat)).alias("bwd_iat_min"),
        _int(F.sum(_fwd(_z(F.col("psh_flag"))))).alias("fwd_psh_flags"),
        _int(F.sum(_bwd(_z(F.col("psh_flag"))))).alias("bwd_psh_flags"),
        _int(F.sum(_fwd(_z(F.col("urg_flag"))))).alias("fwd_urg_flags"),
        _int(F.sum(_bwd(_z(F.col("urg_flag"))))).alias("bwd_urg_flags"),
        _int(F.sum(_fwd(_header_len()))).alias("fwd_header_length"),
        _int(F.sum(_bwd(_header_len()))).alias("bwd_header_length"),
        stat_cast(fwd_pkts / duration_s).alias("fwd_packets_s"),
        stat_cast(bwd_pkts / duration_s).alias("bwd_packets_s"),
        _long(F.min(length)).alias("min_packet_length"),
        _long(F.max(length)).alias("max_packet_length"),
        stat_cast(F.avg(length)).alias("packet_length_mean"),
        std(length).alias("packet_length_std"),
        # Reference: int(std_float ** 2), NOT int(var) (main.py:911).
        stat_cast(F.pow(F.stddev_pop(length), F.lit(2))).alias("packet_length_variance"),
        flag_count("fin_flag").alias("fin_flag_count"),
        flag_count("syn_flag").alias("syn_flag_count"),
        flag_count("rst_flag").alias("rst_flag_count"),
        flag_count("psh_flag").alias("psh_flag_count"),
        flag_count("ack_flag").alias("ack_flag_count"),
        flag_count("urg_flag").alias("urg_flag_count"),
        # cwe_flag_count is fed from cwr_flag — CIC-DDoS2019 naming.
        flag_count("cwr_flag").alias("cwe_flag_count"),
        flag_count("ece_flag").alias("ece_flag_count"),
        # Byte (not packet) down/up ratio, int-floored (main.py:920).
        stat_cast(ratio(bwd_bytes, fwd_bytes)).alias("down_up_ratio"),
        stat_cast(F.avg(length)).alias("average_packet_size"),
        stat_cast(F.avg(fwd_len)).alias("avg_fwd_segment_size"),
        stat_cast(F.avg(bwd_len)).alias("avg_bwd_segment_size"),
        stat_cast(ratio(fwd_bulk_bytes, fwd_bulk_eps)).alias("fwd_avg_bytes_bulk"),
        stat_cast(ratio(fwd_bulk_pkts, fwd_bulk_eps)).alias("fwd_avg_packets_bulk"),
        stat_cast(fwd_bulk_bytes / duration_s).alias("fwd_avg_bulk_rate"),
        stat_cast(ratio(bwd_bulk_bytes, bwd_bulk_eps)).alias("bwd_avg_bytes_bulk"),
        stat_cast(ratio(bwd_bulk_pkts, bwd_bulk_eps)).alias("bwd_avg_packets_bulk"),
        stat_cast(bwd_bulk_bytes / duration_s).alias("bwd_avg_bulk_rate"),
        # Subflows mirror the totals in the reference (main.py:734-735);
        # saturating cast — a >2 GiB flow must not kill the job (ADVICE r1).
        _int(fwd_pkts).alias("subflow_fwd_packets"),
        _int(fwd_bytes).alias("subflow_fwd_bytes"),
        _int(bwd_pkts).alias("subflow_bwd_packets"),
        _int(bwd_bytes).alias("subflow_bwd_bytes"),
        init_win_fwd,
        init_win_bwd,
        _int(
            F.sum(
                _fwd(
                    F.when(
                        (_z(F.col("tcp_len")) > 0) | (_z(F.col("udp_len")) > 0), 1
                    )
                )
            )
        ).alias("act_data_pkt_fwd"),
        min_seg_fwd,
    ] + active_idle


def identity_aggs() -> list[Column]:
    """Flow identity columns: first-packet orientation + last-seen ts.

    All forward packets share the session-initiator 4-tuple, so any
    fwd-conditional first() is deterministic. Memoized per JVM.
    """
    return _memoized(("identity",), _build_identity_aggs)


def _build_identity_aggs() -> list[Column]:
    src_ip = F.first(_fwd(F.col("src_ip")), ignorenulls=True)
    src_port = F.first(_fwd(F.col("src_port")), ignorenulls=True)
    dst_ip = F.first(_fwd(F.col("dst_ip")), ignorenulls=True)
    dst_port = F.first(_fwd(F.col("dst_port")), ignorenulls=True)
    flow_id = F.concat_ws(
        "-",
        F.concat_ws(":", src_ip, src_port),
        F.concat_ws(":", dst_ip, dst_port),
        F.col("protocol"),
    )
    return [
        flow_id.alias("flow_id"),
        src_ip.alias("source_ip"),
        src_port.cast("int").alias("source_port"),
        dst_ip.alias("destination_ip"),
        dst_port.cast("int").alias("destination_port"),
        F.max("timestamp").alias("last_timestamp"),
    ]
