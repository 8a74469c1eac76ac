"""Array-aggregation variant of the 77-feature computation.

Computes every flow feature from a *sorted array of packet structs*
(one `collect_list(struct(...))` aggregate) using higher-order array
expressions. This is the enabling form for Structured Streaming:
`session_window` aggregations cannot use analytic windows (no per-row
lag/first over a stream), but they CAN collect the session's packets and
project features afterwards — still fully declarative, no Python state,
exactly the semantics of the batch window implementation
(features.py / sessionize.py).

State cost: the open session's packet array in the state store. The
reference bounds the same state at 1000 array entries
(spark_app/main.py:288-292); we keep exact arrays and document that a
production deployment at 100 TB/day should cap session length via the
gap parameter (a DDoS flood of one 5-tuple is split by gap sessions) or
switch to the windowed batch path for offline recompute.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from anti_ddos_spark.features import BULK_BYTES_THRESHOLD, MIN_DURATION_S, _memoized


def pkt_struct() -> Column:
    """Packet struct whose natural (lexicographic) order = ORDER_COLS."""
    return F.struct(
        F.unix_micros("timestamp").alias("ts_us"),
        F.col("src_ip"),
        F.col("src_port"),
        F.col("dst_ip"),
        F.col("dst_port"),
        F.col("tcp_seq"),
        F.col("length").cast("long").alias("length"),
        F.col("protocol"),
        F.col("tcp_win"),
        F.col("tcp_len"),
        F.col("udp_len"),
        *[F.col(f) for f in ("fin_flag", "syn_flag", "rst_flag", "psh_flag",
                             "ack_flag", "urg_flag", "cwr_flag", "ece_flag")],
    )


def _lsum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0).cast("long"), lambda a, x: a + x)


def _dsum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda a, x: a + x.cast("double"))


def _mean(arr: Column) -> Column:
    n = F.size(arr)
    return F.when(n > 0, _dsum(arr) / n)


def _std_pop(arr: Column) -> Column:
    """Single-pass population std over a numeric array.

    One aggregate accumulating (sum, sumsq); variance = q/n - (s/n)².
    The obvious two-pass form (mean embedded in the deviation lambda) is
    O(n²): higher-order lambdas are interpreted per element with no CSE
    across the lambda boundary, so the inner mean aggregate re-runs for
    every element. The sumsq form differs from two-pass by sub-ulp float
    noise — the same ±1 band (after int-cast) the test suite and q70's
    hash-column selection already account for.
    """
    n = F.size(arr)
    acc = F.aggregate(
        arr,
        F.struct(F.lit(0.0).alias("s"), F.lit(0.0).alias("q")),
        lambda a, x: F.struct(
            (a["s"] + x.cast("double")).alias("s"),
            (a["q"] + x.cast("double") * x.cast("double")).alias("q"),
        ),
    )
    mean = acc["s"] / n
    var = acc["q"] / n - mean * mean
    return F.when(n > 0, F.sqrt(F.greatest(var, F.lit(0.0))))


def _iats_us(arr_ts: Column) -> Column:
    n = F.size(arr_ts)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(arr_ts, 2, n - 1), F.slice(arr_ts, 1, n - 1), lambda a, b: a - b
        ),
    ).otherwise(F.array().cast("array<long>"))


def _bulk_episodes(lens: Column) -> Column:
    """Count maximal runs of >threshold lengths (deterministic bulk)."""
    zero = F.struct(
        F.lit(False).alias("prev"), F.lit(0).cast("long").alias("cnt")
    )
    step = lambda acc, x: F.struct(
        (x > BULK_BYTES_THRESHOLD).alias("prev"),
        (
            acc["cnt"]
            + F.when((x > BULK_BYTES_THRESHOLD) & ~acc["prev"], 1).otherwise(0)
        ).alias("cnt"),
    )
    return F.aggregate(lens, zero, step, lambda acc: acc["cnt"])


def _long(c: Column) -> Column:
    return F.coalesce(c, F.lit(0)).cast("long")


def _int(c: Column) -> Column:
    # Saturating like features._int: elephant-flow totals must clamp, not
    # raise, under ANSI mode (ADVICE r1).
    return F.least(F.coalesce(c, F.lit(0)), F.lit(2_147_483_647)).cast("int")


def array_flow_features() -> list[Column]:
    """Identity + 77 features (faithful mode) from the packet-struct
    array column ``pkts``.

    Returns aliased Columns; apply in a single select after the
    collect_list aggregation. Field-for-field equal to the batch
    window+agg implementation (proven by the batch≡streaming tests).

    Memoized per JVM (features._memoized): building the ~80 deep
    higher-order Columns costs ~2-3 s of driver py4j round-trips per
    call (measured r13 — the dominant build cost of every streaming
    sessionizer start, which constructs this tree for each new query).
    The input is always the unresolved name ``pkts``, so one tree
    serves every caller's DataFrame."""
    return _memoized(("array_flow_features",), _build_array_flow_features)


def _build_array_flow_features() -> list[Column]:
    pkts = F.array_sort(F.col("pkts"))
    n = F.size(pkts)
    first = F.element_at(pkts, 1)
    last = F.element_at(pkts, n)

    isfwd = lambda p: (p["src_ip"] == first["src_ip"]) & (p["src_port"] == first["src_port"])
    fwd = F.filter(pkts, isfwd)
    bwd = F.filter(pkts, lambda p: ~isfwd(p))

    lens = lambda arr: F.transform(arr, lambda p: p["length"])
    tss = lambda arr: F.transform(arr, lambda p: p["ts_us"])
    flag = lambda arr, f: _lsum(F.transform(arr, lambda p: F.coalesce(p[f], F.lit(0)).cast("long")))
    hdr = lambda arr: _lsum(
        F.transform(arr, lambda p: F.when(p["protocol"] == 6, 20).otherwise(8).cast("long"))
    )

    all_lens, fwd_lens, bwd_lens = lens(pkts), lens(fwd), lens(bwd)
    flow_iat = _iats_us(tss(pkts))
    fwd_iat = _iats_us(tss(fwd))
    bwd_iat = _iats_us(tss(bwd))

    fwd_bytes = _lsum(fwd_lens)
    bwd_bytes = _lsum(bwd_lens)
    duration_s = F.greatest(
        (last["ts_us"] - first["ts_us"]) / F.lit(1_000_000.0), F.lit(MIN_DURATION_S)
    )

    bulk = lambda arr: F.filter(arr, lambda x: x > BULK_BYTES_THRESHOLD)
    fwd_bulk_b, bwd_bulk_b = _lsum(bulk(fwd_lens)), _lsum(bulk(bwd_lens))
    fwd_bulk_p, bwd_bulk_p = F.size(bulk(fwd_lens)), F.size(bulk(bwd_lens))
    fwd_bulk_e, bwd_bulk_e = _bulk_episodes(fwd_lens), _bulk_episodes(bwd_lens)

    ratio = lambda num, den: F.when(den > 0, num / den).otherwise(F.lit(0.0))

    ident = [
        F.concat_ws(
            "-",
            F.concat_ws(":", first["src_ip"], first["src_port"]),
            F.concat_ws(":", first["dst_ip"], first["dst_port"]),
            first["protocol"],
        ).alias("flow_id"),
        first["src_ip"].alias("source_ip"),
        first["src_port"].cast("int").alias("source_port"),
        first["dst_ip"].alias("destination_ip"),
        first["dst_port"].cast("int").alias("destination_port"),
        first["protocol"].alias("protocol"),
        F.timestamp_micros(last["ts_us"]).alias("timestamp"),
    ]

    feats = [
        F.size(fwd).cast("int").alias("total_fwd_packets"),
        F.size(bwd).cast("int").alias("total_backward_packets"),
        fwd_bytes.alias("total_length_of_fwd_packets"),
        bwd_bytes.alias("total_length_of_bwd_packets"),
        _long(F.array_max(fwd_lens)).alias("fwd_packet_length_max"),
        _long(F.array_min(fwd_lens)).alias("fwd_packet_length_min"),
        _long(_mean(fwd_lens)).alias("fwd_packet_length_mean"),
        _long(_std_pop(fwd_lens)).alias("fwd_packet_length_std"),
        _long(F.array_max(bwd_lens)).alias("bwd_packet_length_max"),
        _long(F.array_min(bwd_lens)).alias("bwd_packet_length_min"),
        _long(_mean(bwd_lens)).alias("bwd_packet_length_mean"),
        _long(_std_pop(bwd_lens)).alias("bwd_packet_length_std"),
        _long((fwd_bytes + bwd_bytes) / duration_s).alias("flow_bytes_s"),
        _long(n / duration_s).alias("flow_packets_s"),
        _long(_mean(flow_iat)).alias("flow_iat_mean"),
        _long(_std_pop(flow_iat)).alias("flow_iat_std"),
        _long(F.array_max(flow_iat)).alias("flow_iat_max"),
        _long(F.array_min(flow_iat)).alias("flow_iat_min"),
        _long(_lsum(fwd_iat)).alias("fwd_iat_total"),
        _long(_mean(fwd_iat)).alias("fwd_iat_mean"),
        _long(_std_pop(fwd_iat)).alias("fwd_iat_std"),
        _long(F.array_max(fwd_iat)).alias("fwd_iat_max"),
        _long(F.array_min(fwd_iat)).alias("fwd_iat_min"),
        _long(_lsum(bwd_iat)).alias("bwd_iat_total"),
        _long(_mean(bwd_iat)).alias("bwd_iat_mean"),
        _long(_std_pop(bwd_iat)).alias("bwd_iat_std"),
        _long(F.array_max(bwd_iat)).alias("bwd_iat_max"),
        _long(F.array_min(bwd_iat)).alias("bwd_iat_min"),
        _int(flag(fwd, "psh_flag")).alias("fwd_psh_flags"),
        _int(flag(bwd, "psh_flag")).alias("bwd_psh_flags"),
        _int(flag(fwd, "urg_flag")).alias("fwd_urg_flags"),
        _int(flag(bwd, "urg_flag")).alias("bwd_urg_flags"),
        _int(hdr(fwd)).alias("fwd_header_length"),
        _int(hdr(bwd)).alias("bwd_header_length"),
        _long(F.size(fwd) / duration_s).alias("fwd_packets_s"),
        _long(F.size(bwd) / duration_s).alias("bwd_packets_s"),
        _long(F.array_min(all_lens)).alias("min_packet_length"),
        _long(F.array_max(all_lens)).alias("max_packet_length"),
        _long(_mean(all_lens)).alias("packet_length_mean"),
        _long(_std_pop(all_lens)).alias("packet_length_std"),
        _long(F.pow(_std_pop(all_lens), F.lit(2))).alias("packet_length_variance"),
        _int(flag(pkts, "fin_flag")).alias("fin_flag_count"),
        _int(flag(pkts, "syn_flag")).alias("syn_flag_count"),
        _int(flag(pkts, "rst_flag")).alias("rst_flag_count"),
        _int(flag(pkts, "psh_flag")).alias("psh_flag_count"),
        _int(flag(pkts, "ack_flag")).alias("ack_flag_count"),
        _int(flag(pkts, "urg_flag")).alias("urg_flag_count"),
        _int(flag(pkts, "cwr_flag")).alias("cwe_flag_count"),
        _int(flag(pkts, "ece_flag")).alias("ece_flag_count"),
        _long(ratio(bwd_bytes, fwd_bytes)).alias("down_up_ratio"),
        _long(_mean(all_lens)).alias("average_packet_size"),
        _long(_mean(fwd_lens)).alias("avg_fwd_segment_size"),
        _long(_mean(bwd_lens)).alias("avg_bwd_segment_size"),
        _long(ratio(fwd_bulk_b, fwd_bulk_e)).alias("fwd_avg_bytes_bulk"),
        _long(ratio(fwd_bulk_p, fwd_bulk_e)).alias("fwd_avg_packets_bulk"),
        _long(fwd_bulk_b / duration_s).alias("fwd_avg_bulk_rate"),
        _long(ratio(bwd_bulk_b, bwd_bulk_e)).alias("bwd_avg_bytes_bulk"),
        _long(ratio(bwd_bulk_p, bwd_bulk_e)).alias("bwd_avg_packets_bulk"),
        _long(bwd_bulk_b / duration_s).alias("bwd_avg_bulk_rate"),
        F.size(fwd).cast("int").alias("subflow_fwd_packets"),
        _int(fwd_bytes).alias("subflow_fwd_bytes"),
        F.size(bwd).cast("int").alias("subflow_bwd_packets"),
        _int(bwd_bytes).alias("subflow_bwd_bytes"),
        F.lit(0).alias("init_win_bytes_forward"),
        F.lit(0).alias("init_win_bytes_backward"),
        _int(
            F.size(
                F.filter(
                    fwd,
                    lambda p: (F.coalesce(p["tcp_len"], F.lit(0)) > 0)
                    | (F.coalesce(p["udp_len"], F.lit(0)) > 0),
                )
            )
        ).alias("act_data_pkt_fwd"),
        F.lit(0).alias("min_seg_size_forward"),
    ] + [
        F.lit(0).cast("long").alias(nm)
        for nm in (
            "active_mean", "active_std", "active_max", "active_min",
            "idle_mean", "idle_std", "idle_max", "idle_min",
        )
    ]
    return ident + feats
