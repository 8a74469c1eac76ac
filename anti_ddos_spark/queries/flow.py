"""Flow/sessionization queries (SURVEY.md §2.3-2.4) over driver testdata.

The driver's oracle tables have no packet table, so this module checks the
sessionizer surface two ways:

- q20-q23: the constituent patterns (gap sessionization, IAT stats,
  direction split, bulk-run detection) directly over `events`;
- q24: FULL PARITY — a deterministic packet-shaped view derived from
  `events` is pushed through the real `flow_features()` library (faithful
  mode: every stat int-truncated exactly like the reference,
  spark_app/main.py:877 etc.) and compared against a hand-built DuckDB
  replication of the whole pipeline: windows for session split /
  orientation / direction IATs / bulk runs, then the 77 aggregates.
  All outputs are integers → the hash comparison is exact by
  construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from anti_ddos_spark.queries.base import Query, rnd, t
from anti_ddos_spark.sessionize import flow_features

SESSION_GAP_S = 1800  # events sessions: 30 min silence closes a session
FLOW_GAP_S = 3600  # q24 flow sessions: 1 h gap


# --- shared: sessionized events ------------------------------------------

def _sessionized(ev: DataFrame, gap_s: int) -> DataFrame:
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    new_s = gap.isNull() | (gap > gap_s * 1_000_000)
    return (
        ev.withColumn("gap_us", gap)
        .withColumn("new_session", new_s)
        .withColumn(
            "session_id",
            F.sum(F.col("new_session").cast("long")).over(
                w.rowsBetween(W.unboundedPreceding, 0)
            ),
        )
    )


_SESS_CTE = f"""
sess AS (
  SELECT *,
         epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_S * 1_000_000}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess2 AS (
  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS session_id
  FROM sess
)
"""


# --- q20: gap sessionization + per-session stats (G5 batch shape) --------

def q20_event_sessions(spark: SparkSession, sf: str) -> DataFrame:
    ev = _sessionized(t(spark, sf, "events"), SESSION_GAP_S)
    return ev.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        rnd(F.sum("value"), 2).alias("sum_value"),
        F.min(F.unix_micros("ts")).alias("start_us"),
        F.max(F.unix_micros("ts")).alias("end_us"),
        ((F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))) / F.lit(1_000_000.0))
        .cast("long")
        .alias("duration_s"),
        F.countDistinct("event_type").alias("n_types"),
    )


Q20_SQL = f"""
WITH {_SESS_CTE[1:]}
SELECT user_id, session_id,
       count(*) AS n_events,
       floor((sum(value)) * 100 + 0.5) / 100.0 AS sum_value,
       min(epoch_us(ts)) AS start_us,
       max(epoch_us(ts)) AS end_us,
       CAST(floor((max(epoch_us(ts)) - min(epoch_us(ts))) / 1000000.0) AS BIGINT)
         AS duration_s,
       count(DISTINCT event_type) AS n_types
FROM sess2
GROUP BY user_id, session_id
"""


# --- q21: inter-arrival-time statistics (the IAT feature family) ---------

def q21_event_iat_stats(spark: SparkSession, sf: str) -> DataFrame:
    ev = t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    iat = (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("iat_us")
    return (
        ev.withColumn("iat_us", iat)
        .groupBy("user_id")
        .agg(
            F.count("iat_us").alias("n_iat"),
            F.avg("iat_us").cast("long").alias("iat_mean_us"),
            F.max("iat_us").alias("iat_max_us"),
            F.min("iat_us").alias("iat_min_us"),
            rnd(F.stddev_pop("iat_us"), 0).alias("iat_std_us"),
            F.sum("iat_us").alias("iat_total_us"),
        )
    )


Q21_SQL = """
WITH iat AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS iat_us
  FROM events)
SELECT user_id, count(iat_us) AS n_iat,
       CAST(floor(avg(iat_us)) AS BIGINT) AS iat_mean_us,
       max(iat_us) AS iat_max_us, min(iat_us) AS iat_min_us,
       floor((stddev_pop(iat_us)) * 1 + 0.5) / 1.0 AS iat_std_us,
       CAST(sum(iat_us) AS BIGINT) AS iat_total_us
FROM iat GROUP BY user_id
"""


# --- q22: direction-split conditional aggregates (G7 analogue) -----------

FWD_TYPES = ("click", "view")


def q22_direction_split(spark: SparkSession, sf: str) -> DataFrame:
    ev = t(spark, sf, "events")
    fwd = F.col("event_type").isin(*FWD_TYPES)
    fwd_val = F.when(fwd, F.col("value"))
    bwd_val = F.when(~fwd, F.col("value"))
    fwd_sum = F.coalesce(F.sum(fwd_val), F.lit(0.0))
    bwd_sum = F.coalesce(F.sum(bwd_val), F.lit(0.0))
    return ev.groupBy("user_id").agg(
        F.count(fwd_val).alias("n_fwd"),
        F.count(bwd_val).alias("n_bwd"),
        rnd(fwd_sum, 2).alias("fwd_sum"),
        rnd(bwd_sum, 2).alias("bwd_sum"),
        F.when(fwd_sum > 0, (bwd_sum / fwd_sum).cast("long"))
        .otherwise(F.lit(0))
        .alias("down_up_ratio"),
        F.max(F.when(fwd, F.col("value"))).alias("fwd_max"),
        F.min(F.when(~fwd, F.col("value"))).alias("bwd_min"),
    )


Q22_SQL = f"""
SELECT user_id,
       count(CASE WHEN event_type IN {FWD_TYPES!r} THEN value END) AS n_fwd,
       count(CASE WHEN event_type NOT IN {FWD_TYPES!r} THEN value END) AS n_bwd,
       floor((coalesce(sum(CASE WHEN event_type IN {FWD_TYPES!r} THEN value END), 0)) * 100 + 0.5) / 100.0 AS fwd_sum,
       floor((coalesce(sum(CASE WHEN event_type NOT IN {FWD_TYPES!r} THEN value END), 0)) * 100 + 0.5) / 100.0 AS bwd_sum,
       CASE WHEN coalesce(sum(CASE WHEN event_type IN {FWD_TYPES!r} THEN value END), 0) > 0
            THEN CAST(floor(coalesce(sum(CASE WHEN event_type NOT IN {FWD_TYPES!r} THEN value END), 0)
                      / sum(CASE WHEN event_type IN {FWD_TYPES!r} THEN value END)) AS BIGINT)
            ELSE 0 END AS down_up_ratio,
       max(CASE WHEN event_type IN {FWD_TYPES!r} THEN value END) AS fwd_max,
       min(CASE WHEN event_type NOT IN {FWD_TYPES!r} THEN value END) AS bwd_min
FROM events GROUP BY user_id
"""


# --- q23: bulk-run episodes (deterministic bulk semantics) ---------------

BULK_VALUE = 400.0


def q23_bulk_runs(spark: SparkSession, sf: str) -> DataFrame:
    ev = t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    is_bulk = F.col("value") > BULK_VALUE
    prev_bulk = F.lag(is_bulk.cast("int")).over(w)
    start = is_bulk & (prev_bulk.isNull() | (prev_bulk == 0))
    return (
        ev.withColumn("is_bulk", is_bulk)
        .withColumn("bulk_start", start)
        .groupBy("user_id")
        .agg(
            F.sum(F.col("is_bulk").cast("int")).alias("bulk_events"),
            F.sum(F.col("bulk_start").cast("int")).alias("bulk_episodes"),
            rnd(F.coalesce(F.sum(F.when(is_bulk, F.col("value"))), F.lit(0.0)), 2).alias(
                "bulk_sum"
            ),
        )
    )


Q23_SQL = f"""
WITH b AS (
  SELECT user_id, value,
         (value > {BULK_VALUE}) AS is_bulk,
         lag(CASE WHEN value > {BULK_VALUE} THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_bulk
  FROM events)
SELECT user_id,
       CAST(sum(CASE WHEN is_bulk THEN 1 ELSE 0 END) AS BIGINT) AS bulk_events,
       CAST(sum(CASE WHEN is_bulk AND (prev_bulk IS NULL OR prev_bulk = 0) THEN 1 ELSE 0 END) AS BIGINT)
         AS bulk_episodes,
       floor((coalesce(sum(CASE WHEN is_bulk THEN value END), 0)) * 100 + 0.5) / 100.0 AS bulk_sum
FROM b GROUP BY user_id
"""


# --- q24: FULL flow-feature parity over a packet view of events ----------

def events_as_packets(ev: DataFrame) -> DataFrame:
    """Deterministic packet-shaped projection of the events table.

    Each user becomes one bidirectional 5-tuple; event_id % 3 decides
    direction, value scales to a packet length (bulk lengths included),
    props.k seeds TCP flags/window. Purely arithmetic → reproducible
    identically in the DuckDB oracle. Column trees are fixed — memoized
    per JVM (features._memoized; r14, guide §7.3: this projection
    cost ~0.35 s of driver py4j per flow-query build)."""
    from anti_ddos_spark.features import _memoized

    def build():
        uid = F.col("user_id")
        k = F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("int")
        fwd = (F.col("event_id") % 3) != 0
        proto = F.when(F.col("event_type").isin("click", "view", "purchase"), 6).otherwise(17)
        length = (F.floor(F.col("value") * 10).cast("int") % 1461 + 40).cast("int")
        ip_a = F.concat_ws("", F.lit("10.0."), (uid % 5).cast("string"), F.lit("."), uid.cast("string"))
        ip_b = F.concat_ws("", F.lit("10.1.0."), (uid % 7).cast("string"))
        port_a = (uid + 1024).cast("int")
        port_b = F.lit(80)
        is_tcp = proto == 6

        def flag(mod: int):
            return F.when(is_tcp, (k % mod == 0).cast("int"))

        return [
            F.col("ts").alias("timestamp"),
            F.when(fwd, ip_a).otherwise(ip_b).alias("src_ip"),
            F.when(fwd, ip_b).otherwise(ip_a).alias("dst_ip"),
            length.alias("length"),
            proto.alias("protocol"),
            F.when(fwd, port_a).otherwise(port_b).alias("src_port"),
            F.when(fwd, port_b).otherwise(port_a).alias("dst_port"),
            F.when(~is_tcp, length - 28).alias("udp_len"),
            F.col("event_id").cast("int").alias("tcp_seq"),
            F.lit(None).cast("int").alias("tcp_ack"),
            F.when(is_tcp, k * 100).alias("tcp_win"),
            F.when(is_tcp, F.greatest(length - 40, F.lit(0))).alias("tcp_len"),
            flag(19).alias("cwr_flag"),
            flag(23).alias("ece_flag"),
            flag(11).alias("urg_flag"),
            flag(2).alias("ack_flag"),
            flag(3).alias("psh_flag"),
            flag(17).alias("rst_flag"),
            flag(7).alias("syn_flag"),
            flag(13).alias("fin_flag"),
        ]

    return ev.select(*_memoized(("events_as_packets",), build))


def q24_flow_features_full(spark: SparkSession, sf: str) -> DataFrame:
    packets = events_as_packets(t(spark, sf, "events"))
    flows = flow_features(packets, gap_s=FLOW_GAP_S, mode="faithful")
    return flows.select(
        "*", F.unix_micros("timestamp").alias("last_ts_us")
    ).drop("timestamp")


def _q24_oracle(gap_s: float = FLOW_GAP_S) -> str:
    """Generate the DuckDB replication of the full pipeline.

    gap_s parameterizes the session gap so callers can pin whole-flow
    semantics (huge gap → one session per 5-tuple, used by q71's
    stateful-streaming oracle)."""
    gap_us = int(gap_s * 1_000_000)
    order = "timestamp, src_ip, src_port, dst_ip, dst_port, tcp_seq"
    key = "flow_src_ip, flow_src_port, flow_dst_ip, flow_dst_port, protocol"

    def fwd(e: str) -> str:
        return f"CASE WHEN is_fwd THEN {e} END"

    def bwd(e: str) -> str:
        return f"CASE WHEN NOT is_fwd THEN {e} END"

    def fl(e: str) -> str:  # int() truncation for non-negative values
        return f"CAST(floor({e}) AS BIGINT)"

    def z(e: str) -> str:
        return f"coalesce({e}, 0)"

    # raw aggregates computed in the `agg` CTE
    raw = f"""
      max({fwd('src_ip')}) AS source_ip, max({fwd('src_port')}) AS source_port,
      max({fwd('dst_ip')}) AS destination_ip, max({fwd('dst_port')}) AS destination_port,
      count({fwd('1')}) AS fwdp, count({bwd('1')}) AS bwdp,
      {z(f"sum({fwd('length')})")} AS fwdb, {z(f"sum({bwd('length')})")} AS bwdb,
      {z(f"max({fwd('length')})")} AS fwd_len_max, {z(f"min({fwd('length')})")} AS fwd_len_min,
      avg({fwd('length')}) AS fwd_len_avg, stddev_pop({fwd('length')}) AS fwd_len_std,
      {z(f"max({bwd('length')})")} AS bwd_len_max, {z(f"min({bwd('length')})")} AS bwd_len_min,
      avg({bwd('length')}) AS bwd_len_avg, stddev_pop({bwd('length')}) AS bwd_len_std,
      min(ts_us) AS min_ts, max(ts_us) AS max_ts,
      avg(flow_iat_us) AS fiat_avg, stddev_pop(flow_iat_us) AS fiat_std,
      max(flow_iat_us) AS fiat_max, min(flow_iat_us) AS fiat_min,
      sum({fwd('dir_iat_us')}) AS fwiat_sum, avg({fwd('dir_iat_us')}) AS fwiat_avg,
      stddev_pop({fwd('dir_iat_us')}) AS fwiat_std,
      max({fwd('dir_iat_us')}) AS fwiat_max, min({fwd('dir_iat_us')}) AS fwiat_min,
      sum({bwd('dir_iat_us')}) AS bwiat_sum, avg({bwd('dir_iat_us')}) AS bwiat_avg,
      stddev_pop({bwd('dir_iat_us')}) AS bwiat_std,
      max({bwd('dir_iat_us')}) AS bwiat_max, min({bwd('dir_iat_us')}) AS bwiat_min,
      {z(f"sum({fwd('coalesce(psh_flag,0)')})")} AS fwd_psh, {z(f"sum({bwd('coalesce(psh_flag,0)')})")} AS bwd_psh,
      {z(f"sum({fwd('coalesce(urg_flag,0)')})")} AS fwd_urg, {z(f"sum({bwd('coalesce(urg_flag,0)')})")} AS bwd_urg,
      {z(f"sum({fwd('CASE WHEN protocol = 6 THEN 20 ELSE 8 END')})")} AS fwd_hdr,
      {z(f"sum({bwd('CASE WHEN protocol = 6 THEN 20 ELSE 8 END')})")} AS bwd_hdr,
      min(length) AS len_min, max(length) AS len_max,
      avg(length) AS len_avg, stddev_pop(length) AS len_std,
      {z('sum(coalesce(fin_flag, 0))')} AS fin_c, {z('sum(coalesce(syn_flag, 0))')} AS syn_c,
      {z('sum(coalesce(rst_flag, 0))')} AS rst_c, {z('sum(coalesce(psh_flag, 0))')} AS psh_c,
      {z('sum(coalesce(ack_flag, 0))')} AS ack_c, {z('sum(coalesce(urg_flag, 0))')} AS urg_c,
      {z('sum(coalesce(cwr_flag, 0))')} AS cwe_c, {z('sum(coalesce(ece_flag, 0))')} AS ece_c,
      {z(f"sum({fwd('CASE WHEN length > 1000 THEN length END')})")} AS fwd_bulk_b,
      count({fwd('CASE WHEN length > 1000 THEN 1 END')}) AS fwd_bulk_p,
      {z(f"sum(CASE WHEN is_fwd AND bulk_start THEN 1 END)")} AS fwd_bulk_e,
      {z(f"sum({bwd('CASE WHEN length > 1000 THEN length END')})")} AS bwd_bulk_b,
      count({bwd('CASE WHEN length > 1000 THEN 1 END')}) AS bwd_bulk_p,
      {z(f"sum(CASE WHEN (NOT is_fwd) AND bulk_start THEN 1 END)")} AS bwd_bulk_e,
      {z(f"sum({fwd('CASE WHEN coalesce(tcp_len,0) > 0 OR coalesce(udp_len,0) > 0 THEN 1 END')})")} AS act_fwd
    """

    dur = "greatest((max_ts - min_ts) / 1000000.0, 0.001)"
    final = f"""
      concat(source_ip, ':', source_port, '-', destination_ip, ':', destination_port, '-', protocol)
        AS flow_id,
      source_ip, CAST(source_port AS INT) AS source_port,
      destination_ip, CAST(destination_port AS INT) AS destination_port,
      protocol, max_ts AS last_ts_us,
      CAST(fwdp AS INT) AS total_fwd_packets, CAST(bwdp AS INT) AS total_backward_packets,
      CAST(fwdb AS BIGINT) AS total_length_of_fwd_packets,
      CAST(bwdb AS BIGINT) AS total_length_of_bwd_packets,
      CAST(fwd_len_max AS BIGINT) AS fwd_packet_length_max,
      CAST(fwd_len_min AS BIGINT) AS fwd_packet_length_min,
      {fl(z('fwd_len_avg'))} AS fwd_packet_length_mean, {fl(z('fwd_len_std'))} AS fwd_packet_length_std,
      CAST(bwd_len_max AS BIGINT) AS bwd_packet_length_max,
      CAST(bwd_len_min AS BIGINT) AS bwd_packet_length_min,
      {fl(z('bwd_len_avg'))} AS bwd_packet_length_mean, {fl(z('bwd_len_std'))} AS bwd_packet_length_std,
      {fl(f'(fwdb + bwdb) / {dur}')} AS flow_bytes_s,
      {fl(f'(fwdp + bwdp) / {dur}')} AS flow_packets_s,
      {fl(z('fiat_avg'))} AS flow_iat_mean, {fl(z('fiat_std'))} AS flow_iat_std,
      CAST({z('fiat_max')} AS BIGINT) AS flow_iat_max, CAST({z('fiat_min')} AS BIGINT) AS flow_iat_min,
      CAST({z('fwiat_sum')} AS BIGINT) AS fwd_iat_total, {fl(z('fwiat_avg'))} AS fwd_iat_mean,
      {fl(z('fwiat_std'))} AS fwd_iat_std, CAST({z('fwiat_max')} AS BIGINT) AS fwd_iat_max,
      CAST({z('fwiat_min')} AS BIGINT) AS fwd_iat_min,
      CAST({z('bwiat_sum')} AS BIGINT) AS bwd_iat_total, {fl(z('bwiat_avg'))} AS bwd_iat_mean,
      {fl(z('bwiat_std'))} AS bwd_iat_std, CAST({z('bwiat_max')} AS BIGINT) AS bwd_iat_max,
      CAST({z('bwiat_min')} AS BIGINT) AS bwd_iat_min,
      CAST(fwd_psh AS INT) AS fwd_psh_flags, CAST(bwd_psh AS INT) AS bwd_psh_flags,
      CAST(fwd_urg AS INT) AS fwd_urg_flags, CAST(bwd_urg AS INT) AS bwd_urg_flags,
      CAST(fwd_hdr AS INT) AS fwd_header_length, CAST(bwd_hdr AS INT) AS bwd_header_length,
      {fl(f'fwdp / {dur}')} AS fwd_packets_s, {fl(f'bwdp / {dur}')} AS bwd_packets_s,
      CAST(len_min AS BIGINT) AS min_packet_length, CAST(len_max AS BIGINT) AS max_packet_length,
      {fl('len_avg')} AS packet_length_mean, {fl('len_std')} AS packet_length_std,
      {fl('len_std * len_std')} AS packet_length_variance,
      CAST(fin_c AS INT) AS fin_flag_count, CAST(syn_c AS INT) AS syn_flag_count,
      CAST(rst_c AS INT) AS rst_flag_count, CAST(psh_c AS INT) AS psh_flag_count,
      CAST(ack_c AS INT) AS ack_flag_count, CAST(urg_c AS INT) AS urg_flag_count,
      CAST(cwe_c AS INT) AS cwe_flag_count, CAST(ece_c AS INT) AS ece_flag_count,
      CASE WHEN fwdb > 0 THEN {fl('bwdb / fwdb')} ELSE 0 END AS down_up_ratio,
      {fl('len_avg')} AS average_packet_size,
      {fl(z('fwd_len_avg'))} AS avg_fwd_segment_size, {fl(z('bwd_len_avg'))} AS avg_bwd_segment_size,
      CASE WHEN fwd_bulk_e > 0 THEN {fl('fwd_bulk_b / fwd_bulk_e')} ELSE 0 END AS fwd_avg_bytes_bulk,
      CASE WHEN fwd_bulk_e > 0 THEN {fl('fwd_bulk_p / fwd_bulk_e')} ELSE 0 END AS fwd_avg_packets_bulk,
      {fl(f'fwd_bulk_b / {dur}')} AS fwd_avg_bulk_rate,
      CASE WHEN bwd_bulk_e > 0 THEN {fl('bwd_bulk_b / bwd_bulk_e')} ELSE 0 END AS bwd_avg_bytes_bulk,
      CASE WHEN bwd_bulk_e > 0 THEN {fl('bwd_bulk_p / bwd_bulk_e')} ELSE 0 END AS bwd_avg_packets_bulk,
      {fl(f'bwd_bulk_b / {dur}')} AS bwd_avg_bulk_rate,
      CAST(fwdp AS INT) AS subflow_fwd_packets, CAST(fwdb AS INT) AS subflow_fwd_bytes,
      CAST(bwdp AS INT) AS subflow_bwd_packets, CAST(bwdb AS INT) AS subflow_bwd_bytes,
      0 AS init_win_bytes_forward, 0 AS init_win_bytes_backward,
      CAST(act_fwd AS INT) AS act_data_pkt_fwd, 0 AS min_seg_size_forward,
      CAST(0 AS BIGINT) AS active_mean, CAST(0 AS BIGINT) AS active_std,
      CAST(0 AS BIGINT) AS active_max, CAST(0 AS BIGINT) AS active_min,
      CAST(0 AS BIGINT) AS idle_mean, CAST(0 AS BIGINT) AS idle_std,
      CAST(0 AS BIGINT) AS idle_max, CAST(0 AS BIGINT) AS idle_min
    """

    return f"""
WITH ev AS (
  SELECT *, CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INT) AS k,
         (event_id % 3 != 0) AS fwd,
         CASE WHEN event_type IN ('click', 'view', 'purchase') THEN 6 ELSE 17 END AS proto,
         CAST(CAST(floor(value * 10) AS INT) % 1461 + 40 AS INT) AS len,
         concat('10.0.', user_id % 5, '.', user_id) AS ip_a,
         concat('10.1.0.', user_id % 7) AS ip_b,
         CAST(user_id + 1024 AS INT) AS port_a, 80 AS port_b
  FROM events),
pk AS (
  SELECT ts AS timestamp, epoch_us(ts) AS ts_us,
         CASE WHEN fwd THEN ip_a ELSE ip_b END AS src_ip,
         CASE WHEN fwd THEN ip_b ELSE ip_a END AS dst_ip,
         len AS length, proto AS protocol,
         CASE WHEN fwd THEN port_a ELSE port_b END AS src_port,
         CASE WHEN fwd THEN port_b ELSE port_a END AS dst_port,
         CASE WHEN proto = 17 THEN len - 28 END AS udp_len,
         CAST(event_id AS INT) AS tcp_seq,
         CASE WHEN proto = 6 THEN k * 100 END AS tcp_win,
         CASE WHEN proto = 6 THEN greatest(len - 40, 0) END AS tcp_len,
         CASE WHEN proto = 6 THEN CAST(k % 19 = 0 AS INT) END AS cwr_flag,
         CASE WHEN proto = 6 THEN CAST(k % 23 = 0 AS INT) END AS ece_flag,
         CASE WHEN proto = 6 THEN CAST(k % 11 = 0 AS INT) END AS urg_flag,
         CASE WHEN proto = 6 THEN CAST(k % 2 = 0 AS INT) END AS ack_flag,
         CASE WHEN proto = 6 THEN CAST(k % 3 = 0 AS INT) END AS psh_flag,
         CASE WHEN proto = 6 THEN CAST(k % 17 = 0 AS INT) END AS rst_flag,
         CASE WHEN proto = 6 THEN CAST(k % 7 = 0 AS INT) END AS syn_flag,
         CASE WHEN proto = 6 THEN CAST(k % 13 = 0 AS INT) END AS fin_flag
  FROM ev),
keyed AS (
  SELECT *,
         CASE WHEN src_ip < dst_ip THEN src_ip ELSE dst_ip END AS flow_src_ip,
         CASE WHEN src_ip < dst_ip THEN dst_ip ELSE src_ip END AS flow_dst_ip,
         CASE WHEN src_ip < dst_ip THEN src_port ELSE dst_port END AS flow_src_port,
         CASE WHEN src_ip < dst_ip THEN dst_port ELSE src_port END AS flow_dst_port
  FROM pk),
g1 AS (
  SELECT *, ts_us - lag(ts_us) OVER w AS raw_gap,
         CASE WHEN lag(ts_us) OVER w IS NULL OR ts_us - lag(ts_us) OVER w > {gap_us}
              THEN 1 ELSE 0 END AS new_sess
  FROM keyed WINDOW w AS (PARTITION BY {key} ORDER BY {order})),
g2 AS (
  SELECT *,
         sum(new_sess) OVER wc AS session_id,
         last_value(CASE WHEN new_sess = 1 THEN ts_us END IGNORE NULLS) OVER wc AS sess_start,
         last_value(CASE WHEN new_sess = 1 THEN src_ip END IGNORE NULLS) OVER wc AS sess_src_ip,
         last_value(CASE WHEN new_sess = 1 THEN src_port END IGNORE NULLS) OVER wc AS sess_src_port
  FROM g1 WINDOW wc AS (PARTITION BY {key} ORDER BY {order}
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
g3 AS (
  SELECT *, (src_ip = sess_src_ip AND src_port = sess_src_port) AS is_fwd FROM g2),
g4 AS (
  SELECT *,
         last_value(CASE WHEN is_fwd THEN ts_us END IGNORE NULLS) OVER wp AS prev_fwd_ts,
         last_value(CASE WHEN NOT is_fwd THEN ts_us END IGNORE NULLS) OVER wp AS prev_bwd_ts,
         last_value(CASE WHEN is_fwd THEN length END IGNORE NULLS) OVER wp AS prev_fwd_len,
         last_value(CASE WHEN NOT is_fwd THEN length END IGNORE NULLS) OVER wp AS prev_bwd_len
  FROM g3 WINDOW wp AS (PARTITION BY {key} ORDER BY {order}
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
g5 AS (
  SELECT *,
         CASE WHEN new_sess = 0 THEN raw_gap END AS flow_iat_us,
         CASE WHEN (CASE WHEN is_fwd THEN prev_fwd_ts ELSE prev_bwd_ts END) >= sess_start
              THEN ts_us - (CASE WHEN is_fwd THEN prev_fwd_ts ELSE prev_bwd_ts END)
         END AS dir_iat_us,
         CASE WHEN (CASE WHEN is_fwd THEN prev_fwd_ts ELSE prev_bwd_ts END) >= sess_start
              THEN (CASE WHEN is_fwd THEN prev_fwd_len ELSE prev_bwd_len END)
         END AS prev_dir_len
  FROM g4),
g6 AS (
  SELECT *, (length > 1000 AND (prev_dir_len IS NULL OR prev_dir_len <= 1000)) AS bulk_start
  FROM g5),
agg AS (
  SELECT {key}, session_id, {raw}
  FROM g6 GROUP BY {key}, session_id)
SELECT {final} FROM agg
"""


Q24_SQL = _q24_oracle()


QUERIES: dict[str, Query] = {
    "q24_flow_features_full": Query(
        q24_flow_features_full, Q24_SQL, "FULL 77-feature flow parity vs windowed-SQL oracle"
    ),
}

# Demoted from the driver sweep (cap policy, queries/__init__.py): q24's
# 77-feature hash parity subsumes the IAT/direction/bulk math these check
# in isolation. Still oracle-checked locally via full_registry().
# Round-11 rotation (r10 verdict task #1): q20 joins them — its gap
# sessionization is transitively carried by q24's full-feature hash and
# q70's streaming twin; its driver slot goes to the round-10 storage
# consumer family (q141/q143/q145). Full DuckDB oracle retained here.
EXTRA_QUERIES: dict[str, Query] = {
    "q20_event_sessions": Query(q20_event_sessions, Q20_SQL, "gap sessionization + session stats"),
    "q21_event_iat_stats": Query(q21_event_iat_stats, Q21_SQL, "IAT statistics via lag window"),
    "q22_direction_split": Query(q22_direction_split, Q22_SQL, "direction-split conditional aggs"),
    "q23_bulk_runs": Query(q23_bulk_runs, Q23_SQL, "bulk-run episode detection"),
}
