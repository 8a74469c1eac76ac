"""Shared fixtures: one SparkSession per test run, packet fixture, oracle."""

from __future__ import annotations

import datetime as dt
import os
import random

import pytest

import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session", autouse=True)
def _small_parallelize_slices():
    """Bound the default slice count of parallelized TEST fixture data.

    PySpark's parallelize defaults numSlices to defaultParallelism, so
    on local[32] a 1-row createDataFrame becomes a 32-partition Python
    RDD; every action then pays 32 Python-worker round-trips, and a
    ``.coalesce(1)`` (the single-file commit idiom all storage-family
    tests use) evaluates them SEQUENTIALLY in one task — measured
    ~0.19 s per empty partition, ~6-8 s per 1-row fixture action, which
    was the dominant cost of the versioned/CDF/MOR suites. Cap the
    default at min(len(data), 8) for explicit-size-free calls; tests
    that pass numSlices are untouched, values/ordering are unchanged
    (slicing only changes row placement)."""
    from pyspark import SparkContext

    orig = SparkContext.parallelize

    def parallelize(self, c, numSlices=None):
        if numSlices is None:
            try:
                # ~1000 rows per slice, capped at 8: tiny protocol
                # fixtures become ONE Python partition (their actions
                # are I/O-bound), big compute fixtures keep parallelism
                numSlices = max(1, min(-(-len(c) // 1000), 8))
            except TypeError:
                pass
        return orig(self, c, numSlices)

    SparkContext.parallelize = parallelize
    yield
    SparkContext.parallelize = orig


@pytest.fixture(scope="session")
def spark():
    from anti_ddos_spark.session import get_spark

    spark = get_spark(app_name="anti_ddos_spark_tests", shuffle_partitions=8)
    yield spark


def make_packets(seed: int = 7, n_flows: int = 12, max_flow_pkts: int = 40) -> list[dict]:
    """Deterministic synthetic packet rows per FIXTURES.md §1.

    Includes: bidirectional flows, interleaved flows, a >60 s gap flow,
    a single-packet flow, bulk (>1000 B) packets, TCP and UDP.
    """
    rng = random.Random(seed)
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows: list[dict] = []
    for f in range(n_flows):
        src = f"10.0.0.{rng.randint(1, 20)}"
        dst = f"10.0.1.{rng.randint(1, 3)}"
        sport = rng.randint(1024, 65535)
        dport = rng.choice([80, 443, 53, 8080])
        proto = rng.choice([6, 6, 6, 17])
        t = base + dt.timedelta(seconds=rng.uniform(0, 30))
        n = 1 if f == 0 else rng.randint(2, max_flow_pkts)
        for p in range(n):
            # one flow gets a >60s silence in the middle
            gap = 90.0 if (f == 1 and p == n // 2) else rng.uniform(0.0001, 2.0)
            t = t + dt.timedelta(seconds=gap)
            fwd = p == 0 or rng.random() < 0.6
            length = rng.choice([60, 120, 400, 800, 1200, 1500])
            is_tcp = proto == 6
            rows.append(
                dict(
                    timestamp=t,
                    src_ip=src if fwd else dst,
                    dst_ip=dst if fwd else src,
                    length=length,
                    protocol=proto,
                    src_port=sport if fwd else dport,
                    dst_port=dport if fwd else sport,
                    udp_len=None if is_tcp else length - 28,
                    tcp_seq=rng.randint(1, 2**31 - 1) if is_tcp else None,
                    tcp_ack=rng.randint(1, 2**31 - 1) if is_tcp else None,
                    tcp_win=rng.choice([1024, 8192, 65535]) if is_tcp else None,
                    tcp_len=(length - 40 if rng.random() < 0.8 else 0) if is_tcp else None,
                    cwr_flag=int(rng.random() < 0.05) if is_tcp else None,
                    ece_flag=int(rng.random() < 0.05) if is_tcp else None,
                    urg_flag=int(rng.random() < 0.05) if is_tcp else None,
                    ack_flag=int(rng.random() < 0.8) if is_tcp else None,
                    psh_flag=int(rng.random() < 0.3) if is_tcp else None,
                    rst_flag=int(rng.random() < 0.02) if is_tcp else None,
                    syn_flag=int(p == 0) if is_tcp else None,
                    fin_flag=int(p == n - 1) if is_tcp else None,
                )
            )
    rows.sort(key=lambda r: r["timestamp"])
    return rows


@pytest.fixture(scope="session")
def packets_df(spark):
    from anti_ddos_spark.schemas import PACKET_SCHEMA

    return spark.createDataFrame(make_packets(), schema=PACKET_SCHEMA).cache()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR_ORACLE}/{name}.parquet')"
        )
    yield con
    con.close()
