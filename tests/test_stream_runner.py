"""The availableNow runner behind every streamops query, and the scoped
session conf it starts queries under.

- completion: a data batch that reads zero rows (an empty replay file)
  is not the end of the run; only a committed no-data batch, every
  source at its final offset, is;
- deadline: a run past ``STREAM_DEADLINE_S`` raises and leaves no
  active query behind;
- q72's RocksDB provider is scoped to its own query start;
- concurrent ``sized_stream_partitions`` blocks do not see each
  other's partition count.
"""

from __future__ import annotations

import glob
import os
import shutil
import threading
import time

import pyarrow.parquet as pq
import pytest

from anti_ddos_spark.queries import streamops
from anti_ddos_spark.schemas import PACKET_SCHEMA
from anti_ddos_spark.session import (
    rocksdb_conf,
    sized_stream_partitions,
    state_partitions_for,
)
from anti_ddos_spark.streaming.sessionize_stream import flow_features_arrayagg
from anti_ddos_spark.streaming.stateful_accum import stateful_flow_features_accum
from tests.conftest import SF_DIR, make_packets


def _moved(rows: list[dict]) -> list[dict]:
    """``rows`` with every address moved to 10.9.x.x: new flow keys."""
    return [
        {**r, "src_ip": r["src_ip"].replace("10.0.", "10.9."),
         "dst_ip": r["dst_ip"].replace("10.0.", "10.9.")}
        for r in rows
    ]


def _pinned_accum_stream(spark, root: str, batches: list[list[dict] | None]):
    """One parquet file per entry of ``batches`` (None = an empty file),
    mtimes pinned in list order (q114's idiom), read one file per
    micro-batch into the accumulator sessionizer with a 1 h timeout, so
    processing-time timers keep the availableNow query alive."""
    src = os.path.join(root, "src")
    os.makedirs(src)
    first = None
    for i, rows in enumerate(batches):
        path = os.path.join(src, f"b{i}.parquet")
        if rows is None:
            pq.write_table(pq.read_schema(first).empty_table(), path)
        else:
            part = os.path.join(root, f"part{i}")
            spark.createDataFrame(rows, PACKET_SCHEMA).coalesce(1).write.parquet(part)
            shutil.move(glob.glob(os.path.join(part, "*.parquet"))[0], path)
            first = first or path
        mtime = 1_000_000_000 + i * 100
        os.utime(path, (mtime, mtime))
    stream = (
        spark.readStream.schema(PACKET_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    return stateful_flow_features_accum(stream, timeout_ms=3_600_000)


def test_empty_data_batch_does_not_end_the_run(spark, tmp_path):
    first = make_packets(seed=7, n_flows=4)
    third = _moved(make_packets(seed=8, n_flows=4))
    flows = _pinned_accum_stream(spark, str(tmp_path), [first, None, third])
    out = streamops._run_available_now(
        spark, flows, "runner_empty_batch", str(tmp_path / "ckpt"), "update"
    )
    assert not spark.streams.active
    want = flow_features_arrayagg(
        spark.createDataFrame(third, PACKET_SCHEMA), gap_s=None
    ).select("flow_id")
    want_ids = {r.flow_id for r in want.collect()}
    got_ids = {r.flow_id for r in out.select("flow_id").collect()}
    assert want_ids and want_ids <= got_ids


def test_deadline_raises_and_stops_the_query(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(streamops, "STREAM_DEADLINE_S", 1)
    rows = make_packets(seed=7, n_flows=4)
    flows = _pinned_accum_stream(spark, str(tmp_path), [rows, _moved(rows)])
    with pytest.raises(RuntimeError, match="did not finish"):
        streamops._run_available_now(
            spark, flows, "runner_deadline", str(tmp_path / "ckpt"), "update"
        )
    assert not spark.streams.active


@pytest.mark.skipif(
    not streamops.tws_runtime_available(),
    reason="q72 registers only where google.protobuf is importable",
)
def test_q72_leaves_the_state_provider_conf_as_it_found_it(spark):
    prior = {k: spark.conf.get(k, None) for k in rocksdb_conf()}
    for k in prior:
        spark.conf.unset(k)
    try:
        # q72's TWS operator runs only on RocksDB: rows prove it got it
        assert streamops.q72_tws_sessionize(spark, SF_DIR).count() > 0
        assert {k: spark.conf.get(k, None) for k in prior} == dict.fromkeys(prior)
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_sized_stream_partitions_serializes_concurrent_starts(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    key = "spark.sql.shuffle.partitions"
    want_a, want_b = str(state_partitions_for(100)), str(state_partitions_for(10**6))
    assert want_a != want_b
    before = spark.conf.get(key)
    a_inside = threading.Event()
    seen_a, seen_b = [], []

    def run_a():
        with sized_stream_partitions(spark, 100):
            a_inside.set()
            for _ in range(5):
                time.sleep(0.1)  # B has reached its `with` by now
                seen_a.append(spark.conf.get(key))

    def run_b():
        a_inside.wait(30)
        with sized_stream_partitions(spark, 10**6):
            seen_b.append(spark.conf.get(key))
            time.sleep(0.5)  # a start that takes a while

    threads = [threading.Thread(target=run_a), threading.Thread(target=run_b)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(60)
        assert not th.is_alive()
    assert seen_a == [want_a] * 5
    assert seen_b == [want_b]
    assert spark.conf.get(key) == before
