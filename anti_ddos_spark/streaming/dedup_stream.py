"""Bounded-state streaming dedup: the production form of q73/q74/q75.

The oracle queries (queries/streamops.py q73/q74/q75) use bare
``dropDuplicates``, which is exact over their finite availableNow
replays but whose state store NEVER evicts — the textbook state leak on
an unbounded stream. These wrappers are the scale-safe variants:
``withWatermark(event_time, delay)`` + ``dropDuplicatesWithinWatermark``
(Spark 3.5+), whose state keeps one row per key seen within the
watermark horizon and evicts it once the watermark passes the key's
event time.

Semantics trade-off, stated plainly: within-watermark dedup is exact;
a key that REAPPEARS after its state was evicted (a duplicate arriving
more than ``delay`` after the first copy) is emitted again. That is the
standard bounded-memory contract (same one Kafka Streams / Flink state
TTL make): pick ``delay`` ≥ the maximum duplicate lag you care about.
For the near-dup filters (q74/q75 twins) re-admission just re-occupies
a bucket — downstream candidate logic is unaffected, only memory is.

State size: one row per distinct key with event time inside the
horizon, independent of total stream length — O(arrival_rate x delay)
instead of O(corpus). Pair with the RocksDB provider
(session.rocksdb_conf) when even the horizon working set exceeds heap.

Eviction is unit-proved in tests/test_bounded_dedup.py by asserting
``numRowsRemoved > 0`` and a shrinking ``numRowsTotal`` in the
stateOperators progress metrics across micro-batches.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

DEFAULT_DELAY = "10 minutes"


def bounded_dedup(
    stream: DataFrame,
    keys: list[str],
    event_time: str = "ts",
    delay: str = DEFAULT_DELAY,
) -> DataFrame:
    """Watermark-TTL dedup on ``keys``: exact within ``delay``, state
    bounded to the watermark horizon. ``event_time`` must be a
    TimestampType column of ``stream``."""
    return stream.withWatermark(event_time, delay).dropDuplicatesWithinWatermark(keys)


def bounded_exact_dedup(
    docs: DataFrame,
    text_col: str = "text",
    event_time: str = "ts",
    delay: str = DEFAULT_DELAY,
) -> DataFrame:
    """q73's streaming exact dedup with bounded state: first copy of each
    content digest inside the watermark horizon survives. Emits
    (digest, event_time)."""
    digested = docs.select(
        F.md5(F.col(text_col)).alias("digest"), F.col(event_time)
    )
    return bounded_dedup(digested, ["digest"], event_time, delay)


def bounded_minhash_buckets(
    docs: DataFrame,
    event_time: str = "ts",
    delay: str = DEFAULT_DELAY,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """q74's streaming near-dup bucket state with bounded state: per-row
    banded MinHash signatures (zero shuffle) → one state row per occupied
    (band_id, band_key) bucket seen within the watermark horizon."""
    from anti_ddos_spark.operators.dedup import minhash_banded_narrow

    banded = minhash_banded_narrow(
        docs, id_col=id_col, text_col=text_col, keep=(event_time,)
    ).select("band_id", "band_key", F.col(event_time))
    return bounded_dedup(banded, ["band_id", "band_key"], event_time, delay)


def bounded_embedding_buckets(
    vectors: DataFrame,
    planes: list[list[float]],
    planes_per_band: int,
    event_time: str = "ts",
    delay: str = DEFAULT_DELAY,
    vec_col: str = "embedding",
) -> DataFrame:
    """q75's streaming semantic near-dup bucket state with bounded state:
    per-row literal-plane sign signatures (zero shuffle) → one state row
    per occupied (band_id, sig) bucket inside the watermark horizon."""
    from anti_ddos_spark.operators.similarity import (
        as_double,
        literal_plane_band_sigs,
    )

    sigs = literal_plane_band_sigs(
        as_double(F.col(vec_col)), planes, planes_per_band
    )
    buckets = vectors.select(
        F.explode(sigs).alias("s"), F.col(event_time)
    ).select("s.band_id", "s.sig", F.col(event_time))
    return bounded_dedup(buckets, ["band_id", "sig"], event_time, delay)
