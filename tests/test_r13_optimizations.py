"""Round-13 optimization pins.

1. hyperplane_signatures was restructured from a crossJoin+groupBy plan
   to a literal per-row projection (one parsed SQL expression). The
   values must be IDENTICAL to the old aggregate form — re-derived here
   inline as the reference — including the null-vector → sig 0 path.
2. session.sized_stream_partitions must apply state_partitions_for for
   the duration of query creation and restore the previous value even
   on error; approx_key_count must be a sane cardinality estimate.
3. lsh_neardup_pairs' verification respread must fire only for small
   local scan inputs (the spread_small_scan gate class).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from anti_ddos_spark.operators.similarity import (
    dot,
    hyperplane_signatures,
)

DIM = 16
N = 30


def _vecs(spark, with_null: bool = False):
    rows = [
        (i, [float(((i * 11 + j * 5) % 17) - 8) / 8.0 for j in range(DIM)])
        for i in range(1, N + 1)
    ]
    if with_null:
        rows.append((N + 1, None))
    return spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>"
    )


def _reference_sigs(df, n_bands, planes_per_band):
    """The pre-r13 crossJoin+groupBy signature computation, re-derived
    inline: broadcast the data planes, one dot per (vector, plane),
    sum of shiftleft bits per (id, band)."""
    from anti_ddos_spark.operators.similarity import as_double

    n_planes = n_bands * planes_per_band
    emb = df.select("vec_id", as_double(F.col("embedding")).alias("e"))
    planes = emb.filter(
        (F.col("vec_id") >= 1) & (F.col("vec_id") <= n_planes)
    ).select(F.col("vec_id").alias("pid"), F.col("e").alias("h"))
    return (
        emb.crossJoin(F.broadcast(planes))
        .withColumn(
            "band_id", F.floor((F.col("pid") - 1) / planes_per_band).cast("int")
        )
        .withColumn("idx", ((F.col("pid") - 1) % planes_per_band).cast("int"))
        .groupBy("vec_id", "band_id")
        .agg(
            F.sum(
                F.when(
                    dot(F.col("e"), F.col("h")) >= 0,
                    F.expr("shiftleft(1, idx)"),
                ).otherwise(0)
            ).alias("sig")
        )
    )


@pytest.mark.parametrize("n_bands,ppb", [(1, 8), (2, 4)])
def test_literal_sigs_match_crossjoin_aggregate_form(spark, n_bands, ppb):
    df = _vecs(spark)
    got = sorted(
        (r["vec_id"], r["band_id"], r["sig"])
        for r in hyperplane_signatures(df, n_bands, ppb, planes="data")
        .select("vec_id", "band_id", "sig")
        .collect()
    )
    want = sorted(
        (r["vec_id"], r["band_id"], r["sig"])
        for r in _reference_sigs(df, n_bands, ppb).collect()
    )
    assert got == want
    assert len(got) == N * n_bands


def test_literal_sigs_null_vector_gets_zero_sig(spark):
    """A null embedding's dots are null → every bit CASE falls to 0 —
    the same sig the old SUM-of-nulls aggregate produced."""
    df = _vecs(spark, with_null=True)
    out = {
        (r["vec_id"], r["band_id"]): r["sig"]
        for r in hyperplane_signatures(df, 2, 4, planes="data")
        .select("vec_id", "band_id", "sig")
        .collect()
    }
    assert out[(N + 1, 0)] == 0 and out[(N + 1, 1)] == 0


def test_plane_id_validation_still_fails_loud(spark):
    df = _vecs(spark).filter(F.col("vec_id") > 3)  # ids 4.. → missing planes
    with pytest.raises(ValueError, match="plane ids must cover"):
        hyperplane_signatures(df, 1, 8, planes="data")


def test_sized_stream_partitions_applies_policy_and_restores(spark):
    from anti_ddos_spark.session import (
        sized_stream_partitions,
        state_partitions_for,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with sized_stream_partitions(spark, 100):
        assert spark.conf.get(key) == str(state_partitions_for(100))
    assert spark.conf.get(key) == before
    with pytest.raises(RuntimeError):
        with sized_stream_partitions(spark, 10**6):
            raise RuntimeError("boom")
    assert spark.conf.get(key) == before  # restored on error too


def test_approx_key_count_sane(spark):
    from anti_ddos_spark.session import approx_key_count

    df = spark.range(1000).select((F.col("id") % 37).alias("k"), "id")
    n = approx_key_count(df, "k")
    assert 30 <= n <= 45  # approx_count_distinct of 37 keys
    n2 = approx_key_count(df, "k", "id")  # composite key
    assert 900 <= n2 <= 1100


def test_neardup_verify_spread_gated_on_local_scan(spark, tmp_path):
    """Small local parquet input → the pair-forming side is hash-spread
    BEFORE the candidate join (r14 shape: the parallelism exchange moved
    from the post-distinct pair set to the O(n·bands) slim pre-join
    rows); an in-memory (non-scan) input → no spread. Either way the
    result set is identical."""
    from anti_ddos_spark.operators.similarity import lsh_neardup_pairs

    df = _vecs(spark)
    path = str(tmp_path / "vecs.parquet")
    df.write.parquet(path)
    scan = spark.read.parquet(path)

    def n_repartition(frame):
        import re

        # repartition(n, col) prints as RepartitionByExpression in the
        # optimized logical plan (hashpartitioning is physical)
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        return len(re.findall(r"RepartitionByExpression", plan))

    spread = lsh_neardup_pairs(scan, 0.0, 2, 4, planes="data")
    unspread = lsh_neardup_pairs(df, 0.0, 2, 4, planes="data")
    assert n_repartition(spread) >= 1
    assert n_repartition(unspread) == 0
    # and the spread must not change the result set
    a = sorted(map(tuple, spread.collect()))
    b = sorted(map(tuple, unspread.collect()))
    assert a == b


def test_neardup_broadcast_gated_on_local_scan(spark, tmp_path):
    """The attach/build sides are broadcast only when the input's leaf
    files are known and fit the gate. A frame with no input files reads
    0 leaf bytes, which says nothing about its size: it gets no hint."""
    from anti_ddos_spark.operators.similarity import lsh_neardup_pairs

    df = _vecs(spark)
    path = str(tmp_path / "vecs.parquet")
    df.write.parquet(path)

    def n_broadcast_hints(frame):
        plan = frame._jdf.queryExecution().analyzed().toString()
        return plan.count("strategy=broadcast")

    assert n_broadcast_hints(lsh_neardup_pairs(df, 0.0, 2, 4, planes="data")) == 0
    scan = spark.read.parquet(path)
    assert n_broadcast_hints(lsh_neardup_pairs(scan, 0.0, 2, 4, planes="data")) == 3


def test_neardup_min_band_dedup_matches_distinct(spark, tmp_path):
    """r14: the candidate `.distinct()` (one full exchange of the pair
    set) was replaced by keeping a pair only at its FIRST colliding
    band. Pin value-parity against an explicit exploded-join+distinct
    re-derivation on a fixture with guaranteed MULTI-band collisions
    (duplicated vectors collide in every band), and no-dup output."""
    from anti_ddos_spark.operators.similarity import (
        as_double,
        cosine,
        hyperplane_signatures,
        lsh_neardup_pairs,
    )

    df = _vecs(spark)
    # duplicate a few vectors under new ids: identical direction ⇒ the
    # pair (i, i+100) collides in BOTH bands and must appear ONCE
    dups = df.filter(F.col("vec_id").isin(3, 7, 11)).select(
        (F.col("vec_id") + 100).alias("vec_id"), "embedding"
    )
    allv = df.unionByName(dups)

    got = lsh_neardup_pairs(allv, 0.1, 2, 4, planes="data")
    rows = got.collect()
    pair_keys = [(r["id_a"], r["id_b"]) for r in rows]
    assert len(pair_keys) == len(set(pair_keys)), "pair emitted per band, not once"
    assert (3, 103) in set(pair_keys), "identical twin pair must survive"

    # reference: the pre-r14 shape — band equi-join then DISTINCT
    sig = hyperplane_signatures(allv, 2, 4, planes="data")
    a, b = sig.alias("a"), sig.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
        .distinct()
    )
    emb = allv.select("vec_id", as_double(F.col("embedding")).alias("e"))
    ref = (
        cand.join(
            emb.select(F.col("vec_id").alias("id_a"), F.col("e").alias("ea")), "id_a"
        )
        .join(
            emb.select(F.col("vec_id").alias("id_b"), F.col("e").alias("eb")), "id_b"
        )
        .select(
            "id_a",
            "id_b",
            (F.floor(cosine(F.col("ea"), F.col("eb")) * 1e6 + F.lit(0.5)) / 1e6).alias("cos"),
        )
        .filter(F.col("cos") >= 0.1)
    )
    assert sorted(map(tuple, rows)) == sorted(map(tuple, ref.collect()))
