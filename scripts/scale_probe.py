"""Scale fixtures and the byte-axis timer behind ``bench.py --sf 10x/100x``.

- ``build_10x``: an id-remapped replication of the sf0.1 ``events`` /
  ``documents`` / ``embeddings`` tables (10x ≈ sf1). Replication keeps
  the SEMANTICS linear too, not just the row count — naive duplication
  would make every row an exact dup and push the near-dup joins
  quadratic:

  - events: user_id (the flow key in events_as_packets) and event_id are
    offset per replica → 10x distinct flows of unchanged length; the
    time span is unchanged, so session windows per user keep their shape.
  - documents: doc_id offset; every word gets a fixed-width per-replica
    tag, so within-replica shingle relationships are preserved while
    cross-replica pairs don't become spurious near-dups.
  - embeddings: vec_id offset; each replica's vectors are multiplied by
    a deterministic per-replica ±1 sign pattern — a diagonal orthogonal
    transform, so within-replica angles (and thus the true near-dup pair
    set) are preserved EXACTLY, while cross-replica cosines are
    sign-randomized to ~0. Near-dup output therefore scales exactly 10x.

- ``build_zipf_documents``: a generated Zipf/Heaps corpus (recall and
  BPE ladders, tests/test_zipf_fixture.py).
- ``build_graded_embeddings``: pairs planted at exact target cosines
  (scripts/embed_scurve.py, tests/test_embed_recall.py).
- ``time_query_with_bytes``: min-of-runs wall clock plus scan and
  shuffle bytes from the Spark status REST API.
- ``neardup_adaptive_params``: the scale-adaptive near-dup probe the
  decade blocks time beside q42.

What the decade measurements found is in PERF.md ("sf1 headroom", the
100x decade and the round-7 tables).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF01 = "/root/testdata/sf0.1"


def neardup_adaptive_params(spark, sf_dir):
    """The near-dup operator under the SCALE-ADAPTIVE parameter policy
    (config.lsh_planes_for): bucket space sized to the corpus so
    occupancy stays ~constant. q42's fixed demo banding saturates at the
    100x decade (measured: disk-spill death, PERF.md); this row is the
    posture a growing corpus actually runs."""
    from anti_ddos_spark.config import lsh_planes_for
    from anti_ddos_spark.operators.similarity import lsh_neardup_pairs
    from anti_ddos_spark.queries.base import t

    emb = t(spark, sf_dir, "embeddings")
    planes = lsh_planes_for(emb.count())
    return lsh_neardup_pairs(emb, 0.8, n_bands=4, planes_per_band=planes)


def build_10x(spark, out_dir: str, replicas: int, tables: tuple[str, ...]) -> None:
    """Write ``replicas`` id-remapped copies of each of ``tables`` from
    sf0.1 to ``out_dir``."""
    from pyspark.sql import functions as F

    rep = F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("replica")
    builders = {
        "events": _build_events,
        "documents": _build_documents,
        "embeddings": _build_embeddings,
    }
    for name in tables:
        builders[name](spark, out_dir, rep)


def _build_events(spark, out_dir: str, rep) -> None:
    from pyspark.sql import functions as F

    ev = spark.read.parquet(os.path.join(SF01, "events.parquet"))
    u_span = ev.agg(F.max("user_id")).collect()[0][0] + 1
    e_span = ev.agg(F.max("event_id")).collect()[0][0] + 1
    (
        ev.select("*", rep)
        .select(
            (F.col("event_id") + F.col("replica") * e_span).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("replica") * u_span).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "events.parquet"))
    )


def _build_documents(spark, out_dir: str, rep) -> None:
    from pyspark.sql import functions as F

    doc = spark.read.parquet(os.path.join(SF01, "documents.parquet"))
    d_span = doc.agg(F.max("doc_id")).collect()[0][0] + 1
    # Replica tag on EVERY word, not a one-word prefix (round 9): a
    # single "r{k} " prefix left cross-replica twins at word-set
    # Jaccard ≈ 0.97 — far above q35's 0.71 banding threshold — so
    # duplicate-cluster SIZE grew with the replica count and the
    # candidate-pair census grew QUADRATICALLY in replicas (the bytes
    # axis caught it: 63× shuffle for 10× docs, PERF.md round 9),
    # violating this module's own "cross-replica pairs don't become
    # spurious near-dups" contract. Prefixing every word applies an
    # injective per-replica map to the vocabulary: within-replica
    # word-set relations (and thus the true near-dup pair set) are
    # preserved EXACTLY, while cross-replica word sets are disjoint.
    # The tag is FIXED-WIDTH ('r' + 3-digit replica) and applied to
    # every replica including 0: variable-width 'r'+k is not
    # prefix-free ('r1'+'2foo' == 'r12'+'foo'), and a verbatim replica
    # could collide with a tagged one on r-digit-leading words — with
    # equal-width tags, equal tagged words force equal replica ids for
    # any corpus over THIS FIXTURE'S ALPHABET (alphanumerics + spaces,
    # which the generated sf-fixture text is). It is NOT
    # corpus-independent: words() splits on non-alphanumerics, so a
    # token like '(foo' would become 'r000(foo' and re-split into
    # 'r000' + 'foo', re-sharing 'foo' across replicas and minting
    # shared bare 'rNNN' words (r9 ADVICE). A word delimiter would not
    # fix that either — 'r1_foo' re-splits the same way; a general
    # corpus would need normalization before tagging.
    tag = F.concat(F.lit("r"), F.lpad(F.col("replica").cast("string"), 3, "0"))
    # empty split tokens (leading/double spaces) are dropped, not tagged:
    # concat(tag, '') would MINT a shared 'r00k' word out of whitespace
    text10 = F.array_join(
        F.transform(
            F.filter(F.split(F.col("text"), " "), lambda w: F.length(w) > 0),
            lambda w: F.concat(tag, w),
        ),
        " ",
    )
    (
        doc.select("*", rep)
        .select(
            (F.col("doc_id") + F.col("replica") * d_span).alias("doc_id"),
            text10.alias("text"),
            "lang",
            "source",
            F.length(text10).cast("long").alias("n_chars"),
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "documents.parquet"))
    )


def _build_embeddings(spark, out_dir: str, rep) -> None:
    from pyspark.sql import functions as F

    emb = spark.read.parquet(os.path.join(SF01, "embeddings.parquet"))
    v_span = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    # per-(replica, dimension) deterministic ±1: diagonal orthogonal map
    signed = F.expr(
        "transform(embedding, (x, i) -> x * cast(1 - 2 * pmod(xxhash64(replica, i), 2) as float))"
    )
    (
        emb.select("*", rep)
        .select(
            (F.col("vec_id") + F.col("replica") * v_span).alias("vec_id"),
            signed.alias("embedding"),
            "label",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "embeddings.parquet"))
    )


# --- Zipf/Heaps synthetic corpus (round-6 verdict task #4) ----------------
#
# The driver's documents fixture has a ~30-word vocabulary, so every
# token-space blocking lever (w=5 n-grams, prefix filters) saturates at
# the 100x decade for fixture reasons, not algorithmic ones (PERF.md
# "token-space saturation" — V stops growing, so candidate pairs per
# bucket grow ~n²/V). Real corpora obey Heaps' law: V(n) ≈ K·n^β with
# β ≈ 0.5. This generator produces a corpus with BOTH properties the
# claims live on:
#
# - Zipf-ish token frequencies: token rank drawn as
#   floor(exp(u · ln(Vmax))) for hash-uniform u — P(rank=r) ∝ 1/r
#   truncated at Vmax (classic inverse-CDF for s=1);
# - Heaps vocabulary growth: Vmax itself is set to
#   ceil(HEAPS_K · sqrt(expected total tokens)), so the attainable
#   vocabulary grows ~n^0.5 by construction and the Zipf draws populate
#   most of it.
#
# ~5% of docs are near-duplicates of their predecessor (same content
# seed, last 3 token slots re-drawn) so the similarity-join probes have
# real pairs to find at every scale. Everything is hash-seeded
# (xxhash64) — no RNG state, identical corpus on every run/executor.

ZIPF_TOKENS_MIN = 40
ZIPF_TOKENS_SPAN = 41  # doc length uniform in [40, 80]
HEAPS_K = 8.0
ZIPF_BASE_DOCS = 50_000  # scale 1.0 ≈ the sf0.1 documents row count


def build_zipf_documents(
    spark, out_dir: str, n_docs: int, graded: bool = False
) -> None:
    """``graded=False`` (default): every planted near-dup redraws its
    last 3 token slots — one high-similarity class, the recall-probe
    corpus (byte-identical to earlier rounds; determinism pinned in
    tests/test_zipf_fixture.py). ``graded=True``: the redraw count
    cycles over (2, 6, 12, 24, 40) by pair index, planting pairs whose
    TRUE word-set Jaccard spans ~0.2-0.95 — the fixture for measuring
    the MinHash banding s-curve empirically against its
    1-(1-s^r)^b theory (scripts/minhash_scurve.py)."""
    import math

    from pyspark.sql import functions as F

    exp_tokens = n_docs * (ZIPF_TOKENS_MIN + ZIPF_TOKENS_SPAN // 2)
    # 26**4: the fixed-width 4-letter encoding below caps the rank space
    vmax = min(456_976, max(1000, int(math.ceil(HEAPS_K * math.sqrt(exp_tokens)))))
    ln_vmax = math.log(vmax)

    df = spark.range(n_docs).withColumnRenamed("id", "doc_id")
    # ~5% near-dups: doc_id % 20 == 19 reuses the previous doc's content
    # seed, with its last d token slots re-drawn from its own id
    content_id = F.when(
        (F.col("doc_id") % 20 == 19) & (F.col("doc_id") > 0),
        F.col("doc_id") - 1,
    ).otherwise(F.col("doc_id"))
    n_toks = (
        F.lit(ZIPF_TOKENS_MIN)
        + F.pmod(F.xxhash64(content_id, F.lit("len")), F.lit(ZIPF_TOKENS_SPAN))
    ).cast("int")

    # token slot j: u = hash(seed, j)/2^20 in [0,1); rank = floor(e^(u·lnV)).
    # The rank is then spelled as a fixed-width base-26 LETTER word: the
    # q34 family shingles CHARACTERS, so a digit spelling ('t1234') would
    # cap V_char at ~12^w and silently re-saturate the very space this
    # corpus exists to grow. With letters, distinct char n-grams track
    # the word vocabulary (measured in the smoke check below the module).
    rank = (
        "cast(floor(exp((pmod(xxhash64({seed}, j), 1048576)"
        f" / 1048576.0d) * {ln_vmax!r})) as int)"
    )
    redraw = (
        "element_at(array(2, 6, 12, 24, 40), "
        "cast(pmod(doc_id div 20, 5) as int) + 1)"
        if graded
        else "3"
    )
    ranks = F.expr(
        "transform(sequence(0, n_toks - 1), j -> "
        f"CASE WHEN is_dup AND j >= n_toks - ({redraw}) "
        f"THEN {rank.format(seed='doc_id')} "
        f"ELSE {rank.format(seed='content_id')} END)"
    )
    tokens = F.expr(
        "transform(ranks, r -> concat("
        "char(97 + (r div 17576) % 26), char(97 + (r div 676) % 26), "
        "char(97 + (r div 26) % 26), char(97 + r % 26)))"
    )
    text = F.array_join(tokens, " ")
    (
        df.withColumn("content_id", content_id)
        .withColumn("is_dup", F.col("doc_id") != F.col("content_id"))
        .withColumn("n_toks", n_toks)
        .withColumn("ranks", ranks)
        .withColumn("text", text)
        .select(
            "doc_id",
            "text",
            F.lit("en").alias("lang"),
            F.concat(
                F.lit("zipf"), F.pmod(F.xxhash64("content_id"), F.lit(10))
            ).alias("source"),
            F.length("text").cast("long").alias("n_chars"),
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "documents.parquet"))
    )


# --- graded-cosine embedding fixture (round-8: r7 verdict task #4) --------
#
# The MinHash family got its s-curve measured in round 7; the embedding
# family (hyperplane-LSH q42/q44, SemDeDup q51) still rested on
# planted-CLUSTER units, which only exercise the s≈1 corner. This
# builder plants PAIRS at graded target cosines so detection can be
# measured across the whole curve against Charikar's sign-bit theory
# (P[one plane agrees] = 1 - θ/π). Construction per planted pair
# (vec_id % 20 == 19 pairs with vec_id - 1, the documents convention):
#
#   b = s · â  +  sqrt(1 - s²) · ŵ⊥
#
# where â is the partner's unit vector and ŵ⊥ a fresh Gaussian
# orthogonalized against â — so cos(a, b) = s EXACTLY (up to float),
# not merely in expectation. Gaussians are hash-seeded Box-Muller
# (xxhash64 → uniform → sqrt(-2 ln u1)·cos(2π u2)): no RNG state,
# identical fixture on every run/executor, fully columnar.

EMBED_GRADES = (0.50, 0.70, 0.80, 0.90, 0.95, 0.99)
EMBED_DIM = 32


def build_graded_embeddings(
    spark, out_dir: str, n_vectors: int, dim: int = EMBED_DIM
) -> None:
    import math

    from pyspark.sql import functions as F

    def gauss(seed_col: str, salt: str) -> str:
        """array<double> of `dim` hash-seeded standard normals."""
        u = (
            f"(pmod(xxhash64({seed_col}, '{salt}', j), 1048575) + 1) "
            "/ 1048576.0d"
        )
        u2 = (
            f"(pmod(xxhash64({seed_col}, '{salt}2', j), 1048576)) "
            "/ 1048576.0d"
        )
        return (
            f"transform(sequence(0, {dim - 1}), j -> "
            f"sqrt(-2.0d * ln({u})) * cos({2 * math.pi!r} * {u2}))"
        )

    grades = ", ".join(repr(g) for g in EMBED_GRADES)
    raw_path = os.path.join(out_dir, "_raw_gauss.parquet")
    # STAGE 1 — materialize the raw hash-Gaussians. The derivation below
    # nests â inside ŵ⊥ inside b; Catalyst collapses projections by
    # substitution, so if g/w were still the (large) hash expressions
    # the codegen tree would blow up exponentially (measured: Java-heap
    # OOM at 20k×32). With g/w as READ columns the nesting is a few
    # hundred ops.
    (
        spark.range(n_vectors)
        .withColumnRenamed("id", "vec_id")
        .withColumn(
            "is_pair",
            (F.col("vec_id") % 20 == 19) & (F.col("vec_id") > 0),
        )
        .withColumn(
            "base_id",
            F.when(F.col("is_pair"), F.col("vec_id") - 1).otherwise(
                F.col("vec_id")
            ),
        )
        .withColumn("g", F.expr(gauss("base_id", "base")))
        .withColumn("w", F.expr(gauss("vec_id", "w")))
        .withColumn(
            "s",
            F.expr(
                f"element_at(array({grades}), "
                "cast(pmod(vec_id div 20, "
                f"{len(EMBED_GRADES)}) as int) + 1)"
            ),
        )
        .select("vec_id", "is_pair", "g", "w", "s")
        .repartition(32)
        .write.mode("overwrite")
        .parquet(raw_path)
    )
    # STAGE 2 — b = s·â + √(1-s²)·ŵ⊥ from materialized columns
    df = spark.read.parquet(raw_path)
    unit = "transform({v}, x -> x / sqrt(aggregate({v}, 0.0d, (acc, y) -> acc + y * y)))"
    a_hat = unit.format(v="g")
    w_dot_a = f"aggregate(zip_with(w, {a_hat}, (wi, ai) -> wi * ai), 0.0d, (acc, y) -> acc + y)"
    w_perp = f"zip_with(w, {a_hat}, (wi, ai) -> wi - ({w_dot_a}) * ai)"
    w_hat = unit.format(v=f"({w_perp})")
    paired = (
        f"zip_with({a_hat}, {w_hat}, "
        "(ai, wi) -> s * ai + sqrt(1.0d - s * s) * wi)"
    )
    emb = F.when(F.col("is_pair"), F.expr(paired)).otherwise(
        F.expr(a_hat)
    )
    (
        df.withColumn("emb", emb)
        .select(
            "vec_id",
            F.expr("transform(emb, x -> cast(x as float))").alias(
                "embedding"
            ),
            F.when(F.col("is_pair"), F.col("s"))
            .otherwise(F.lit(None))
            .alias("target_cos"),
        )
        .withColumn("label", F.lit("graded"))
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "embeddings.parquet"))
    )
    import shutil

    shutil.rmtree(raw_path, ignore_errors=True)


# --- engine-invariant byte metrics (round 9, r8 verdict task #5) -----------
#
# The decade blocks' wall clock is page-cache-state bound at 100x (the
# identical-code spread measured 86.8-125.7 s in r8), so BENCH_SCALE
# blocks also record bytes READ and shuffle bytes WRITTEN per query —
# deterministic functions of the plan and data, immune to cache state —
# via the Spark status REST API (the session must be built with
# spark.ui.enabled=true; bench.py's decade runner does).


def _rest(spark, path: str):
    import urllib.request

    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return None
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app}/{path}", timeout=10
    ) as r:
        return json.load(r)


def stage_totals(spark) -> dict[str, int]:
    """Sum shuffle bytes across all completed stages so far. (Stage
    ``inputBytes`` is NOT summed: with the vectorized parquet reader on
    file:// it underreports ~100× — measured 193 KB for a 21 MB full
    scan — because the Hadoop FileSystem.Statistics the metric reads
    are not fed by that path; scan bytes come from the SQL-execution
    metrics instead, ``sql_scan_bytes``.)"""
    stages = _rest(spark, "stages?status=complete")
    if stages is None:
        return {}
    out = {"shuffle_write_bytes": 0, "shuffle_read_bytes": 0}
    for s in stages:
        out["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
        out["shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
    return out


_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _parse_size(s: str) -> float:
    parts = s.strip().split()
    if len(parts) == 2 and parts[1] in _SIZE_UNITS:
        return float(parts[0]) * _SIZE_UNITS[parts[1]]
    try:
        return float(s.replace(",", ""))
    except ValueError:
        return 0.0


def _sql_execs(spark, query: str) -> list:
    """Page the SQL REST endpoint to exhaustion (r9 ADVICE: a fixed
    length=1000 window truncates once the UI retains more executions
    than one page — bench.py now raises retainedExecutions, which makes
    single-page reads WORSE, not better, without this)."""
    out, offset, page = [], 0, 1000
    while True:
        batch = _rest(spark, f"sql?{query}&offset={offset}&length={page}") or []
        out.extend(batch)
        if len(batch) < page:
            return out
        offset += page


def max_sql_id(spark) -> int:
    execs = _sql_execs(spark, "details=false")
    return max((e["id"] for e in execs), default=-1)


def sql_scan_bytes(spark, after_id: int) -> int:
    """Sum 'size of files read' over SQL executions newer than
    ``after_id`` — the scan's own metric, correct where stage
    inputBytes is not."""
    execs = _sql_execs(spark, "details=true&planDescription=false")
    total = 0.0
    for e in execs:
        if e["id"] <= after_id:
            continue
        for n in e.get("nodes", []):
            for m in n.get("metrics", []):
                if m["name"] == "size of files read":
                    total += _parse_size(m["value"])
    return int(total)


def time_query_with_bytes(spark, fn, sf_dir: str, runs: int) -> dict:
    """Min-of-runs seconds after one warm run (steady-state wall clock)
    and the LAST run's byte deltas (bytes are plan-determined and
    run-invariant, so any run's delta is the number)."""
    from pyspark.sql import functions as F

    def once() -> float:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.agg(F.count(F.lit(1)), F.max(F.xxhash64(*df.columns))).collect()
        return time.perf_counter() - t0

    once()  # warm: codegen + AQE plan at this size
    secs = [once() for _ in range(max(runs - 1, 0))]
    before = stage_totals(spark)
    sql_before = max_sql_id(spark)
    secs.append(once())
    after = stage_totals(spark)
    rec = {"sec": round(min(secs), 3)}
    if before and after:
        rec["input_mb"] = round(sql_scan_bytes(spark, sql_before) / 1e6, 2)
        for k in before:
            rec[k.replace("_bytes", "_mb")] = round(
                (after[k] - before[k]) / 1e6, 2
            )
    return rec

