"""Similarity search over embedding columns (array<float>).

Training-data-pipeline extension (no analogue in the reference). Two
strategies, both Catalyst-native (higher-order array expressions — the
dot product folds inside codegen, no Python):

- brute-force: broadcast the query vector(s), score every row, top-k.
  The right baseline ≤ ~10⁸ vectors/executor-scan; one pass, no shuffle
  except the final top-k (which is a partial+global TakeOrdered).
- IVF (inverted-file): assign rows to the nearest of C centroids
  (broadcast), then search only matching cells — at 100 TB the cell
  assignment becomes a partition key so a probe touches 1/C of the data.
  Centroid learning is delegated to MLlib KMeans when quality matters;
  here any fixed seed set works for the plumbing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Ordered left fold — bitwise-stable across engines for the oracle."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    d = dot(a, b)
    na, nb = norm(a), norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb)).otherwise(F.lit(0.0))


def _sql_double(x: float) -> str:
    """A double literal as SQL, exact to the bit: ``repr`` round-trips
    the shortest decimal that re-parses to the same IEEE double, and a
    string→DOUBLE cast is correctly rounded (constant-folded at plan
    time). A bare ``1.5`` literal would parse as DECIMAL in Spark SQL."""
    return f"CAST('{x!r}' AS DOUBLE)"


def _dot_lit_sql(vec_sql: str, h: list[float]) -> str:
    """SQL text of dot(vec, literal plane) — the SAME ordered
    zip_with/aggregate fold as dot() above (value-identical), emitted
    as a string so an n_planes×dim plane set costs ONE expr() parse
    instead of thousands of py4j Column round-trips (measured r13:
    building 8×64 literal arrays via F.lit cost ~3 s of driver time per
    call; the parsed string form is ~60 ms)."""
    arr = "array(" + ", ".join(_sql_double(x) for x in h) + ")"
    return (
        f"aggregate(zip_with({vec_sql}, {arr}, (x, y) -> x * y), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def literal_band_sigs_sql(
    vec_sql: str, planes: list[list[float]], planes_per_band: int
) -> str:
    """SQL text of the banded sign signatures of ``vec_sql`` against a
    literal plane set: ``array<struct<band_id:int, sig:bigint>>``.

    Value-identical to the crossJoin+groupBy form (same dot fold, same
    CASE-on-null-dot → 0 bit, same integer sum per band) but a PURE
    PER-ROW projection: no plane broadcast, no 8× row blow-up, no
    groupBy exchange — the signature stage of the LSH family collapses
    to zero shuffles (guide §2.4). One expr() parse per call."""
    if len(planes) % planes_per_band:
        raise ValueError("len(planes) must be a multiple of planes_per_band")
    n_bands = len(planes) // planes_per_band
    structs = []
    for b in range(n_bands):
        terms = []
        for i in range(planes_per_band):
            h = planes[b * planes_per_band + i]
            dot_s = _dot_lit_sql(vec_sql, h)
            terms.append(
                f"(CASE WHEN ({dot_s}) >= 0 THEN CAST({1 << i} AS BIGINT) "
                f"ELSE CAST(0 AS BIGINT) END)"
            )
        structs.append(
            f"named_struct('band_id', CAST({b} AS INT), 'sig', "
            + " + ".join(terms)
            + ")"
        )
    return "array(" + ", ".join(structs) + ")"


def literal_plane_band_sigs(
    vec: Column, planes: list[list[float]], planes_per_band: int
) -> Column:
    """Banded hyperplane sign signatures against planes FIXED AT BUILD
    TIME, as an ``array<struct<band_id:int, sig:long>>`` expression.

    The planes are plain Python floats baked into the plan as literals —
    no join, no broadcast variable, zero shuffle — so the expression is
    legal on an unbounded stream ahead of stateful dedup. This is the
    shared signature kernel of q75 (queries/streamops.py) and the
    bounded-state near-dup filter (streaming/dedup_stream.py); the batch
    twin with data-derived planes is hyperplane_signatures below.
    """
    if len(planes) % planes_per_band:
        raise ValueError("len(planes) must be a multiple of planes_per_band")
    n_bands = len(planes) // planes_per_band

    def band_sig(b: int) -> Column:
        bits = None
        for i in range(planes_per_band):
            h = planes[b * planes_per_band + i]
            hit = F.when(
                dot(vec, F.array(*[F.lit(x) for x in h])) >= 0,
                F.lit(1 << i).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            bits = hit if bits is None else bits + hit
        return bits

    return F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band_id"),
                band_sig(b).alias("sig"),
            )
            for b in range(n_bands)
        ]
    )


def brute_force_topk(
    vectors: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbours of one stored vector, excluding itself."""
    q = (
        vectors.filter(F.col(id_col) == query_id)
        .select(as_double(F.col(vec_col)).alias("qvec"))
    )
    scored = (
        vectors.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            cosine(as_double(F.col(vec_col)), F.col("qvec")).alias("cos"),
        )
    )
    return scored.orderBy(F.desc("cos"), F.asc(id_col)).limit(k)


def gaussian_planes(spark, n_planes: int, dim: int, seed: int = 7) -> DataFrame:
    """Seeded i.i.d. Gaussian hyperplanes (pid 1..n_planes, h) — the
    production plane set for sign-bit LSH (Charikar STOC'02 simhash for
    cosine: random Gaussian directions give P[sign differs] = θ/π).

    Data rows as planes (the oracle-deterministic default below) are
    mutually correlated on real embedding corpora, which skews bucket
    occupancy; independent Gaussians restore the uniform-bucket analysis.
    Driver-side numpy generation is n_planes×dim floats — trivially
    broadcastable, never data-dependent."""
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = [
        (i + 1, [float(x) for x in rng.normal(size=dim)]) for i in range(n_planes)
    ]
    return spark.createDataFrame(rows, "pid: long, h: array<double>")


def _resolve_plane_vectors(
    emb: DataFrame,
    n_bands: int,
    planes_per_band: int,
    id_col: str,
    planes: DataFrame | str | None,
) -> list[list[float]]:
    """Resolve the hyperplane set to a plane-ordered list of Python
    float vectors (the literal-projection build input shared by
    hyperplane_signatures and lsh_neardup_pairs). ``emb`` is the
    (id, e double[]) frame; ``planes`` as in hyperplane_signatures.

    The collect is a build-time k-bounded driver action (it replaces
    the old count() guard and additionally validates the ids are
    exactly 1..n). A sparse/offset id space silently yields FEWER
    planes, shrinking every signature and inflating collisions with no
    error — fail loud instead; same for a null plane vector or null
    element, which the old crossJoin form silently scored as a 0 bit
    (r13 ADVICE: name the bad pid instead of a bare TypeError)."""
    n_planes = n_bands * planes_per_band
    if planes is None:
        from anti_ddos_spark.config import QUALITY_DEFAULTS

        planes = "gaussian" if QUALITY_DEFAULTS else "data"
    if isinstance(planes, str):
        if planes == "gaussian":
            head = emb.select(F.size("e")).head()
            if head is None:
                raise ValueError("cannot infer dim from an empty vector table")
            planes = gaussian_planes(emb.sparkSession, n_planes, int(head[0]))
        elif planes == "data":
            planes = emb.filter(
                (F.col(id_col) >= 1) & (F.col(id_col) <= n_planes)
            ).select(F.col(id_col).alias("pid"), F.col("e").alias("h"))
        else:
            raise ValueError(f"unknown planes mode {planes!r}")
    rows = planes.select("pid", "h").collect()
    if len(rows) != n_planes or sorted(r["pid"] for r in rows) != list(
        range(1, n_planes + 1)
    ):
        raise ValueError(
            f"expected {n_planes} hyperplanes, found {len(rows)} — "
            f"plane ids must cover 1..{n_planes} (or pass an explicit "
            "planes DataFrame, e.g. gaussian_planes())"
        )
    by_pid = {}
    for r in rows:
        if r["h"] is None or any(x is None for x in r["h"]):
            raise ValueError(
                f"hyperplane pid={r['pid']} has a null vector/element — "
                "literal planes must be fully defined"
            )
        by_pid[int(r["pid"])] = [float(x) for x in r["h"]]
    return [by_pid[p] for p in range(1, n_planes + 1)]


def hyperplane_signatures(
    vectors: DataFrame,
    n_bands: int,
    planes_per_band: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: DataFrame | str | None = None,
) -> DataFrame:
    """(id, e, band_id, sig): per-band sign-bit LSH signatures.

    ``planes`` selects the hyperplane set:
    - None (default): production-quality seeded Gaussian planes when
      config.QUALITY_DEFAULTS is on (the default), else ``"data"``;
    - ``"gaussian"``: seeded i.i.d. Gaussian planes (gaussian_planes);
    - ``"data"``: the table's leading vectors 1..n_bands*planes_per_band
      — deterministic, what the DuckDB oracle replicates without RNG;
    - a DataFrame (pid 1..n, h): explicit planes, used as-is.
    Scale shape (r13): the k-bounded plane set is COLLECTED (k rows —
    same driver-action class as the old count() guard) and baked into
    the plan as literals, so the signature is a pure per-row projection:
    no plane broadcast, no k× crossJoin blow-up, no groupBy exchange
    (guide §2.4 — the old form paid one full shuffle of (id, band, e)
    rows here). Values are identical: same dot fold per plane, same
    bit weights, same integer sum per band (the old groupBy additionally
    merged duplicate ids' votes into one garbage signature; ids are
    unique in every supported corpus, and the DuckDB oracles group the
    same way). Downstream candidate joins stay equi-joins on
    (band, sig), never an all-pairs product.
    """
    emb = vectors.select(F.col(id_col), as_double(F.col(vec_col)).alias("e"))
    plane_vecs = _resolve_plane_vectors(
        emb, n_bands, planes_per_band, id_col, planes
    )
    sig_expr = F.expr(literal_band_sigs_sql("e", plane_vecs, planes_per_band))
    return emb.select(
        F.col(id_col), F.col("e"), F.inline(sig_expr)
    ).select(id_col, "band_id", "sig", "e")


def lsh_neardup_pairs(
    vectors: DataFrame,
    threshold: float,
    n_bands: int,
    planes_per_band: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    planes: DataFrame | str | None = None,
) -> DataFrame:
    """Cosine near-duplicate pairs: banded hyperplane-LSH candidate
    generation + exact cosine verification on candidates only.

    Replaces all-pairs comparison with per-band signature equi-joins —
    the only sub-O(n²) shape at corpus scale; a pair is a candidate when
    it collides in ≥1 band, then exact cosine (computed on the original
    vectors) keeps only pairs ≥ threshold. ``planes`` as in
    hyperplane_signatures (default: quality Gaussian planes).

    Scale shape (r14, guide §2.3/§2.4/§8 — "every shuffle but the last
    operates on a lightweight proxy"): the r13 form deduplicated
    multi-band collisions with ``.distinct()`` — ONE FULL EXCHANGE OF
    THE PAIR SET, the single largest shuffle in the operator family
    (measured at the 10× replication: 183 MB of q42's shuffle was this
    exchange; at saturation it is O(n²/2) rows). Now both join sides
    carry their banded signature ARRAY and a pair is kept only at its
    FIRST colliding band (``array_position`` over the zipped sig
    arrays == band_id+1) — exactly one surviving row per candidate
    pair, value-identical to the distinct, zero pair-set shuffle. The
    pair-forming side is hash-spread BEFORE the join when its scan is
    starved (dedup.spread_small_scan semantics: O(n·bands) slim rows,
    no-op on corpus-sized inputs), so candidate generation + min-band
    dedup + cosine verification all run fused in that spread's
    partitions; this replaces r13's post-distinct pair respread (which
    re-shuffled the pair set and had to be saturation-gated). NOTE:
    spread/broadcast gating reads leaf-file bytes (local_scan_bytes),
    so ``vectors`` should be a column projection of a scan — a frame
    DERIVED from a small file but with exploded cardinality would pass
    the gates on bytes unrelated to its own row count (r13 ADVICE).

    Vector attach (guide §3.1): when the corpus' leaf bytes fit the
    broadcast gate (SPARK_GRAFT_LSH_BCAST_MB, default 256 MB — sized so
    the built relation stays in the low hundreds of MB; parameterise up
    on big-memory clusters), the (id, e, nrm) sides are broadcast
    explicitly, so candidate pairs NEVER re-shuffle carrying dim-wide
    vectors (the planner's own estimate stops firing past ~10 MB files
    and silently degraded the attach to sort-merge joins that shipped
    a vector per pair — 2.7 GB of shuffle at the 100× decade). Past
    the gate the joins degrade to the planner's shuffle strategy,
    which is the correct call once the corpus itself is huge."""
    import os as _os

    from anti_ddos_spark.operators.dedup import local_scan_bytes, spread_small_scan

    emb0 = vectors.select(F.col(id_col), as_double(F.col(vec_col)).alias("e"))
    plane_vecs = _resolve_plane_vectors(
        emb0, n_bands, planes_per_band, id_col, planes
    )
    sig_sql = literal_band_sigs_sql("e", plane_vecs, planes_per_band)

    # inline_outer, not inline: the sig array is never empty (n_bands
    # literal structs by construction), but plain inline triggers
    # Catalyst's InferFiltersFromGenerate, which re-derives the WHOLE
    # plane-fold array inside a size(...)>0 filter pushed below the
    # spread exchange — doubling the signature compute in the (narrow)
    # scan stage. The outer generate skips that rule; on a (impossible)
    # empty array it would emit null band/sig, which the equi-join
    # drops anyway.
    # Only the PROBE side is spread; sharing the spread exchange with
    # the b (broadcast-build) side was measured WORSE at the 100×
    # decade (17.5 vs 15.9 s, shuffle-read doubled — both consumers
    # re-read the exchange, and the build side's sig folds were not the
    # wall). Negative result kept here so it isn't retried.
    a = (
        spread_small_scan(emb0, id_col)
        .select(F.col(id_col).alias("id_a"), F.expr(sig_sql).alias("_sa"))
        .select("id_a", "_sa", F.inline_outer(F.col("_sa")))
    )
    b = (
        emb0.select(F.col(id_col).alias("id_b"), F.expr(sig_sql).alias("_sb"))
        .select("id_b", "_sb", F.inline_outer(F.col("_sb")))
        .select(
            "id_b",
            "_sb",
            F.col("band_id").alias("_band_b"),
            F.col("sig").alias("_sig_b"),
        )
    )
    bcast_cap = int(_os.environ.get("SPARK_GRAFT_LSH_BCAST_MB", "256")) << 20
    total = local_scan_bytes(vectors, cap=bcast_cap)
    if total:
        b = F.broadcast(b)
    first_collide = F.array_position(
        F.zip_with(
            F.col("_sa"), F.col("_sb"), lambda x, y: x["sig"] == y["sig"]
        ),
        True,
    )
    cand = (
        a.join(
            b,
            (F.col("band_id") == F.col("_band_b"))
            & (F.col("sig") == F.col("_sig_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .filter(first_collide == F.col("band_id") + 1)
        .select("id_a", "id_b")
    )
    # norms precomputed once per VECTOR, not once per pair: higher-order
    # folds (aggregate/zip_with) run interpreted, so the per-pair cosine
    # must be the single dot-product fold — recomputing both norms per
    # candidate tripled the interpreted work (measured ~35% of q42)
    emb = emb0.withColumn("nrm", norm(F.col("e")))
    ea = emb.select(
        F.col(id_col).alias("id_a"), F.col("e").alias("ea"), F.col("nrm").alias("na")
    )
    eb = emb.select(
        F.col(id_col).alias("id_b"), F.col("e").alias("eb"), F.col("nrm").alias("nb")
    )
    if total:
        ea, eb = F.broadcast(ea), F.broadcast(eb)
    pairs = cand.join(ea, "id_a").join(eb, "id_b")
    raw = F.when(
        (F.col("na") > 0) & (F.col("nb") > 0),
        dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")),
    ).otherwise(F.lit(0.0))
    p = 10**round_dp
    cos = F.floor(raw * p + F.lit(0.5)) / F.lit(float(p))
    return pairs.select("id_a", "id_b", cos.alias("cos")).filter(
        F.col("cos") >= threshold
    )


def _probe_masks(n_planes: int, hamming: int) -> list[int]:
    """All XOR masks within the probe Hamming radius (mask 0 first)."""
    from itertools import combinations

    masks = []
    for r in range(hamming + 1):
        for bits in combinations(range(n_planes), r):
            masks.append(sum(1 << b for b in bits))
    return masks


def lsh_ann_topk(
    vectors: DataFrame,
    query_id: int,
    k: int = 10,
    n_planes: int = 16,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: DataFrame | str | None = None,
) -> DataFrame:
    """Multi-probe hyperplane-LSH ANN top-k.

    The query probes every bucket within ``probe_hamming`` bit flips of
    its own signature (the standard multi-probe recall recovery — 17
    buckets at 16 planes/radius 1) via an exploded broadcast equi-join on
    the bucket id; exact cosine ranks the candidates. Scanned fraction
    ≈ n_probes / 2^n_planes of the corpus instead of 1. ``planes`` as in
    hyperplane_signatures (default: quality Gaussian planes)."""
    sig = hyperplane_signatures(
        vectors, 1, n_planes, id_col, vec_col, planes=planes
    ).select(id_col, "sig", "e")
    masks = _probe_masks(n_planes, probe_hamming)
    q = sig.filter(F.col(id_col) == query_id).select(
        F.explode(
            F.array(*[F.col("sig").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("pb"),
        F.col("e").alias("qe"),
    )
    cands = sig.join(F.broadcast(q), sig.sig == F.col("pb")).filter(
        F.col(id_col) != query_id
    )
    scored = cands.select(id_col, cosine(F.col("e"), F.col("qe")).alias("cos"))
    return scored.orderBy(F.desc("cos"), F.asc(id_col)).limit(k)


def ivf_topk(
    vectors: DataFrame,
    query_id: int,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: probe the ``nprobe`` nearest cells, exact cosine
    inside them.

    The recall/latency dial every IVF index exposes: nprobe=1 scans
    ~1/C of the corpus and misses neighbours assigned to adjacent
    cells; nprobe=C degenerates to brute force. Scale shape: the
    embedding rides along through the assignment window, so after the
    probe filter (broadcast of nprobe centroid ids) scoring needs NO
    join back to the corpus — one shuffle total (the per-vector argmax
    window), everything else broadcast-bounded. In a materialized IVF
    index the assignment is precomputed and partitioned by cell, and
    this query is a partition-pruned scan.
    """
    emb = vectors.select(F.col(id_col), as_double(F.col(vec_col)).alias("e"))
    cents = emb.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("centroid_id"), F.col("e").alias("cvec")
    )
    q = emb.filter(F.col(id_col) == query_id).select(F.col("e").alias("qvec"))
    probed = (
        cents.crossJoin(F.broadcast(q))
        .select("centroid_id", cosine(F.col("cvec"), F.col("qvec")).alias("ccos"))
        .orderBy(F.desc("ccos"), F.asc("centroid_id"))
        .limit(nprobe)
        .select("centroid_id")
    )
    from pyspark.sql import Window as W

    scored = emb.crossJoin(F.broadcast(cents)).select(
        id_col, "e", "centroid_id",
        cosine(F.col("e"), F.col("cvec")).alias("ccos"),
    )
    w = W.partitionBy(id_col).orderBy(F.desc("ccos"), F.asc("centroid_id"))
    assigned = (
        scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    )
    cands = assigned.join(F.broadcast(probed), "centroid_id").filter(
        F.col(id_col) != query_id
    )
    out = cands.crossJoin(F.broadcast(q)).select(
        F.col(id_col), cosine(F.col("e"), F.col("qvec")).alias("cos")
    )
    return out.orderBy(F.desc("cos"), F.asc(id_col)).limit(k)


def _literal_centroids(spark, centroids: list[list[float]]) -> DataFrame:
    """k learned centers (e.g. kmeans_train's) as a (cid, cvec) frame."""
    rows = [(j, [float(x) for x in c]) for j, c in enumerate(centroids)]
    return spark.createDataFrame(rows, "cid: long, cvec: array<double>")


def ivf_build_index(
    vectors: DataFrame,
    path: str,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | str | None = None,
    membership_nprobe: int | None = None,
) -> None:
    """Materialize the IVF index: vectors written as parquet PARTITIONED
    BY centroid_id, plus a tiny ``<path>_centroids`` sidecar holding the
    centroid vectors. This is the 100 TB form of IVF — the cell is a
    physical partition, so a probe becomes partition pruning at the scan
    (only nprobe/C of the files are ever opened) instead of a filter
    over a full scan; probe SELECTION reads only the k-row sidecar,
    never the index. Assignment routes through ``_assign_cells``
    (round 10): scores on a NARROW (id, vector) frame — map-side-
    combined ``max_by`` at nprobe=1 — then one join back, instead of
    shuffling every payload row k times through the ranking window.
    The sidecar also pins the build's n_centroids: search reads it back
    instead of trusting the caller to repeat the number (a mismatched
    count silently collapses recall otherwise).

    ``centroids`` selects the cell structure:
    - None (default): k-means-learned centers when config.QUALITY_DEFAULTS
      is on (the default) — the index you'd ship; else ``"data"``;
    - ``"learned"``: kmeans_train(k=n_centroids) centers;
    - ``"data"``: the table's leading vectors — deterministic plumbing
      for the oracle fixtures;
    - a list of k vectors: explicit (e.g. a previous kmeans_train run).
    Assignment stays max-cosine either way (on the unit-normalized
    corpora embeddings live on, euclidean k-means centers rank
    identically by cosine — spherical k-means).

    ``membership_nprobe`` (round 8): >1 writes DUPLICATED POSTINGS —
    each vector lands in its top-N cells' partitions with an
    ``is_primary`` flag (rank 1 = the classic assignment). That is the
    standard multi-probe materialization: the near-dup membership join
    and a probed search stay PARTITION-PRUNED (a boundary vector is
    physically present in the runner-up cell), at ×N index size.

    Default (round 9): ``None`` resolves to 2 under
    config.QUALITY_DEFAULTS — the round-8 s-curve measured single-cell
    membership as a RECALL CEILING (~0.74 for τ-eligible s=0.95 pairs
    at 16 cells) that nprobe=2 recovers to ~0.96, so the index a bare
    call ships is the measured-better one; pass 1 explicitly for the
    single-posting layout (what the oracle fixtures pin)."""
    emb = vectors.withColumn("_e", as_double(F.col(vec_col)))
    from anti_ddos_spark.config import QUALITY_DEFAULTS

    if membership_nprobe is None:
        membership_nprobe = 2 if QUALITY_DEFAULTS else 1
    if centroids is None:
        centroids = "learned" if QUALITY_DEFAULTS else "data"
    if centroids == "learned":
        centroids, _inertia = kmeans_train(
            vectors, k=n_centroids, id_col=id_col, vec_col=vec_col
        )
    if isinstance(centroids, str):
        if centroids != "data":
            raise ValueError(f"unknown centroids mode {centroids!r}")
        cents = emb.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("cid"), F.col("_e").alias("cvec")
        )
    else:
        cents = _literal_centroids(vectors.sparkSession, centroids)
    assigned = _assign_cells(
        vectors, cents, membership_nprobe, id_col, vec_col
    )
    (
        assigned.repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(path)
    )
    cents.withColumnRenamed("cvec", "cvec_d").write.mode("overwrite").parquet(
        path + "_centroids"
    )
    if membership_nprobe > 1:
        # layout marker for ivf_append_index: an append to a
        # duplicated-postings index must write matching postings, or
        # its rows would carry a null is_primary and silently drop out
        # of the primary side
        import json as _json

        with open(path + "_layout.json", "w") as f:
            _json.dump({"membership_nprobe": membership_nprobe}, f)
    # build-time health baseline for the drift monitor (r11 verdict
    # task #7): one column-pruned aggregate over the fresh index —
    # per-cell occupancy + mean intra-cell cosine. Maintenance
    # (append/apply_changes) deliberately leaves this file alone: it
    # IS the build-time reference the monitor compares against.
    import json as _json

    stats = _ivf_index_stats(vectors.sparkSession, path, vec_col)
    with open(path + "_stats.json", "w") as f:
        _json.dump({**stats, "id_col": id_col, "vec_col": vec_col}, f)


def _read_index_layout(spark, path: str):
    """(centroids df, membership_nprobe) for a materialized index —
    the k-row sidecar plus the duplicated-postings marker."""
    import json as _json
    import os as _os

    cents = spark.read.parquet(path + "_centroids").withColumnRenamed(
        "cvec_d", "cvec"
    )
    nprobe = 1
    if _os.path.exists(path + "_layout.json"):
        with open(path + "_layout.json") as f:
            nprobe = int(_json.load(f).get("membership_nprobe", 1))
    return cents, nprobe


# Assignment scoring engine (r10 verdict task #5). "expr" is the
# zero-Python Catalyst form; "blas" scores each Arrow batch with ONE
# numpy matmul against the broadcast centroid matrix inside
# mapInPandas — the adjudicated vectorized exception class, same
# (cos desc, cid asc) ordering. Measured at 1M×256
# (scripts/ivf_assign_blas_probe.py, PERF.md round 11): assignments
# BYTE-IDENTICAL; assignment stage 200.5 → 2.6 s (77×), full build
# 105.5 → 4.8 s (22×) — far past the <2× keep-expression rule, so the
# matmul ships as the default. "expr" remains selectable per call for
# environments without Arrow Python workers.
#
# Parity caveat (round-12): blas/expr byte-identity is EMPIRICAL, not
# guaranteed — numpy's matmul reduction order varies across BLAS builds
# (OpenBLAS/MKL/ARM), so a last-ulp cosine difference could in
# principle flip a (cos desc, cid asc) winner on a different host. The
# evidence: xxhash equality at 1M×256 plus nprobe 1/2/3 parity AND an
# adversarial near-tie fixture (two centroids at ulp-equal cosine —
# tie-break pinned to the lowest cid on both paths) in
# tests/test_ivf_index.py. When debugging an oracle-hash mismatch on
# new hardware, rerun with scoring="expr" per call to isolate the BLAS
# variance before suspecting the plan.
IVF_ASSIGN_SCORING = "blas"


def _blas_assign(
    narrow: DataFrame, cents: DataFrame, nprobe: int, id_col: str
) -> DataFrame | None:
    """BLAS-batch scoring of ``narrow`` (id, _e) against the centroid
    matrix: one numpy matmul per Arrow batch. The centroid collect is
    bounded by k (≤ 4096 under buckets_for-scale cell counts; the
    sidecar is KB-sized by design). Ordering parity with the
    expression form: ties broken by ascending cid — centroid columns
    are laid out in ascending cid order, and both argmax (first
    maximum) and the stable argsort keep the lowest column index on
    equal cosine. Zero-norm vectors and zero-norm centroids score 0.0,
    replicating cosine()'s guard."""
    import numpy as np
    from pyspark.sql.types import BooleanType, StructField, StructType

    rows = cents.select("cid", "cvec").orderBy("cid").collect()
    if not rows:
        # empty centroid set: np.stack/matmul would shape-error here —
        # signal the caller to degrade to the expression path, whose
        # crossJoin with zero centroids yields zero assignments
        return None
    cids = np.array([r["cid"] for r in rows])
    C = np.array([r["cvec"] for r in rows], dtype=np.float64)
    cn = np.linalg.norm(C, axis=1)
    cn_safe = np.where(cn > 0, cn, 1.0)
    Cn = (C / cn_safe[:, None]).T.copy()  # (dim, k), unit columns
    dead = cn <= 0

    id_field = narrow.schema[id_col]
    cid_type = cents.schema["cid"].dataType
    if nprobe == 1:
        out_schema = StructType(
            [id_field, StructField("centroid_id", cid_type, True)]
        )
    else:
        out_schema = StructType(
            [
                id_field,
                # non-nullable to match the expression path's
                # (_rn == 1) comparison schema exactly
                StructField("is_primary", BooleanType(), False),
                StructField("centroid_id", cid_type, True),
            ]
        )

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["_e"].to_numpy()).astype(np.float64)
            vn = np.linalg.norm(V, axis=1)
            cos = (V / np.where(vn > 0, vn, 1.0)[:, None]) @ Cn
            cos[vn <= 0, :] = 0.0
            if dead.any():
                cos[:, dead] = 0.0
            if nprobe == 1:
                best = cos.argmax(axis=1)  # first max = lowest cid
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].to_numpy(),
                        "centroid_id": cids[best],
                    }
                )
            else:
                k = min(nprobe, cos.shape[1])
                idx = np.argsort(-cos, axis=1, kind="stable")[:, :k]
                n = len(pdf)
                yield pd.DataFrame(
                    {
                        id_col: np.repeat(pdf[id_col].to_numpy(), k),
                        "is_primary": np.tile(
                            np.arange(k) == 0, n
                        ),
                        "centroid_id": cids[idx].reshape(-1),
                    }
                )

    return narrow.mapInPandas(score, out_schema)


def _assign_cells(
    vectors: DataFrame,
    cents: DataFrame,
    nprobe: int,
    id_col: str,
    vec_col: str,
    scoring: str | None = None,
) -> DataFrame:
    """The ONE definition of index assignment (build/append/apply all
    route through it): top-``nprobe`` max-cosine cells per vector;
    emits ``centroid_id`` (+ ``is_primary`` when nprobe > 1).

    Scale shape (round 10): scoring happens on a NARROW (id, vector)
    frame — the original form crossJoined the FULL payload with all k
    centroids, shuffling n×k payload-heavy rows through the ranking
    window (at 1M vectors × 256 cells that duplicates every embedding
    256× through the exchange). Now: nprobe=1 resolves with a
    map-side-combined ``max_by`` (shuffle collapses to ~n tiny rows in
    the partial aggregate); nprobe>1 ranks n×k (id, cid, cos) triples
    only; either way the payload joins back ONCE by id. Ordering is
    identical to the old window (desc cos, asc cid — max over
    (cos, -cid)), so assignments are byte-stable across the change.

    ``scoring`` (round 11): None → module default IVF_ASSIGN_SCORING;
    "blas" swaps the Catalyst per-element cosine for an Arrow-batched
    numpy matmul (see _blas_assign) with the same ordering —
    assignments byte-identical on the 1M×256 probe."""
    from pyspark.sql import Window as W

    scoring = scoring or IVF_ASSIGN_SCORING
    narrow = vectors.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("_e")
    )

    def join_back(assign: DataFrame, extra_cols: list[str]) -> DataFrame:
        # assign derives from `vectors` itself — rename its id column
        # so the join condition references no shared attribute (a bare
        # self-join on the common name hits "conflicting references"
        # on view-backed inputs like memory-sink tables)
        a = assign.withColumnRenamed(id_col, "__assign_id")
        return (
            vectors.join(a, F.col(id_col) == F.col("__assign_id"))
            .select(*vectors.columns, *extra_cols)
        )

    if scoring == "blas":
        assign = _blas_assign(narrow, cents, nprobe, id_col)
        if assign is not None:
            if nprobe == 1:
                return join_back(assign, ["centroid_id"])
            return join_back(assign, ["is_primary", "centroid_id"])
        scoring = "expr"  # empty centroid set — expr degrades gracefully
    if scoring != "expr":
        raise ValueError(f"unknown assignment scoring {scoring!r}")
    scored = narrow.crossJoin(F.broadcast(cents)).withColumn(
        "_ccos", cosine(F.col("_e"), F.col("cvec"))
    )
    if nprobe == 1:
        assign = scored.groupBy(id_col).agg(
            F.max_by(
                F.col("cid"), F.struct(F.col("_ccos"), -F.col("cid"))
            ).alias("centroid_id")
        )
        return join_back(assign, ["centroid_id"])
    w = W.partitionBy(id_col).orderBy(F.desc("_ccos"), F.asc("cid"))
    ranked = (
        scored.select(id_col, "cid", "_ccos")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= nprobe)
    )
    assign = ranked.select(
        F.col(id_col),
        (F.col("_rn") == 1).alias("is_primary"),
        F.col("cid").alias("centroid_id"),
    )
    return join_back(assign, ["is_primary", "centroid_id"])


def ivf_apply_changes(
    changes: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    op_col: str = "_op",
) -> list[str]:
    """Maintain a materialized IVF index from a CHANGE FEED — the
    update/delete half of the incremental story (``ivf_append_index``
    covers pure inserts): a 100 TB vector index is never rebuilt for a
    0.1 % daily delta, and unlike appends, updates and deletes must
    touch the cells the OLD vector lived in.

    ``changes`` is retraction-form rows (the shape
    ``versioned_cdf ... update_preimage=true`` emits): ``I`` inserts /
    ``U+`` new images carry the vector to ADD; ``D`` deletes / ``U-``
    old images carry the vector whose postings must be REMOVED. The
    old vector is all that's needed to find the stale postings —
    assignment is a deterministic function of (vector, centroids), so
    re-assigning the preimage names exactly the cells holding them; no
    scan of the index ever happens.

    Cost: O(touched cells' data + batch). Removals and additions are
    assigned in one pass each; the union of their cells is rewritten
    via DYNAMIC partition overwrite (untouched cells keep their
    inodes — proved in tests), and a cell emptied by the batch has its
    directory dropped. Duplicated-postings layouts (``_layout.json``)
    are maintained with matching rank-≤N postings on both the remove
    and add side. Returns the touched centroid_id values (bounded by
    k) so callers can log/verify the rewrite scope.

    Parity contract (unit-proved): after any I/U/D batch the index
    equals a full rebuild from the post-change corpus against the same
    sidecar centroids — content, cell placement and is_primary flags.
    """
    import os as _os
    import shutil as _shutil

    spark = changes.sparkSession
    cents, nprobe = _read_index_layout(spark, path)
    payload_cols = [
        c for c in changes.columns if c != op_col
    ]
    adds = changes.filter(F.col(op_col).isin("I", "U+")).select(*payload_cols)
    drops = changes.filter(F.col(op_col).isin("D", "U-")).select(*payload_cols)
    assigned_adds = _assign_cells(adds, cents, nprobe, id_col, vec_col)
    assigned_drops = _assign_cells(
        drops, cents, nprobe, id_col, vec_col
    ).select(F.col(id_col).alias("_drop_id"), "centroid_id")
    # touched cells: bounded collect (≤ k values, k is small by design)
    touched = sorted(
        {
            str(r[0])
            for r in assigned_adds.select("centroid_id")
            .union(assigned_drops.select("centroid_id"))
            .distinct()
            .collect()
        }
    )
    if not touched:
        return []
    old = spark.read.option("basePath", path).parquet(
        *[f"{path}/centroid_id={c}" for c in touched
          if _os.path.isdir(f"{path}/centroid_id={c}")]
    ) if any(
        _os.path.isdir(f"{path}/centroid_id={c}") for c in touched
    ) else None
    if old is not None:
        kept = old.join(
            assigned_drops,
            (old[id_col] == assigned_drops["_drop_id"])
            & (old["centroid_id"] == assigned_drops["centroid_id"]),
            "left_anti",
        )
        merged = kept.unionByName(assigned_adds)
    else:
        merged = assigned_adds
    # surviving-cell set BEFORE the write (evaluating merged afterwards
    # would re-read the very partitions the overwrite just replaced);
    # persisted so the touched cells are read once, not once per action
    merged = merged.persist()
    try:
        merged_cells = {
            str(r[0])
            for r in merged.select("centroid_id").distinct().collect()
        }
        # one hash exchange on the cell id → one file per touched cell
        if merged_cells:
            (
                merged.repartition("centroid_id")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("centroid_id")
                .parquet(path)
            )
    finally:
        merged.unpersist()
    # dynamic overwrite writes nothing for a cell the batch EMPTIED —
    # its stale files must go explicitly
    for c in set(touched) - merged_cells:
        _shutil.rmtree(f"{path}/centroid_id={c}", ignore_errors=True)
    return touched


def ivf_append_index(
    vectors_new: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally add a batch of vectors to a materialized IVF index —
    the operation a daily embedding pipeline actually runs (full rebuilds
    of a 100 TB index for a 0.1% daily delta are not a plan).

    New rows are assigned against the CENTROID SIDECAR written at build
    time (collected: k×dim floats, a driver-side scalar read — never a
    scan of the index), then appended to their cell partitions as new
    parquet files. Existing files are untouched, partition pruning keeps
    working, and search parity with a full rebuild is exact because
    assignment is the same max-cosine argmax against the same centroids
    (unit: tests/test_ivf_index.py).

    An index built with ``membership_nprobe > 1`` is detected via its
    ``_layout.json`` marker and appended with MATCHING duplicated
    postings (rank ≤ N + is_primary) — without that, appended rows
    would carry a null is_primary and silently vanish from the dedup's
    primary side."""
    spark = vectors_new.sparkSession
    cents, nprobe = _read_index_layout(spark, path)
    assigned = _assign_cells(vectors_new, cents, nprobe, id_col, vec_col)
    (
        assigned.repartition("centroid_id")
        .write.mode("append")
        .partitionBy("centroid_id")
        .parquet(path)
    )


def ivf_search_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k over a materialized IVF index, scanning only the probed
    cells. Probe selection reads the k-row centroid sidecar written at
    build time (NOT the index — filtering the index for centroid rows
    would enumerate every partition's files); the main scan's
    `centroid_id IN (probes)` predicate is a partition filter — verify
    with .explain(): PartitionFilters, not PushedFilters."""
    qarr = F.array(*[F.lit(float(x)) for x in query_vec])
    cents = spark.read.parquet(path + "_centroids")
    probed = [
        r["cid"]
        for r in cents.select(
            "cid", cosine(F.col("cvec_d"), qarr).alias("c")
        )
        .orderBy(F.desc("c"), F.asc("cid"))
        .limit(nprobe)
        .collect()
    ]
    idx = spark.read.parquet(path)
    cells = idx.filter(F.col("centroid_id").isin(probed))
    scored = cells.select(
        F.col(id_col), cosine(as_double(F.col(vec_col)), qarr).alias("cos")
    )
    if "is_primary" in idx.columns:
        # duplicated-postings layout (membership_nprobe>1 build): a
        # vector physically present in several probed cells would
        # otherwise appear that many times in the top-k, silently
        # shrinking effective k. Collapse by id BEFORE the top-k (the
        # score is a pure function of the vector, so max == the value);
        # the extra exchange only ever runs over the probed cells'
        # rows, and only on indexes that actually duplicate.
        scored = scored.groupBy(id_col).agg(F.max("cos").alias("cos"))
    return scored.orderBy(F.desc("cos"), F.asc(id_col)).limit(k)


def _dist2_to(c: list[float]) -> Column:
    """Squared euclidean distance from column ``e`` to a literal center."""
    arr = F.array(*[F.lit(float(x)) for x in c])
    return F.aggregate(
        F.zip_with(F.col("e"), arr, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _dist2_lit_sql(vec_sql: str, c: list[float]) -> str:
    """SQL text of ``_dist2_to`` — the SAME ordered zip_with/aggregate
    fold (value-identical: repr round-trips each double exactly and the
    string→DOUBLE cast is correctly rounded), emitted as a string so a
    k×dim center set costs ONE expr() parse instead of k·dim py4j
    Column round-trips (measured r14: building 16×64 literal distance
    folds via F.lit cost 5-12 s of driver time per kmeans iteration;
    the parsed form is ~60 ms)."""
    arr = "array(" + ", ".join(_sql_double(float(x)) for x in c) + ")"
    return (
        f"aggregate(zip_with({vec_sql}, {arr}, (x, y) -> (x - y) * (x - y)), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def assign_to_centroids(emb: DataFrame, cents: list[list[float]]) -> DataFrame:
    """(… , e) → (… , cid, dist2): nearest centroid per row, ties to the
    lowest centroid index. The single source of assignment semantics for
    kmeans_train and the q46 histogram — a drifted duplicate would make
    the reported clusters disagree with the centroids the trainer
    converged with.

    Argmin shape (r14): the original nested-``when`` chain referenced
    each per-centroid distance column O(k) times; projection collapse
    substitutes the full 64-term fold into every reference, so the
    generated code grew O(k²·dim) — past janino's 64 KB method limit at
    k=16/dim=64, silently falling back to INTERPRETED evaluation
    (measured: 127-313 s per Lloyd iteration over 12k×64 that runs in
    ~2 s compiled). Now the k folds are built ONCE into an array and the
    argmin is a single left fold keeping the first strict minimum —
    value-identical (same doubles, same strict-< tie-to-lowest-index,
    NaN/degenerate handling preserved by seeding with element 1), with
    an O(k·dim) expression tree that stays inside codegen. The k·dim
    literal folds are ONE parsed SQL string (the r13 py4j lesson —
    building them as Column objects cost 5-12 s of driver time per
    kmeans iteration at k=16/dim=64)."""
    k = len(cents)
    ds = F.expr(
        "array("
        + ", ".join(_dist2_lit_sql("e", cents[j]) for j in range(k))
        + ")"
    )
    init = F.struct(
        F.element_at(ds, 1).alias("d"), F.lit(0).cast("int").alias("j")
    )
    if k == 1:
        best = init
    else:
        best = F.aggregate(
            F.zip_with(
                F.slice(ds, 2, k - 1),
                F.sequence(F.lit(1), F.lit(k - 1)).cast("array<int>"),
                lambda d, j: F.struct(d.alias("d"), j.alias("j")),
            ),
            init,
            lambda acc, x: F.when(x["d"] < acc["d"], x).otherwise(acc),
        )
    keep = [c for c in emb.columns]
    d = emb.select(*keep, best.alias("_best"))
    return d.select(
        *keep,
        F.col("_best")["j"].alias("cid"),
        F.col("_best")["d"].alias("dist2"),
    )


def kmeans_train(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], list[float]]:
    """Lloyd's k-means over the embedding column, Spark-distributed.

    Iterative algorithm (SURVEY's "genuinely non-SQL-expressible" class):
    the DATA never leaves the cluster — each iteration is one broadcast
    (k×dim centroid literals), one argmin projection, and one groupBy
    computing per-dimension means map-side; the driver only collects the
    k aggregated centroid rows (k×dim floats) to feed the next
    iteration.

    Init is deterministic farthest-point (k-center greedy): seed with
    the lowest-id vector, then repeatedly add the vector farthest from
    its nearest chosen center (ties broken by id). Naive "first k ids"
    seeding fails whenever ids are clustered — the first k rows of a
    sorted corpus often share one true cluster, and Lloyd's cannot split
    seeds back out of it (caught by test_recovers_planted_centers).
    Each seeding step is one distributed max, k-1 tiny driver rows.

    Returns (centroids, inertia_per_iteration); inertia is the summed
    squared euclidean distance to the assigned centroid — must be
    non-increasing across iterations (asserted in tests).
    """
    emb = vectors.select(F.col(id_col), as_double(F.col(vec_col)).alias("e"))

    seed = emb.orderBy(F.asc(id_col)).limit(1).collect()[0]
    cents = [list(seed["e"])]
    # Incremental min-distance (round 8): the naive form rebuilds
    # least(dist2_to(c) for ALL chosen centers) each step — k²·dim fold
    # expressions by the last step, which is both quadratic work per row
    # and a codegen tree that OOMs the JVM near k≈40. Folding the new
    # center into a materialized `mind` column (localCheckpoint truncates
    # the lineage, same lesson as bpe_learn) is one fold per step and
    # bit-identical: least() over the same doubles in the same order.
    state = emb.select(
        F.col(id_col), F.col("e"), _dist2_to(cents[0]).alias("mind")
    ).localCheckpoint()
    while len(cents) < k:
        far = (
            state.orderBy(F.desc("mind"), F.asc(id_col))
            .limit(1)
            .collect()[0]
        )
        cents.append(list(far["e"]))
        if len(cents) < k:
            state = state.select(
                F.col(id_col),
                F.col("e"),
                F.least(F.col("mind"), _dist2_to(cents[-1])).alias("mind"),
            ).localCheckpoint()
    dim = len(cents[0])
    history: list[float] = []

    # the per-dimension mean aggregates don't depend on the centroids —
    # build the Column list once, not once per Lloyd iteration
    stat_aggs = [F.avg(F.col("e")[i]).alias(f"m{i}") for i in range(dim)] + [
        F.sum("dist2").alias("inertia")
    ]
    for _ in range(iters):
        assigned = assign_to_centroids(emb, cents)
        stats = assigned.groupBy("cid").agg(*stat_aggs).collect()
        history.append(float(sum(r["inertia"] for r in stats)))
        new_cents = list(cents)
        for r in stats:
            new_cents[r["cid"]] = [float(r[f"m{i}"]) for i in range(dim)]
        cents = new_cents
    return cents, history


def ivf_assign(
    vectors: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its max-cosine centroid (centroids = the
    first n stored vectors — deterministic plumbing; swap in KMeans
    centers for quality)."""
    cents = (
        vectors.filter(F.col(id_col) < n_centroids)
        .select(
            F.col(id_col).alias("centroid_id"),
            as_double(F.col(vec_col)).alias("cvec"),
        )
    )
    scored = (
        vectors.crossJoin(F.broadcast(cents))
        .select(
            id_col,
            "centroid_id",
            cosine(as_double(F.col(vec_col)), F.col("cvec")).alias("cos"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy(id_col).orderBy(F.desc("cos"), F.asc("centroid_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "centroid_id", "cos")
    )


def semantic_dedup_flags(
    vectors: DataFrame,
    n_centroids: int = 8,
    tau: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | str | None = None,
    round_dp: int = 6,
    nprobe: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication flags (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, compare pairs ONLY
    within a cluster, and drop every vector that has a same-cell
    neighbor of smaller id with (rounded) cosine >= tau. Returns
    (id, centroid_id, kept 0/1).

    Scale shape: the cluster is the candidate bound — the paper's whole
    point is that k grows with the corpus so cell population stays
    roughly constant and the within-cell product never goes corpus-
    quadratic. Assignment is the IVF broadcast-crossJoin + per-id argmax
    window (one shuffle); the pair stage is an equi-join on centroid_id
    with per-vector norms precomputed once (the q42 lesson); the flag
    join is id-keyed. ``centroids`` as in ivf_build_index: None resolves
    to k-means-learned under config.QUALITY_DEFAULTS, "data" pins the
    deterministic leading-vector cells (what the DuckDB oracle
    replicates), a list is used literally.

    The self-join re-derives the assignment subtree on both sides (Spark
    does not share it) — acceptable at oracle scale only. The index-scale
    form is semantic_dedup_flags_indexed below: materialize the
    assignment once with ivf_build_index, then each join side is a plain
    (and, per cell group, partition-pruned) scan, not a recompute.

    ``nprobe`` (round 8): single-cell bounding is a measured recall
    CEILING, not ~1 — τ-eligible s=0.95 pairs co-locate only ~74% of
    the time at 16 cells over 20k graded vectors (PERF.md round-8
    s-curve). The standard IVF fix applies to dedup too: each vector is
    a candidate in its ``nprobe`` nearest cells, so a near-pair split
    by a cell boundary still meets in the runner-up cell (measured
    recovery to ~0.95+ at nprobe=2). Cost is ≤ nprobe× membership rows
    in the pair join — still cell-bounded, never corpus-quadratic. The
    output's ``centroid_id`` stays the PRIMARY cell and the dropped
    flag keeps the same smaller-id-wins semantics, so nprobe=1 is
    byte-identical to the original operator (q51's oracle pins it
    explicitly).

    Default (round 9): ``nprobe=None`` resolves to 2 under
    config.QUALITY_DEFAULTS — the measured-better posture ships on
    bare calls, like the Gaussian-planes/learned-centroids defaults of
    round 4; pass 1 for the single-cell original (flag-off parity
    pinned in tests/test_quality_defaults.py).
    """
    emb = vectors.select(F.col(id_col), as_double(F.col(vec_col)).alias("e"))
    from anti_ddos_spark.config import QUALITY_DEFAULTS

    if nprobe is None:
        nprobe = 2 if QUALITY_DEFAULTS else 1
    if centroids is None:
        centroids = "learned" if QUALITY_DEFAULTS else "data"
    if centroids == "learned":
        centroids, _inertia = kmeans_train(
            vectors, k=n_centroids, id_col=id_col, vec_col=vec_col
        )
    if isinstance(centroids, str):
        if centroids != "data":
            raise ValueError(f"unknown centroids mode {centroids!r}")
        cents = emb.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("centroid_id"), F.col("e").alias("cvec")
        )
    else:
        cents = _literal_centroids(vectors.sparkSession, centroids).select(
            F.col("cid").alias("centroid_id"), F.col("cvec")
        )
    # assignment routes through _assign_cells — the ONE definition the
    # IVF family shares, which since r11 scores with the BLAS batch
    # engine by default (byte-identical ordering, 22× on wide builds).
    # SemDeDup's assignment is the same n×k cosine the index build
    # pays, so it inherits the win for free.
    memb = _assign_cells(
        emb,
        cents.withColumnRenamed("centroid_id", "cid"),
        nprobe,
        id_col,
        "e",
    ).withColumn("nrm", norm(F.col("e")))
    if nprobe == 1:
        assigned = memb.select(id_col, "e", "centroid_id", "nrm")
        membership = None
    else:
        assigned = memb.filter(F.col("is_primary")).select(
            id_col, "e", "centroid_id", "nrm"
        )
        membership = memb.select(id_col, "e", "centroid_id", "nrm")
    return _semantic_flags_from_assigned(
        assigned, tau, id_col, round_dp, membership=membership
    )


def _semantic_dup_ids(
    cand: DataFrame, tau: float, id_col: str, round_dp: int
) -> DataFrame:
    """The within-cell pair stage alone: ``cand`` is (id, e, centroid_id,
    nrm) candidate rows (primary assignment or multi-cell membership);
    returns the DISTINCT ids that have a smaller-id same-cell neighbor
    at rounded cosine >= tau, as (id, _dup=1). Factored out so the
    sharded indexed form can emit drop EVIDENCE for ids whose primary
    cell lives in another shard."""
    a = cand.select(
        F.col(id_col).alias("id_a"), "centroid_id",
        F.col("e").alias("ea"), F.col("nrm").alias("na"),
    )
    b = cand.select(
        F.col(id_col).alias("id_b"), "centroid_id",
        F.col("e").alias("eb"), F.col("nrm").alias("nb"),
    )
    raw = F.when(
        (F.col("na") > 0) & (F.col("nb") > 0),
        dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")),
    ).otherwise(F.lit(0.0))
    p = 10**round_dp
    cos_r = F.floor(raw * p + F.lit(0.5)) / F.lit(float(p))
    return (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cos_r >= tau)
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_dup", F.lit(1))
    )


def _semantic_flags_from_assigned(
    assigned: DataFrame,
    tau: float,
    id_col: str,
    round_dp: int,
    membership: DataFrame | None = None,
) -> DataFrame:
    """Shared pair stage of SemDeDup: ``assigned`` is (id, e, centroid_id,
    nrm); within-cell smaller-id neighbor at rounded cosine >= tau marks
    the larger id dropped. Used by both the in-memory form above and the
    materialized-index form below — the input decides whether each join
    side is a recompute or a plain index scan. ``membership`` (the
    nprobe>1 path) widens the CANDIDATE join to multi-cell membership
    rows; output rows and cells stay the primary assignment."""
    cand = assigned if membership is None else membership
    dups = _semantic_dup_ids(cand, tau, id_col, round_dp)
    return (
        assigned.select(id_col, "centroid_id")
        .join(dups, id_col, "left")
        .select(
            id_col,
            "centroid_id",
            F.when(F.col("_dup").isNull(), 1).otherwise(0).alias("kept"),
        )
    )


def semantic_dedup_flags_indexed(
    spark,
    path: str,
    tau: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    cells: list[int] | None = None,
) -> DataFrame:
    """SemDeDup over a MATERIALIZED assignment — the index-scale form the
    in-memory docstring promises: ``ivf_build_index`` has already written
    the corpus as parquet partitioned by centroid_id, so both sides of
    the within-cell pair join are plain scans of that index (same flags
    as semantic_dedup_flags; parity unit-proved). Nothing recomputes the
    k-means/argmax assignment subtree, and because centroid_id is the
    physical partition key, a run restricted via ``cells`` is PARTITION
    PRUNING at the scan — only those cells' files are ever opened
    (plan-asserted in tests/test_semantic_dedup.py). That restriction is
    how a 100 TB dedup actually executes: cells are independent, so the
    sweep shards into per-cell-group jobs, each touching 1/C of the
    corpus, with results unioned by append.

    An index built with ``membership_nprobe > 1`` (duplicated postings,
    ``is_primary`` flag) upgrades this to the round-8 multi-cell
    candidate semantics WITHOUT losing partition pruning: the pair join
    runs over ALL postings (a boundary pair meets in its shared
    runner-up cell — physically co-partitioned), while output rows and
    cells come from the primary postings only. Flags match the
    in-memory ``semantic_dedup_flags(nprobe=N)`` exactly
    (parity unit in tests/test_semantic_dedup.py).

    Per-cell sharding via ``cells`` on a duplicated-postings index is a
    FEDERATED protocol (round 9 — the union-of-owned-rows contract was
    wrong for nprobe>1): a pair's only shared probed cell can sit in a
    shard that does NOT own either id's primary cell, so the shard that
    DISCOVERS the drop may be unable to emit the id's output row. Each
    shard therefore emits its owned rows (ids whose primary posting is
    in the shard, with their true centroid_id and locally-computed
    kept) PLUS drop evidence rows (id, centroid_id=NULL, kept=0) for
    dup ids whose primary cell lies elsewhere. The caller unions the
    shards and folds with ``semantic_dedup_merge_shards`` — a tiny
    (id, min(kept), max(centroid_id)) aggregate, the only cross-shard
    exchange. Each shard still scans ONLY its cells' files (partition
    pruning intact); sharded-vs-full parity incl. a cross-shard
    boundary pair is unit-proved in tests/test_semantic_dedup.py.
    """
    idx = spark.read.parquet(path)
    if cells is not None:
        idx = idx.filter(F.col("centroid_id").isin([int(c) for c in cells]))
    rows = idx.select(
        F.col(id_col),
        F.col("centroid_id"),
        as_double(F.col(vec_col)).alias("e"),
        *(["is_primary"] if "is_primary" in idx.columns else []),
    ).withColumn("nrm", norm(F.col("e")))
    if "is_primary" in rows.columns:
        assigned = rows.filter(F.col("is_primary")).drop("is_primary")
        membership = rows.drop("is_primary")
        # ONE pair join feeds both the owned flags and (sharded) the
        # foreign evidence — its distinct's exchange is the shared
        # subtree, so the O(cell²) cosine stage executes once (round-9
        # review: building dups twice risked doubling the dominant cost)
        dups = _semantic_dup_ids(membership, tau, id_col, round_dp)
        flags = (
            assigned.select(id_col, "centroid_id")
            .join(dups, id_col, "left")
            .select(
                id_col,
                "centroid_id",
                F.when(F.col("_dup").isNull(), 1).otherwise(0).alias("kept"),
            )
        )
        if cells is None:
            return flags
        # sharded: a dup discovered here may belong (primary cell) to
        # another shard — emit it as evidence the merge step folds in
        ctype = dict(flags.dtypes)["centroid_id"]
        foreign = (
            dups.join(assigned.select(id_col), id_col, "left_anti")
            .select(
                F.col(id_col),
                F.lit(None).cast(ctype).alias("centroid_id"),
                F.lit(0).alias("kept"),
            )
        )
        return flags.unionByName(foreign)
    return _semantic_flags_from_assigned(rows, tau, id_col, round_dp)


def semantic_dedup_merge_shards(
    shard_union: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Fold the union of per-shard ``semantic_dedup_flags_indexed``
    outputs into final flags: every id's owned row (exactly one shard
    holds its primary cell → non-null centroid_id) joined with any drop
    evidence other shards discovered. min(kept) is the federation rule
    — a drop found anywhere wins; max(centroid_id) just recovers the
    single non-null primary cell (nulls ignored by max). One tiny
    aggregate over (id, cell, kept) rows — the shards' pair joins, the
    actual cost, never re-run."""
    return shard_union.groupBy(id_col).agg(
        F.max("centroid_id").alias("centroid_id"),
        F.min("kept").alias("kept"),
    )


# --- int8 quantization (ANN memory scaling) --------------------------------

def quantize_int8(
    emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-vector symmetric int8 quantization with a max-abs scale:
    ``code_i = floor(x_i * 127 / max_j |x_j| + 0.5)`` — the standard
    memory-scale trick for corpus-size ANN (4x smaller than float32, 8x
    than float64; at 100 TB of embeddings the codes + one scale per
    vector are what fits a cluster's aggregate RAM). Reconstruction is
    ``code * scale / 127``; recall of cosine top-k on reconstructed
    vectors is unit-proved in tests/test_quantize.py.

    Pure per-row Catalyst expressions — zero shuffle, embarrassingly
    parallel, and composes with the IVF index (quantize the residuals
    the same way).
    """
    e = as_double(F.col(vec_col))
    base = emb.select(F.col(id_col), e.alias("_e")).withColumn(
        "_scale", F.array_max(F.transform(F.col("_e"), F.abs))
    )
    scale = F.col("_scale")
    codes = F.when(
        scale > 0,
        F.transform(
            F.col("_e"),
            lambda x: F.floor(x * 127.0 / scale + 0.5).cast("int"),
        ),
    ).otherwise(F.transform(F.col("_e"), lambda x: F.lit(0)))
    return base.select(
        F.col(id_col),
        F.size("_e").alias("n_dims"),
        scale.alias("scale"),
        codes.alias("codes"),
    )


def dequantize_int8(codes: Column, scale: Column) -> Column:
    """codes array<int> + scale → array<double> reconstruction."""
    return F.transform(codes, lambda c: c.cast("double") * scale / 127.0)


# --- product quantization (PQ) ---------------------------------------------

def pq_encode(
    emb: DataFrame,
    n_subspaces: int = 8,
    n_centers: int = 4,
    centers: list[list[list[float]]] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Product-quantization codes (Jégou et al., TPAMI 2011): split each
    vector into ``n_subspaces`` contiguous subvectors and snap each to
    its nearest codebook center, storing one small int per subspace —
    the memory step below int8 in the compression ladder (64 dims ×
    float32 → 8 codes ≈ 32× smaller; IVF + PQ on residuals is the
    standard billion-vector index layout).

    ``centers``: per-subspace codebooks as literals
    ``[subspace][center][dim]``. Default (None) derives the
    deterministic "data" codebook from the subvectors of vectors
    ``vec_id 1..n_centers`` — the same oracle-replicable convention as
    IVF's "data" centers; a production build passes codebooks learned
    with ``kmeans_train`` over each subspace slice.

    The encode itself is pure per-row folds over literal centers — zero
    shuffle, embarrassingly parallel. Ties break to the lowest center
    index (first-wins), matching the SQL oracle's ``min(c)``.
    Emits: id, ``codes`` (array<int>), ``err`` (sum over subspaces of
    the chosen squared L2 distance — the reconstruction energy).
    """
    e = emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("_e"))
    if centers is None:
        rows = (
            e.filter(
                (F.col(id_col) >= 1) & (F.col(id_col) <= n_centers)
            )
            .orderBy(id_col)
            .collect()
        )
        if len(rows) != n_centers:
            raise ValueError(
                f"data codebook needs ids 1..{n_centers}, found {len(rows)}"
            )
        dim = len(rows[0]["_e"])
        sub_d = dim // n_subspaces
        centers = [
            [
                [float(x) for x in r["_e"][j * sub_d : (j + 1) * sub_d]]
                for r in rows
            ]
            for j in range(n_subspaces)
        ]
    sub_d = len(centers[0][0])

    def dist(j: int, c: int) -> Column:
        sub = F.slice(F.col("_e"), j * sub_d + 1, sub_d)
        lit_c = F.array(*[F.lit(v) for v in centers[j][c]])
        return F.aggregate(
            F.zip_with(sub, lit_c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    code_cols, err_cols = [], []
    for j in range(n_subspaces):
        ds = [dist(j, c) for c in range(len(centers[j]))]
        best = F.least(*ds) if len(ds) > 1 else ds[0]
        code = F.lit(None).cast("int")
        # reversed: earlier centers overwrite later → first-wins ties
        for c in reversed(range(len(ds))):
            code = F.when(ds[c] == best, F.lit(c)).otherwise(code)
        code_cols.append(code.alias(f"_c{j}"))
        err_cols.append(best.alias(f"_d{j}"))

    coded = e.select(F.col(id_col), *code_cols, *err_cols)
    return coded.select(
        F.col(id_col),
        F.array(*[F.col(f"_c{j}") for j in range(n_subspaces)]).alias("codes"),
        sum(
            (F.col(f"_d{j}") for j in range(1, n_subspaces)),
            F.col("_d0"),
        ).alias("err"),
    )


def pq_topk(
    emb: DataFrame,
    query_vec: list[float],
    centers: list[list[list[float]]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query computes
    its m×k distance table to the codebooks DRIVER-SIDE (a handful of
    floats), then every stored vector is scored by m table lookups on
    its codes — the reason PQ exists: candidate scoring never touches
    the original vectors, so the scan reads ~32× fewer bytes and stays
    a zero-shuffle projection + TakeOrdered(k).

    Composition at scale: run inside IVF cells (codes of residuals) for
    the standard IVF-ADC layout; re-rank the top ~10k ADC hits with
    exact cosine over the full vectors if exactness matters.
    """
    n_subspaces = len(centers)
    sub_d = len(centers[0][0])
    # distance table: python floats, becomes a literal lookup expression
    table = [
        [
            sum(
                (query_vec[j * sub_d + i] - centers[j][c][i]) ** 2
                for i in range(sub_d)
            )
            for c in range(len(centers[j]))
        ]
        for j in range(n_subspaces)
    ]
    coded = pq_encode(
        emb, n_subspaces, len(centers[0]), centers, vec_col, id_col
    )
    score = None
    for j in range(n_subspaces):
        lut = F.array(*[F.lit(v) for v in table[j]])
        term = F.element_at(lut, F.element_at(F.col("codes"), j + 1) + 1)
        score = term if score is None else score + term
    return (
        coded.select(F.col(id_col), score.alias("adc_dist2"))
        .orderBy(F.asc("adc_dist2"), F.asc(id_col))
        .limit(k)
    )


# --- signed random projection (Johnson-Lindenstrauss dim reduction) -------

def rp_sign_matrix(k: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 projection matrix: sign[j][i] follows the first
    hex digit of md5("rp:j:i"). Achlioptas (2001) shows ±1 entries give
    the JL guarantee; deriving them from md5 makes the matrix identical
    in any engine/language without shipping state."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"rp:{j}:{i}".encode()).hexdigest()[0], 16) < 8
            else -1
            for i in range(dim)
        ]
        for j in range(k)
    ]


def random_projection(
    emb: DataFrame,
    k: int,
    dim: int,
    vec_col: str = "embedding",
    quant: int = 1000,
    id_col: str = "vec_id",
) -> DataFrame:
    """Project each vector to k signed-sum components over a
    fixed-point-quantized copy (floor(x*quant+0.5) — exact integer
    arithmetic end-to-end, so any engine reproduces the output
    bit-for-bit). Zero shuffle: k zip_with folds per row, each a
    whole-stage-codegen expression; at 100 TB this is the cheap first
    stage of an ANN ladder (project → bucket → refine on the raw
    vectors)."""
    from anti_ddos_spark.features import _memoized

    def build() -> list[Column]:
        signs = rp_sign_matrix(k, dim)
        q = F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * quant + F.lit(0.5)).cast(
                "long"
            ),
        )
        projs = [
            F.aggregate(
                F.zip_with(
                    F.col("_q"),
                    F.array(*[F.lit(s) for s in signs[j]]),
                    lambda a, b: a * b,
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias(f"p{j}")
            for j in range(k)
        ]
        return [q, *projs]

    # k*dim literal Columns ≈ 500+ py4j round-trips per build — memoized
    # per (params, JVM) with features._memoized.
    # id_col is not part of the built Column trees, so it stays out of
    # the memo key (same exprs serve any id column name)
    cols = _memoized(("rand_proj", k, dim, quant, vec_col), build)
    q, projs = cols[0], cols[1:]
    return emb.withColumn("_q", q).select(id_col, *projs)


# --- IVF centroid drift: monitor + retrain policy (r11 verdict #7) --------
#
# Postings maintenance (ivf_apply_changes) keeps the INVERTED LISTS
# fresh, but the CENTROIDS themselves go stale as the corpus
# distribution drifts — vectors land ever farther from their nearest
# cell center, boundary mass grows, and nprobe-bounded recall degrades
# with no error anywhere. The monitor is one column-pruned aggregate
# over the index (per-cell occupancy + mean intra-cell cosine) compared
# against the SAME aggregate recorded at build time
# (``<path>_stats.json``); the policy is: retrain (kmeans_train over
# the index's own primary postings, rebuild in place) when the mean
# intra-cell cosine drops more than IVF_DRIFT_COS_DROP below the
# build-time value, or cell-occupancy skew (max/mean) grows past
# IVF_DRIFT_SKEW_GROWTH× build-time. Both signals are cheap, engine-
# side, and move monotonically under real drift (new mass concentrates
# in few ill-fitting cells → skew up, cosine down). At 100 TB the
# monitor reads (centroid_id, vector) only — a pruned scan, no shuffle
# beyond a k-row aggregate.

IVF_DRIFT_COS_DROP = 0.05
IVF_DRIFT_SKEW_GROWTH = 2.0


def _ivf_index_stats(spark, path: str, vec_col: str) -> dict:
    """Per-index health aggregate: total primary postings, mean cosine
    of each vector to its OWN cell centroid (occupancy-weighted), and
    occupancy skew (max cell / mean cell). One groupBy over a two-
    column projection of the index."""
    cents, _nprobe = _read_index_layout(spark, path)
    rows = spark.read.parquet(path)
    if "is_primary" in rows.columns:
        rows = rows.filter(F.col("is_primary"))
    per_cell = (
        rows.select(
            F.col("centroid_id"), as_double(F.col(vec_col)).alias("_e")
        )
        .join(F.broadcast(cents), F.col("centroid_id") == F.col("cid"))
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cosine(F.col("_e"), F.col("cvec"))).alias("s"),
        )
        .collect()
    )
    n = int(sum(r["n"] for r in per_cell))
    k = cents.count()
    mean_cos = float(sum(r["s"] for r in per_cell) / n) if n else 0.0
    mean_occ = n / k if k else 0.0
    skew = (
        max((r["n"] for r in per_cell), default=0) / mean_occ
        if mean_occ
        else 0.0
    )
    return {
        "n": n,
        "n_centroids": int(k),
        "mean_intra_cosine": round(mean_cos, 6),
        "occupancy_skew": round(skew, 4),
    }


def ivf_drift_report(
    spark,
    path: str,
    vec_col: str | None = None,
    cos_drop: float | None = None,
    skew_growth: float | None = None,
) -> dict:
    """Compare the index's CURRENT health aggregate against its
    build-time baseline and say whether the retrain policy trips.

    Returns {"current": {...}, "baseline": {...}, "cos_drop":
    measured drop, "skew_growth": measured ratio,
    "retrain_recommended": bool}. Raises FileNotFoundError when the
    index predates stats recording — rebuild once to seed the
    baseline."""
    import json as _json
    import os as _os

    stats_path = path + "_stats.json"
    if not _os.path.exists(stats_path):
        raise FileNotFoundError(
            f"{stats_path} missing: the index predates build-time "
            "stats — rebuild (or ivf_retrain) once to seed the "
            "drift baseline"
        )
    with open(stats_path) as f:
        baseline = _json.load(f)
    vec_col = vec_col or baseline.get("vec_col", "embedding")
    current = _ivf_index_stats(spark, path, vec_col)
    drop = round(
        baseline["mean_intra_cosine"] - current["mean_intra_cosine"], 6
    )
    growth = round(
        current["occupancy_skew"] / max(baseline["occupancy_skew"], 1e-9),
        4,
    )
    cd = IVF_DRIFT_COS_DROP if cos_drop is None else cos_drop
    sg = IVF_DRIFT_SKEW_GROWTH if skew_growth is None else skew_growth
    return {
        "current": current,
        "baseline": {
            k: baseline[k]
            for k in (
                "n", "n_centroids", "mean_intra_cosine", "occupancy_skew"
            )
        },
        "cos_drop": drop,
        "skew_growth": growth,
        "retrain_recommended": bool(drop > cd or growth > sg),
    }


def ivf_retrain(spark, path: str) -> dict:
    """Retrain the index's centroids FROM ITS OWN primary postings and
    rebuild in place: kmeans_train at the recorded cell count, then
    ivf_build_index with the learned centers and the index's recorded
    membership_nprobe — which also re-seeds the drift baseline.
    Returns the fresh build-time stats.

    This is the policy's action arm: postings maintenance keeps lists
    fresh between retrains; when ivf_drift_report recommends, one
    retrain restores assignment quality (and with it the nprobe-bounded
    recall the q137-style contract measures). The index's vectors are
    localCheckpoint-materialized first so the in-place overwrite never
    reads the files it is replacing."""
    import json as _json

    with open(path + "_stats.json") as f:
        baseline = _json.load(f)
    id_col = baseline.get("id_col", "vec_id")
    vec_col = baseline.get("vec_col", "embedding")
    _cents, nprobe = _read_index_layout(spark, path)
    rows = spark.read.parquet(path)
    if "is_primary" in rows.columns:
        rows = rows.filter(F.col("is_primary"))
    vectors = rows.select(id_col, vec_col).localCheckpoint()
    ivf_build_index(
        vectors,
        path,
        n_centroids=baseline["n_centroids"],
        id_col=id_col,
        vec_col=vec_col,
        centroids="learned",
        membership_nprobe=nprobe,
    )
    with open(path + "_stats.json") as f:
        return _json.load(f)
