"""Deduplication operators for large-scale corpus curation.

None of these exist in the reference (it has no document processing);
they are the training-data-pipeline extensions this engine adds as
first-class operators. All are pure Catalyst expressions — higher-order
array functions + md5 — so they scale as ordinary shuffles and stay
whole-stage-codegen'd; no Python UDFs.

Scale design:
- exact dedup = hash-groupBy on md5(text): one shuffle on the digest,
  AQE handles skew (identical boilerplate docs are the classic hot key).
- MinHash: k independent permutations simulated by seeded md5; signature
  is a per-row map() — embarrassingly parallel, no shuffle.
- LSH banding: explode to (band_id, band_key) and self-join per band —
  the join key is the band digest, so candidate generation is one
  equi-join instead of the O(n²) all-pairs; at 100 TB this is the only
  viable shape and it broadcast-prunes nothing (fact-fact) so AQE skew
  split matters.
- SimHash: explode words → 16 conditional sums per doc (one shuffle).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, functions as F

from anti_ddos_spark.config import LSH_BANDS, MINHASH_K, SIMHASH_BITS
from anti_ddos_spark.features import _memoized

SHINGLE_W = 3  # words per shingle

# Driver-side Column construction for the k=128 permutation expressions
# costs ~1.3 s per call in py4j round-trips (40% of q35's bench wall —
# the same construction-cost disease PERF.md's q24 attribution found).
# Catalyst Columns are immutable expression trees, so the built lists are
# memoized per (shape key, JVM) with features._memoized.


def words(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def shingles(text: Column, w: int = SHINGLE_W) -> Column:
    """Word w-shingles; degenerate docs (<w words) shingle to the text.

    NOTE: inlines the split expression into every element_at of the
    shingle lambda — higher-order lambdas don't CSE, so the regex split
    re-runs ~3× per shingle (measured 7 s vs 0.7 s at sf0.1). Fine for
    per-row signature use (minhash_signature, k small); the explode hot
    path must use shingles_of_words over a materialized words column."""
    ws = words(text)
    return _shingle_transform(ws, text, w)


def shingles_of_words(ws: Column, text: Column, w: int = SHINGLE_W) -> Column:
    """Shingle array over a MATERIALIZED words column (bind words(text)
    to a projected column first — a column reference evaluates once per
    row where the inlined expression form re-splits per element)."""
    return _shingle_transform(ws, text, w)


def _shingle_transform(ws: Column, text: Column, w: int) -> Column:
    n = F.size(ws)
    make = F.transform(
        F.sequence(F.lit(1), n - (w - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(ws, i + j) for j in range(w)]
        ),
    )
    return F.when(n >= w, make).otherwise(F.array(text))


# Universal-hash MinHash: ONE digest per shingle, k linear permutations
# h_i(x) = (a_i·x + b_i) mod M over the 31-bit reduction of the digest.
# The md5-per-(seed,shingle) form costs k digests per shingle — measured
# 26 s at k=128/sf0.1 vs ~3 s for this form; the multiply-add stays in
# whole-stage codegen and both constants below are engine-portable
# (products bounded by 2^62, no BIGINT overflow in Spark ANSI or DuckDB).
UHASH_M = (1 << 31) - 1  # Mersenne prime 2^31-1


def uhash_params(i: int) -> tuple[int, int]:
    """Deterministic per-permutation (a, b); a forced odd and nonzero."""
    a = ((i * 2654435761 + 12345) % (1 << 31)) | 1
    b = (i * 40503 + 9999991) % (1 << 31)
    return a, b


def shingle_base_hash(s: Column) -> Column:
    """31-bit integer hash of a shingle via its md5 prefix."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long") % F.lit(
        1 << 31
    )


def minhash_signature(text: Column, k: int = MINHASH_K) -> list[Column]:
    """k MinHash values: min over shingles of md5(seed:shingle).

    String-min over hex digests ≡ integer-min over the permuted hash
    space; string form keeps the expression engine-portable (and
    oracle-checkable in any SQL engine with md5).
    """
    sh = shingles(text)
    return [
        F.array_min(F.transform(sh, lambda s: F.md5(F.concat_ws(":", F.lit(str(i)), s)))).alias(
            f"minhash_{i}"
        )
        for i in range(k)
    ]


def lsh_bands(sig_cols: list[str], bands: int = LSH_BANDS) -> Column:
    """Band digests: md5 of the concatenated signature rows per band.
    Memoized per (columns, bands, JVM) — see features._memoized."""

    def build() -> list[Column]:
        rows_per = len(sig_cols) // bands
        return [
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[
                                F.col(c)
                                for c in sig_cols[b * rows_per : (b + 1) * rows_per]
                            ],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ]

    return _memoized(("lsh_bands", tuple(sig_cols), bands), build)[0]


def minhash_banded_narrow(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Banded MinHash as a PURE PER-ROW projection → (id, band_id, band_key).

    ``keep`` names passthrough columns (e.g. an event-time column for the
    bounded-state dedup in streaming/dedup_stream.py) carried alongside
    the projection — still zero-shuffle.

    Same signature arithmetic as minhash_candidates (one md5 per shingle,
    k universal-hash permutations, md5 band digests — identical values),
    but computed with array_min over per-row arrays instead of an
    explode+groupBy, so there is ZERO shuffle: the stream-friendly form.
    Structured Streaming can run it on unbounded input ahead of a
    stateful band-bucket dedup (queries/streamops.py q74), where a
    groupBy-based signature would demand update-mode aggregation state.

    Two-step materialization is deliberate: the words and base-hash
    arrays are bound to projected columns before entering the k
    higher-order lambdas — lambdas don't CSE, so the inline form would
    re-run the regex split and md5 per permutation (measured 40× on the
    explode path; same failure class here).
    """
    extra = [F.col(c) for c in keep]
    pre = docs.select(
        F.col(id_col),
        F.col(text_col).alias("_txt"),
        words(F.col(text_col)).alias("_ws"),
        *extra,
    )
    sh = pre.select(
        F.col(id_col),
        shingles_of_words(F.col("_ws"), F.col("_txt")).alias("_sh"),
        *extra,
    )
    hashed = sh.select(
        F.col(id_col),
        F.transform(F.col("_sh"), lambda s: shingle_base_hash(s)).alias("_h"),
        *extra,
    )
    def _perm(i: int):
        a_i, b_i = uhash_params(i)
        return lambda h: (h * F.lit(a_i) + F.lit(b_i)) % F.lit(UHASH_M)

    sigs = hashed.select(
        F.col(id_col),
        *_memoized(
            ("banded_narrow_sigs", k),
            lambda: [
                F.array_min(F.transform(F.col("_h"), _perm(i))).alias(
                    f"minhash_{i}"
                )
                for i in range(k)
            ],
        ),
        *extra,
    )
    sig_cols = [f"minhash_{i}" for i in range(k)]
    return sigs.select(
        F.col(id_col),
        F.posexplode(lsh_bands(sig_cols, bands=bands)).alias("band_id", "band_key"),
        *extra,
    ).withColumn("band_id", F.col("band_id").cast("int"))


def exact_dedup_summary(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by content digest (hash-groupBy dedup)."""
    digests = docs.groupBy(F.md5(F.col(text_col)).alias("digest")).agg(
        F.count("*").alias("n")
    )
    return digests.agg(
        F.count("*").alias("n_unique"),
        F.sum("n").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).cast("long").alias("n_dup_groups"),
        F.sum(F.when(F.col("n") > 1, F.col("n") - 1).otherwise(0))
        .cast("long")
        .alias("n_redundant"),
    )


SCAN_SPREAD_BYTES_CAP = 1 << 30  # spread-shuffle affordability bound
_SCAN_TASK_BYTES = 128 << 20  # spark.sql.files.maxPartitionBytes default


def _should_spread(total_bytes: int, cores: int) -> bool:
    """Pure decision of spread_small_scan, split out for branch tests:
    spread iff the scan would open fewer tasks than the cluster has
    cores (ceil split, matching Spark's file splitting — floor here
    would inject a shuffle exactly where the scan already parallelizes)
    AND the input is small enough that the extra shuffle is noise."""
    if not 0 < total_bytes <= SCAN_SPREAD_BYTES_CAP:
        return False
    est_tasks = -(-total_bytes // _SCAN_TASK_BYTES)  # ceil
    return est_tasks < cores


def spread_small_scan(df: DataFrame, key_col: str) -> DataFrame:
    """Parallelism guard for a superlinear stage fed by a SMALL
    compressed scan: snappy text parquet compresses ~10× and the
    shingle explode multiplies rows ~100×, so a 58 MB input (500k docs)
    becomes a couple of scan tasks doing ALL of a corpus-sized explode
    — measured 3× wall on the decade fixture (PERF.md round 9). When
    ``_should_spread`` says the scan is starved, hash-spread the rows
    on ``key_col`` first. At 100 TB the task estimate exceeds any core
    count and this is a no-op — the guard can never introduce a
    corpus-sized shuffle; non-local or unlistable inputs are left
    untouched for the same reason (real deployments have scan
    parallelism; the starved case is the small-compressed-fixture one).

    Contract: pass a COLUMN PROJECTION of a scan. The leaf-file
    estimate survives joins/aggregates (``inputFiles`` reports leaves
    through any plan), so a derived frame would be spread based on
    bytes unrelated to its own cardinality — the one caller
    (minhash_candidates) passes ``docs.select(id, text)``. The task
    estimate uses the 128 MB ``maxPartitionBytes`` DEFAULT; a session
    that lowers that conf gets real scans MORE parallel than the
    estimate, so the guard can only err toward a redundant — and
    cap-bounded — slim shuffle, never toward starving."""
    sess = df.sparkSession
    total = local_scan_bytes(df)
    if total is None:
        return df
    if _should_spread(total, sess.sparkContext.defaultParallelism):
        return df.repartition(
            sess.sparkContext.defaultParallelism, F.col(key_col)
        )
    return df


def local_scan_bytes(df: DataFrame, cap: int = SCAN_SPREAD_BYTES_CAP) -> int | None:
    """Leaf-file byte total of a LOCAL scan-backed frame, or None when
    the input is non-local, unlistable, or already past ``cap`` (the
    caller's decision is determined at the cap — don't pay O(files)
    driver stat calls on a large input). Shared by spread_small_scan
    and the similarity operators' small-fixture parallelism guards."""
    try:
        total = 0
        for f in df.inputFiles():
            if not f.startswith("file:"):
                return None
            total += os.path.getsize(f[len("file:"):])
            if total > cap:
                return None
    except Exception:  # noqa: BLE001 — estimation only, never load-bearing
        return None
    return total


def minhash_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b) sharing ≥1 band, with exact
    word-set Jaccard (percent, half-up) for verification.

    Defaults are the production s-curve (config.MINHASH_K/LSH_BANDS,
    threshold ≈ 0.71); the sf0.01 demo query pins the permissive demo
    constants explicitly.

    Signature shape: explode shingles → ONE md5 per shingle reduced to a
    31-bit base hash → k universal-hash permutations (multiply-add mod
    2^31-1, pure codegen arithmetic) → k min() aggregates, ONE
    map-side-combinable shuffle on doc id. Two rejected forms, both
    measured: per-(seed,shingle) md5 costs k digests per shingle (26 s
    at k=128/sf0.1 vs ~3 s); the per-row array form additionally
    re-evaluates the shingle lambda k times (no CSE across higher-order
    lambdas — ~40× on top). The explode side rides spread_small_scan:
    a starved scan (tiny compressed fixture) is hash-spread before the
    ~100× shingle blow-up; a corpus-sized input is never reshuffled."""
    pre = spread_small_scan(
        docs.select(F.col(id_col), F.col(text_col)), id_col
    ).select(
        F.col(id_col),
        F.col(text_col).alias("_txt"),
        words(F.col(text_col)).alias("_ws"),
    )
    sh = pre.select(
        F.col(id_col),
        F.explode(shingles_of_words(F.col("_ws"), F.col("_txt"))).alias("s"),
    )

    def _build_mins() -> list[Column]:
        base = shingle_base_hash(F.col("s"))
        out = []
        for i in range(k):
            a_i, b_i = uhash_params(i)
            # Negative result (r14, guide §2.3 "narrower types"): the
            # values are < 2^31-1 (mod a Mersenne prime), but casting
            # the min to INT does NOT shrink the agg shuffle — UnsafeRow
            # stores every fixed-width field in an 8-byte slot, and the
            # longs' high bytes were already zero, so the 100× decade
            # shuffle read 567.54 MB to the hundredth either way.
            # Shrinking this exchange needs the 128 mins PACKED into one
            # variable-length column, which has no builtin elementwise
            # min aggregate — not worth a custom buffer for ~290 MB.
            out.append(
                F.min((base * F.lit(a_i) + F.lit(b_i)) % F.lit(UHASH_M)).alias(
                    f"minhash_{i}"
                )
            )
        return out

    mins = sh.groupBy(id_col).agg(
        *_memoized(("minhash_mins", k), _build_mins)
    )
    wsets = docs.select(
        F.col(id_col), F.array_distinct(words(F.col(text_col))).alias("wset")
    )
    sig_cols = [f"minhash_{i}" for i in range(k)]
    # band join on SLIM rows (id, band, key) only — the word-set arrays
    # must not ride through the bands× explode and both self-join sides
    # (measured: carrying them tripled q35's wall time at sf0.1); they
    # join back onto the tiny distinct candidate-pair set instead.
    banded = mins.select(
        id_col, F.posexplode(lsh_bands(sig_cols, bands=bands)).alias("band_id", "band_key")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    pairs = cand.join(
        wsets.select(F.col(id_col).alias("id_a"), F.col("wset").alias("wa")), "id_a"
    ).join(
        wsets.select(F.col(id_col).alias("id_b"), F.col("wset").alias("wb")), "id_b"
    )
    inter = F.size(F.array_intersect("wa", "wb"))
    union = F.size(F.array_union("wa", "wb"))
    return pairs.select(
        "id_a",
        "id_b",
        F.floor(inter * 100.0 / union + 0.5).cast("int").alias("jaccard_pct"),
    )


def _unpersist_local_checkpoint(df: DataFrame) -> None:
    """Eagerly free a localCheckpoint's persisted blocks.

    ``df.rdd.unpersist()`` is a silent no-op here: DataFrame.rdd builds
    a NEW derived (never-persisted) RDD, as does queryExecution().toRdd()
    — both verified against sc.getPersistentRDDs(). The RDD that
    localCheckpoint actually persisted is the one inside the analyzed
    LogicalRDD node, so that is what must be unpersisted (unit:
    tests/test_dedup_clusters.py::test_checkpoint_blocks_freed)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # best-effort; ContextCleaner GC remains the backstop


def neardup_clusters(
    docs: DataFrame,
    jaccard_pct_min: int = 80,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over the near-dup graph: every document gets
    the min doc_id of its duplicate cluster (singletons label themselves).

    The dedup endgame — candidate pairs alone can't answer "keep one per
    duplicate group" when near-duplication is transitive (A~B, B~C but
    A≁C must still collapse to one survivor). Edges are the banded
    MinHash candidates verified at ≥ ``jaccard_pct_min`` exact Jaccard;
    components come from iterative min-label propagation: each pass
    joins labels across edges and keeps the elementwise min, until a
    pass changes nothing. Iterations are O(component diameter) — for
    near-dup graphs that's tiny (duplicate groups are near-cliques), so
    3-4 passes at any corpus size; each pass is one join + one groupBy
    on the edge list, data never leaves the cluster, and the driver
    reads ONE count per pass to detect the fixpoint.
    """
    pairs = minhash_candidates(docs, id_col, text_col, k=k, bands=bands)
    edges = (
        pairs.filter(F.col("jaccard_pct") >= jaccard_pct_min)
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    # symmetric edge list so min labels flow both directions
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).cache()
    labels = docs.select(F.col(id_col), F.col(id_col).alias("cluster_id"))
    # max_iters propagation passes + 1 verification pass: convergence is
    # only observable as a pass with changed == 0, so a component whose
    # labels stabilize exactly on pass max_iters must still be accepted
    prev_ckpt = None
    for _ in range(max_iters + 1):
        # neighbour minimum for every node that has edges
        nbr = (
            sym.join(
                labels.select(
                    F.col(id_col).alias("src"), F.col("cluster_id").alias("src_label")
                ),
                "src",
            )
            .groupBy("dst")
            .agg(F.min("src_label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr, labels[id_col] == nbr["dst"], "left")
            .select(
                F.col(id_col),
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nbr_label"), F.col("cluster_id"))
                ).alias("cluster_id"),
            )
        )
        # localCheckpoint: materialize AND truncate lineage — an
        # iterative loop otherwise stacks a join-on-join plan per pass
        # (O(iters) planning cost, eventual analyzer blowup at scale).
        # On a cluster that must survive executor loss, swap for
        # reliable checkpoint(dir); kmeans_train sidesteps the issue by
        # round-tripping k tiny rows through the driver instead.
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), id_col)
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        # free the PREVIOUS pass's checkpoint blocks eagerly — waiting
        # for ContextCleaner GC holds O(iters) label copies in executor
        # storage on a long run
        if prev_ckpt is not None:
            _unpersist_local_checkpoint(prev_ckpt)
        prev_ckpt = new_labels
        labels = new_labels
        if changed == 0:
            break
    else:
        sym.unpersist()
        raise RuntimeError(
            f"neardup_clusters did not converge within max_iters={max_iters} "
            "(a component's diameter exceeds it); labels would be silently "
            "inconsistent — raise max_iters for chain-shaped duplicate sets"
        )
    sym.unpersist()
    return labels


def simhash(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """``bits``-bit SimHash per document from word-level md5 hashes.

    Bit b's vote comes from 32-bit words carved out of the md5 hex (8 hex
    chars each), so any bits ≤ 128 works; 64 (the web-dedup standard) is
    the default. Bit 63 of the assembled fingerprint is the sign bit of
    the long — shiftleft wraps it without an ANSI overflow (bitwise op),
    and the summation stays in range because the negative sign-bit term
    can only move the non-negative partial sum downward.
    """
    # Same starved-scan guard as minhash_candidates: the word explode
    # multiplies rows ~200× inside the scan task, so a one-file fixture
    # runs the whole vote computation single-threaded without it
    # (no-op on corpus-sized inputs).
    tok = spread_small_scan(docs.select(id_col, text_col), id_col).select(
        id_col, F.explode(words(F.col(text_col))).alias("w")
    )
    n_words32 = (bits + 31) // 32
    for wi in range(n_words32):
        h = F.conv(F.substring(F.md5("w"), 1 + 8 * wi, 8), 16, 10).cast("long")
        tok = tok.withColumn(f"h{wi}", h)
    bit_sums = [
        F.sum(
            F.when(
                F.shiftright(f"h{b // 32}", b % 32).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*bit_sums)
    sim = None
    for b in range(bits):
        one = F.lit(1).cast("long")
        term = F.when(F.col(f"s{b}") > 0, F.shiftleft(one, b)).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim + term
    return agg.select(F.col(id_col), sim.cast("long").alias("simhash"))
