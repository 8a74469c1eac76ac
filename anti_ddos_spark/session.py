"""SparkSession factory with scale-oriented defaults.

Mirrors (and fixes) the reference's session config
(`spark_app/main.py:994-1010`): AQE + partition coalescing + skew-join
handling, Arrow-backed Python exchange, Kryo, UTC session timezone.

Local test mode runs ``local[N]``; on a real cluster the same config block
applies — AQE re-plans shuffle partition counts at runtime so the static
``spark.sql.shuffle.partitions`` is only a ceiling for the first stage.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def rocksdb_conf() -> dict[str, str]:
    """State-store conf for production streaming state (>10M open flows).

    The default HDFS-backed provider keeps every live flow's state in
    executor heap; RocksDB moves it off-heap/on-disk with changelog
    checkpointing — bounded memory at any flow cardinality. Also the
    *required* provider for transformWithStateInPandas (streaming/
    stateful_tws.py). Mirrors the reference's HDFS state dir choice
    (spark_app/main.py:1000) upgraded to the scale-safe backend.

    Provider is read per-query at stream start, so this can be applied
    with spark.conf.set(...) on a live session (see use_rocksdb()) or
    passed as extra_conf to get_spark().
    """
    return {
        "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
        # changelog checkpointing ships per-batch deltas instead of
        # full SST uploads — the production default for large state
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    }


def use_rocksdb(spark: SparkSession) -> None:
    """Switch subsequent streaming queries on this session to RocksDB."""
    for k, v in rocksdb_conf().items():
        spark.conf.set(k, v)


# Measured on the round-7 streaming cardinality ladder (PERF.md): a
# stateful task walks its partition's open keys every batch, and
# ~12.5k groups/task collapsed sustained throughput 20× while ~3.1k
# groups/task ran at offered rate — so size partitions to hold at most
# this many open keys each before adding tasks.
STATE_KEYS_PER_TASK = 3_200


def state_partitions_for(
    n_keys: int,
    cores: int | None = None,
    keys_per_task: int = STATE_KEYS_PER_TASK,
    floor: int = 8,
) -> int:
    """Shuffle/state partition count sized from open-key cardinality —
    the round-7 ladder's lever shipped as a policy instead of a knob
    (r7 verdict task #6).

    Rationale: for stateful streaming operators, group count — not row
    count — is the capacity variable; every open key's state is visited
    every batch, so per-task cost ≈ keys/partitions × group-machinery.
    Too few partitions strand cores (measured: 8 partitions at 100k
    flows → 12.5k groups/task → 13.7k rows/s sustained, 24 of 32 cores
    idle); too many make sub-MB state tasks whose scheduling overhead
    dominates (why the 1k-flow soak wants 8, not 32). The policy:

        partitions = clamp(ceil(n_keys / keys_per_task), floor, cores)

    ``cores`` defaults to this host's parallelism; on a cluster pass
    total executor cores (the same arithmetic then divides keys per
    executor). Set it BEFORE the stream's first start — Structured
    Streaming pins the state partition count into the checkpoint at
    query creation and never rescales it.
    """
    import math

    if cores is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(cpus) if cpus else (os.cpu_count() or 8)
    want = math.ceil(max(1, n_keys) / keys_per_task)
    return min(max(want, floor), max(cores, floor))


def sized_stream_partitions(spark: SparkSession, n_keys: int):
    """Context manager applying ``state_partitions_for(n_keys)`` to
    ``spark.sql.shuffle.partitions`` for the duration of a streaming
    query START (Structured Streaming reads the conf at query creation
    and pins it into the checkpoint; the previous value is restored on
    exit, so batch plans and later queries are untouched).

    This ships the round-7 cardinality policy into the query fns
    instead of leaving it a documented knob: stateful micro-batches pay
    per-partition state-store machinery (open/commit/snapshot) EVERY
    batch, so a toy-cardinality stream on the session's core-count
    default burns partitions × batches of pure overhead — measured r13
    on the stream-stream interval join at the oracle sf: 7-13 s wall at
    32 state partitions vs 2.97-3.04 s at the policy's floor of 8, and
    the 2× run-to-run scatter collapsed with it. On a real-cardinality
    stream the same call sizes UP (keys/3200, capped at cores).

    Contract: single-threaded query start only. The conf is
    session-global, so two concurrent query starts on one session race
    — one query can pin the other's partition count into its
    checkpoint permanently. Fine for this engine's sequential query
    fns and the bench harness; serialize externally (or use separate
    sessions) before starting streams from multiple driver threads."""
    from contextlib import contextmanager

    @contextmanager
    def _ctx():
        key = "spark.sql.shuffle.partitions"
        old = spark.conf.get(key)
        spark.conf.set(key, str(state_partitions_for(n_keys)))
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return _ctx()


def approx_key_count(df, *cols: str) -> int:
    """Distinct-key estimate for sized_stream_partitions — ONE tiny
    aggregate job over the (batch) key frame the streaming fixture is
    built from. approx_count_distinct is deterministic for fixed input;
    the estimate only sizes partitions, never results. Production
    callers with known cardinality should pass it directly instead."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.approx_count_distinct(F.struct(*[F.col(c) for c in cols])).alias("n")
    ).head()
    return int(row["n"]) if row and row["n"] is not None else 1


def driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else half of MemTotal in whole GiB (1g-48g):
    a fixed 48g let a long session's heap outgrow a 16 GB machine's RAM."""
    explicit = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if explicit:
        return explicit
    try:
        with open(meminfo) as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "48g"
    return f"{min(48, max(1, kb // 2**21))}g"


def get_spark(
    app_name: str = "anti_ddos_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Defaults honour the driver environment variables:
    ``SPARK_GRAFT_CPUS`` (local parallelism) — falls back to all cores;
    ``SPARK_GRAFT_DRIVER_MEM`` (driver heap) — see ``driver_memory``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        # Local mode: ~1 partition per core. On a cluster AQE coalesces
        # anyway, so this is a starting ceiling, not a hand-tuned constant.
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.fallback.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Catalyst constraint propagation is O(n²) semanticEquals over the
        # expression tree; with our 80+ wide higher-order array expressions
        # (features_array) a Filter above the feature projection makes the
        # optimizer spin for minutes (observed: foreachBatch micro-batch
        # planning never completing). Constraints only help infer
        # IsNotNull/join filters we already write explicitly.
        .config("spark.sql.constraintPropagation.enabled", "false")
        # Deterministic numerics for the DuckDB oracle; Spark 4 default is
        # ANSI on — keep it, queries guard div-by-zero explicitly.
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
    )
    if os.environ.get("SPARK_GRAFT_ROCKSDB", "") not in ("", "0"):
        for k, v in rocksdb_conf().items():
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, "object"]:
    """Register every parquet table under ``sf_dir`` as a temp view.

    Returns name → DataFrame. Table set matches TESTDATA.md.
    """
    import glob as _glob

    out = {}
    for path in sorted(_glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.splitext(os.path.basename(path))[0]
        df = spark.read.parquet(path)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def table(spark: SparkSession, sf_dir: str, name: str):
    """Read one testdata table lazily (parquet scan, no view side-effect)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
