"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}. Each query is fully executed via a
count-collapsing noop action (write to a no-op sink would hide result
materialization; we use .foreach-free collect of an agg summary to force
every operator while keeping driver transfer negligible).

Decade mode (round-6 verdict task #6): ``python bench.py --sf 10x``
builds a 10x replication of sf0.1's events/documents/embeddings (reusing
scripts/scale_probe.py's id-remapped replication) and times the
table-compatible headline subset at that scale, writing the result to
BENCH_SCALE10X.json. The DEFAULT run then embeds that file (marked
``"cached": true`` with its build timestamp) as a ``scale10x`` block in
the one-line JSON, so the per-round BENCH artifact carries both scales
without the driver's bench run paying the multi-minute replication cost.
``--sf 100x`` does the same for documents+embeddings at 100x
(BENCH_SCALE100X.json, block ``scale100x``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SCALE10X_RESULT = os.path.join(REPO, "BENCH_SCALE10X.json")
SCALE100X_RESULT = os.path.join(REPO, "BENCH_SCALE100X.json")

# the decade dirs replicate these sf0.1 tables (scripts/scale_probe.py)
DECADE_TABLES = ("events", "documents", "embeddings")

# `--sf` → run_decade arguments.
# 10x: headline queries whose inputs (events/documents/embeddings) exist
# in the replicated decade dir; the TPC-H-table queries have no 10x twin.
# q42 is the ORACLE-PINNED fixed-parameter demo (static bucket space, so
# its decade number grows superlinearly by design — PERF.md "parameter
# saturation"); the neardup_adaptive_params probe timed next to it is
# the production scale path (lsh_planes_for occupancy-constant sizing).
# 100x (round-6 verdict task #7): adaptive-parameter / scale-safe paths
# only — the fixed-demo forms (q42 et al.) were already adjudicated as
# deliberate saturation exhibits at 10x, and the events table at 100x is
# 100M rows of fixture replication that the q24/q20 decade story already
# covers. documents+embeddings replicate cheaply.
DECADES = {
    "10x": (
        10,
        [
            "q20_event_sessions",
            "q24_flow_features_full",
            "q35_minhash_prod",
            "q37_curation_funnel",
            "q42_cosine_neardup_pairs",
        ],
        DECADE_TABLES,
        SCALE10X_RESULT,
    ),
    "100x": (
        100,
        ["q35_minhash_prod", "q103_curriculum_order", "q104_epoch_shuffle"],
        ("documents", "embeddings"),
        SCALE100X_RESULT,
    ),
}

HEADLINE = [
    "q01_pricing_summary",
    "q02_filter_project",
    "q03_join_revenue",
    "q05_semi_join",
    "q08_window_rank",
    "q09_running_sum",
    "q12_distinct_counts",
    "q16_json_extract",
    "q20_event_sessions",
    "q21_event_iat_stats",  # demoted to EXTRA_QUERIES; resolved via full_registry
    "q24_flow_features_full",
    # round 2: track the LLM-pipeline plans too — banded MinHash dedup
    # at the production s-curve (the demo-parameter q32 is intentionally
    # permissive banding and goes near-quadratic at sf0.1), LSH near-dup
    # (replaced r1's label-bucketed all-pairs), and the curation funnel
    "q35_minhash_prod",
    "q42_cosine_neardup_pairs",
    "q37_curation_funnel",
]


def _host_probe_factory(sf_dir: str = "/root/testdata/sf0.1"):
    """Cheap same-box host-speed probe (r13 verdict task #1: the 10x/100x
    walls carried no anchor, so weather claims about their run-to-run
    movement were unfalsifiable). One DuckDB connection, warmed once,
    running q24's oracle at ``sf_dir`` — real aggregation CPU, min-of-2
    per sample. (The lighter relational oracles run in ~10-20 ms at the
    oracle sf — timer-noise territory, useless as a load signal.)
    Returns a zero-arg sampler (None on any failure: the probe must
    never fail a bench)."""
    try:
        import duckdb

        from anti_ddos_spark.queries import full_registry

        con = duckdb.connect()
        for n in (
            "region nation customer supplier part orders lineitem "
            "events documents embeddings"
        ).split():
            con.execute(
                f"CREATE VIEW {n} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{n}.parquet')"
            )
        sql = full_registry()["q24_flow_features_full"].sql
        con.execute(sql).fetchall()  # warm
    except Exception:
        return lambda: None

    def sample() -> float | None:
        try:
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                con.execute(sql).fetchall()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            return round(best, 4)
        except Exception:
            return None

    return sample


def run_decade(
    replicas: int, queries: list[str], tables: tuple[str, ...], result_path: str
) -> None:
    """Build (or reuse) a ``replicas``-fold replication of ``tables`` from
    sf0.1, time ``queries`` plus the adaptive near-dup probe there with
    the byte axis, and persist the block for default runs to embed. The
    host probe is sampled before, between and after the queries — the
    anchor track that makes decade walls comparable across sessions."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    import scale_probe

    from anti_ddos_spark.queries import full_registry
    from anti_ddos_spark.session import get_spark

    out_dir = os.environ.get(
        f"SPARK_GRAFT_{replicas}X_DIR", f"/tmp/spark_graft_{replicas}x"
    )
    # UI on: the decade blocks carry an engine-invariant BYTES axis
    # (input read + shuffle written per query, via the status REST API)
    # next to the cache-state-sensitive wall clock — r8 verdict task #5.
    spark = get_spark(
        app_name=f"anti_ddos_spark_bench_{replicas}x",
        extra_conf={"spark.ui.enabled": "true",
                    "spark.ui.retainedStages": "20000",
                    # r9 ADVICE: the SQL REST endpoint (sql_scan_bytes'
                    # bytes axis) retains only 1000 executions by
                    # default — a long decade session can evict the
                    # measured run's executions and silently report 0
                    "spark.sql.ui.retainedExecutions": "20000"},
    )
    if not all(
        os.path.exists(os.path.join(out_dir, f"{t}.parquet", "_SUCCESS"))
        for t in tables
    ):
        scale_probe.build_10x(spark, out_dir, replicas, tables)
    reg = full_registry()
    probes = [(n, reg[n].fn) for n in queries] + [
        ("neardup_adaptive_params", scale_probe.neardup_adaptive_params)
    ]
    probe = _host_probe_factory()
    track: list[list] = []
    t0 = time.perf_counter()

    def _sample() -> None:
        v = probe()
        if v is not None:
            track.append([round(time.perf_counter() - t0, 1), v])

    _sample()
    detail = {}
    for name, fn in probes:
        # min-of-2 after warm: the spill-bound q42 decade point varies
        # ~1.5x run-to-run on a shared-disk box; min is the steady-state
        # claim
        detail[name] = scale_probe.time_query_with_bytes(spark, fn, out_dir, 2)
        _sample()
    vals = sorted(v for _t, v in track)
    timings = {name: d["sec"] for name, d in detail.items()}
    subset = "" if set(tables) == set(DECADE_TABLES) else ", " + "+".join(tables)
    block = {
        "sf": f"{replicas / 10:.1f} ({replicas}x replication of sf0.1{subset})",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "bytes": {
            name: {k: v for k, v in d.items() if k != "sec"}
            for name, d in detail.items()
        },
        "host_anchor": {
            "probe": "duckdb q24_flow_features_full oracle @ sf0.1, min-of-2",
            "track": track,
            "median_sec": vals[len(vals) // 2] if vals else None,
        },
        # a cached block from a machine with another core count is not
        # a regression of this one
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()),
        "built_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    with open(result_path, "w") as f:
        json.dump(block, f, indent=1)
    print(json.dumps(block))


def _stream_startup_floor(spark, runs: int = 3) -> float:
    """Median wall clock of a TRIVIAL availableNow run (1-row parquet →
    memory sink): the fixed query start/stop + checkpoint + batch-round
    cost every streaming row pays before doing any engine work."""
    import tempfile
    import time as _time

    samples = []
    for i in range(runs):
        tmp = tempfile.mkdtemp(prefix="bench_floor_")
        src = os.path.join(tmp, "src")
        spark.createDataFrame([(1,)], "k long").coalesce(1).write.parquet(src)
        t0 = _time.perf_counter()
        q = (
            spark.readStream.schema("k long").parquet(src)
            .writeStream.format("memory")
            .queryName(f"bench_floor_{i}")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        samples.append(_time.perf_counter() - t0)
        spark.catalog.dropTempView(f"bench_floor_{i}")
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
    return sorted(samples)[len(samples) // 2]


def run_all(out_path: str) -> None:
    """Full-registry timing sweep at the oracle sf (round-6 verdict task
    #6): one cold pass over every query in full_registry() so a
    regression in any of the ~120 non-headline plans shows up in the
    round-over-round diff, not only the 14 headline ones. Single pass,
    no warmup — the artifact is a regression radar (compare like against
    like across rounds), not a steady-state throughput claim.

    Streaming rows additionally get a MARGINAL column: cold time minus
    the same-session empty-stream startup floor TIMES the row's
    listener-counted query-lifecycle count (r10 verdict task #8 —
    multi-run rows like q143's three checkpoint-resumed executions pay
    the floor per run), clamped at 0 — the engine-work number the diff
    regresses on (startup noise was the r9 radar's recurring false
    positive).

    Batch rows get the same de-noising treatment (r10 verdict task #2 —
    r10's sweep read 422 s vs r9's 238 s on unchanged plans, every
    batch row inflated by host weather): (a) the sweep embeds a
    PER-SWEEP ANCHOR — the same-box DuckDB headline oracles timed at
    sweep start AND end at the sweep's sf — and records each batch
    row's anchor-NORMALIZED ratio, which is the column round-over-round
    diffs should regress on; (b) the largest batch walls are auto-rerun
    once standalone (one-sided spikes rarely hit twice) and the
    best-of-2 feeds the normalized column.

    Streaming rows get the HOST-SPEED half too (r11 verdict task #2 —
    r11's q118 marginal read +166 % on provably-untouched code while
    the sweep's own anchor swung 2× inside the run; best-of-2 can't
    save back-to-back runs both landing in a loaded window): (a) a
    LIGHT mini-anchor (one representative DuckDB oracle, min-of-2,
    <1 s) is sampled at sweep start, every ~20 rows, and at end —
    giving a time-LOCAL host-speed track the two full anchors can't;
    each streaming row's marginal is normalized by the track value
    interpolated at its own measurement time
    (``queries_streaming_marginal_normalized`` — the regress-on
    column); (b) after the batch reruns, the largest streaming
    marginals are re-run once at sweep END (the box's quietest window,
    with a fresh startup floor) and the final marginal is the best of
    the mid-sweep and end-of-sweep measurements."""
    import time as _time

    from pyspark.sql import functions as F

    from anti_ddos_spark.queries import full_registry
    from anti_ddos_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

    def _anchor() -> float | None:
        try:
            sys.path.insert(
                0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "scripts")
            )
            import duck_anchor

            return float(duck_anchor.measure(sf_dir)["value"])
        except Exception:
            return None

    anchor_start = _anchor()
    spark = get_spark(app_name="anti_ddos_spark_bench_all")
    spark.sparkContext.setLogLevel("ERROR")
    floor = _stream_startup_floor(spark)
    reg = full_registry()

    # Every row that runs a REAL streaming query. At the oracle sf their
    # wall clock is dominated by query start/stop + availableNow rounds,
    # which scatters 7.9-18 s on identical code (r9 adjudication) — so
    # the sweep also records the MARGINAL time (cold minus a same-session
    # empty-stream floor), the engine-work column the round-over-round
    # diff should regress on (r9 verdict task #4).
    from anti_ddos_spark.queries import streamops

    streaming = set(streamops.QUERIES) | set(streamops.EXTRA_QUERIES)

    # light host-speed probe (r11 verdict task #2), cheap enough to
    # sample inside the sweep: a time-LOCAL anchor track where the two
    # full anchors only bracket it. Streaming marginals normalize against
    # the track value interpolated at their own measurement time.
    sweep_t0 = _time.perf_counter()
    probe = _host_probe_factory(sf_dir)
    anchor_track: list[list[float]] = []

    def _track_sample() -> None:
        v = probe()
        if v:
            anchor_track.append([round(_time.perf_counter() - sweep_t0, 1), v])

    def _track_interp(t: float) -> float | None:
        if not anchor_track:
            return None
        pts = sorted(anchor_track)
        if t <= pts[0][0]:
            return pts[0][1]
        if t >= pts[-1][0]:
            return pts[-1][1]
        for (ta, va), (tb, vb) in zip(pts, pts[1:]):
            if ta <= t <= tb:
                w = (t - ta) / (tb - ta) if tb > ta else 0.0
                return va + w * (vb - va)
        return pts[-1][1]

    _track_sample()

    # Multi-run marginal discipline (r10 verdict task #8): rows like
    # q143 deliberately run SEVERAL checkpoint-resumed streaming
    # queries per pass — one startup floor under-corrects them and
    # their sweep numbers read as engine regressions. Count the actual
    # query lifecycles per pass with a listener and subtract n × floor.
    from pyspark.sql.streaming import StreamingQueryListener

    class _StartCounter(StreamingQueryListener):
        def __init__(self):
            self.n = 0

        def onQueryStarted(self, event):
            self.n += 1

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    starts = _StartCounter()
    spark.streams.addListener(starts)

    def once(name: str) -> float:
        q = reg[name]
        t0 = _time.perf_counter()
        df = q.fn(spark, sf_dir)
        df.agg(
            F.count(F.lit(1)), F.max(F.xxhash64(*df.columns))
        ).collect()
        return _time.perf_counter() - t0

    timings: dict[str, float] = {}
    best2: dict[str, float] = {}
    run_counts: dict[str, int] = {}
    stream_at: dict[str, float] = {}
    last_sample = [0.0]

    def _maybe_sample() -> None:
        # time-based cadence: index-based sampling bunches in the fast
        # batch block and leaves the slow streaming block (10-30 s per
        # row) unsampled for hundreds of seconds
        now = _time.perf_counter() - sweep_t0
        if now - last_sample[0] >= 60.0:
            _track_sample()
            last_sample[0] = now

    batch_at: dict[str, float] = {}
    for name in reg:
        _maybe_sample()
        t1 = once(name)
        timings[name] = round(t1, 3)
        batch_at[name] = _time.perf_counter() - sweep_t0
        if name in streaming:
            # startup spikes (checkpoint fsync, GC, query lifecycle)
            # are one-sided noise that rarely hits both runs; the diff
            # regresses on best-of-2 minus the measured startup floor
            before = starts.n
            t2 = once(name)
            _time.sleep(0.3)  # listener bus delivery settle
            run_counts[name] = max(1, starts.n - before)
            best2[name] = round(min(t1, t2), 3)
            stream_at[name] = _time.perf_counter() - sweep_t0
    marginal = {
        name: round(max(t - floor * run_counts.get(name, 1), 0.0), 3)
        for name, t in best2.items()
    }
    # auto-rerun the largest batch walls standalone: a GC pause or page
    # cache miss lands on ONE run; min-of-2 on the heaviest rows removes
    # the spikes that dominated past rounds' manual adjudication
    batch_names = [n for n in timings if n not in streaming]
    batch_best2: dict[str, float] = {}
    for name in sorted(batch_names, key=lambda n: -timings[n])[:8]:
        t2 = once(name)
        if t2 < timings[name]:
            batch_at[name] = _time.perf_counter() - sweep_t0
        batch_best2[name] = round(min(timings[name], t2), 3)
    # end-of-sweep streaming rerun (r11 verdict task #2): the largest
    # marginals get one more run in the sweep's quietest window with a
    # FRESH startup floor; the final marginal is the best of mid-sweep
    # and end-of-sweep — a loaded mid-sweep window can no longer be the
    # only evidence on a heavy streaming row
    _track_sample()
    floor_end = _stream_startup_floor(spark)
    end_rerun: dict[str, float] = {}
    for name in sorted(marginal, key=lambda n: -marginal[n])[:6]:
        before = starts.n
        t3 = once(name)
        _time.sleep(0.3)
        runs3 = max(1, starts.n - before)
        m3 = round(max(t3 - floor_end * runs3, 0.0), 3)
        end_rerun[name] = m3
        if m3 < marginal[name]:
            marginal[name] = m3
            best2[name] = round(min(best2[name], t3), 3)
            stream_at[name] = _time.perf_counter() - sweep_t0
    anchor_end = _anchor()
    _track_sample()
    # host-speed-normalized streaming marginal, SECONDS-preserving:
    # scale each marginal by (track median / track value local to its
    # measurement) — a row measured in a 2x-loaded window halves, one
    # in a fast window grows, and the column compares directly across
    # rounds in familiar units. (Dividing by the raw ~10 ms mini
    # anchor would be consistent but unreadable.) The regress-on column
    # for streaming rows; batch rows regress on queries_batch_normalized.
    marginal_normalized = {}
    track_vals = sorted(v for _t, v in anchor_track)
    track_median = (
        track_vals[len(track_vals) // 2] if track_vals else None
    )
    for name, m in marginal.items():
        local = _track_interp(stream_at.get(name, 0.0))
        if local and track_median:
            marginal_normalized[name] = round(m * track_median / local, 3)
    # batch rows get the SAME time-local host correction (r12 close-out
    # observation: the two-point anchor mean inherits the anchor's own
    # in-sweep swing — r11's moved 2x between start and end, skewing
    # every batch-normalized comparison); this column is
    # seconds-preserving host-corrected wall, the batch regress-on
    # column once both sides of a diff carry it
    batch_hostnorm = {}
    for name in batch_names:
        local = _track_interp(batch_at.get(name, 0.0))
        if local and track_median:
            batch_hostnorm[name] = round(
                batch_best2.get(name, timings[name])
                * track_median / local,
                3,
            )
    anchors = [a for a in (anchor_start, anchor_end) if a]
    anchor = sum(anchors) / len(anchors) if anchors else None
    normalized = (
        {
            n: round(batch_best2.get(n, timings[n]) / anchor, 4)
            for n in batch_names
        }
        if anchor
        else {}
    )
    out = {
        "metric": "full_registry_sweep_cold",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "n_queries": len(timings),
        "queries": timings,
        "stream_startup_floor_sec": round(floor, 3),
        "stream_startup_floor_end_sec": round(floor_end, 3),
        "queries_streaming_best2": best2,
        "queries_streaming_marginal": marginal,
        # time-local host-speed track (mini DuckDB oracle, min-of-2) and
        # the streaming regress-on column it normalizes
        "mini_anchor_track": anchor_track,
        "mini_anchor_median": track_median,
        "queries_streaming_marginal_normalized": marginal_normalized,
        "queries_streaming_end_rerun": end_rerun,
        # streaming query lifecycles per pass (listener-counted):
        # marginal subtracts n × floor, so multi-run rows (q143's three
        # checkpoint-resumed executions) stop reading as regressions
        "queries_streaming_runs": run_counts,
        "sweep_anchor_sec": {
            "start": anchor_start,
            "end": anchor_end,
            "mean": round(anchor, 3) if anchor else None,
        },
        "queries_batch_best2": batch_best2,
        "queries_batch_hostnorm": batch_hostnorm,
        # ratio of each batch row (best-of-2 where rerun) to the
        # same-sweep DuckDB anchor — host-speed cancels; regress here
        "queries_batch_normalized": normalized,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(out))


def run_diff(path_a: str, path_b: str, threshold: float) -> None:
    """Mechanized round-over-round sweep diff (r11 verdict task #8;
    r12 tasks #2/#8): compare two BENCH_ALL artifacts on their
    REGRESS-ON columns — ``queries_batch_hostnorm`` (seconds-preserving
    host-corrected wall; falls back like-for-like to
    ``queries_batch_normalized`` when either side predates it) for
    batch rows and ``queries_streaming_marginal_normalized`` (falling
    back to the raw marginal the same way) for streaming rows — and
    print sorted deltas. A row is FLAGGED when its relative change
    exceeds ``threshold`` AND the absolute move is non-trivial (>0.5 s
    on seconds columns / >0.05 on the ratio column), so sub-noise
    jitter on sub-second rows never pages anyone.

    Streaming rows additionally carry a SCATTER BAND derived from the
    row's own history (every ``BENCH_ALL_r*.json`` beside the
    artifacts, r12 task #8 — streaming marginals scatter 1.4-4.6x on
    identical code, measured r12): with >=2 prior observations the
    band is [min, max] padded 25%, and a row inside its band is never
    flagged, whatever the pairwise delta says. Ends the per-round
    weather-adjudication prose. Prints one human block plus one JSON
    line."""
    import glob as _glob

    with open(path_a) as f:
        a = json.load(f)
    with open(path_b) as f:
        b = json.load(f)

    def _column(art: dict, keys: list[str]) -> tuple[str, dict]:
        for k in keys:
            if art.get(k):
                return k, art[k]
        return keys[-1], {}

    # history for the scatter bands: sibling BENCH_ALL_r*.json artifacts
    # (the compared pair included, de-duplicated by realpath)
    hist_paths: list[str] = []
    seen = set()
    for d in {os.path.dirname(os.path.abspath(p)) or "." for p in (path_a, path_b)}:
        for p in sorted(_glob.glob(os.path.join(d, "BENCH_ALL_r*.json"))):
            rp = os.path.realpath(p)
            if rp not in seen:
                seen.add(rp)
                hist_paths.append(p)
    history: list[dict] = []
    for p in hist_paths:
        try:
            with open(p) as f:
                history.append(json.load(f))
        except (OSError, json.JSONDecodeError):
            continue

    out: dict = {"a": path_a, "b": path_b, "threshold": threshold,
                 "history_artifacts": len(history)}
    # Cross-artifact host-speed check (r14): the hostnorm columns cancel
    # load variance WITHIN a sweep (each row is scaled to its own
    # sweep's mini-anchor median), but if the two sweeps' MEDIANS
    # differ, the columns are in different seconds-units and every
    # small-jobs row shifts together — surface the ratio so a uniform
    # drift isn't read as N independent regressions (measured r14: a
    # +35% mini-median shift flagged 14 untouched batch rows while
    # standalone re-runs matched the older sweep exactly).
    ma, mb = a.get("mini_anchor_median"), b.get("mini_anchor_median")
    if ma and mb:
        out["mini_anchor_medians"] = [ma, mb]
        out["mini_anchor_ratio"] = round(mb / ma, 3)
        if abs(mb / ma - 1.0) > 0.15:
            print(
                f"NOTE: mini-anchor medians differ {ma} -> {mb} "
                f"(x{mb / ma:.2f}) — the sweeps ran at different host "
                "small-job speeds; batch flags in that direction are "
                "suspect, spot-check standalone before adjudicating"
            )
    for kind, keys, fallback_floor in (
        ("batch", ["queries_batch_hostnorm", "queries_batch_normalized"],
         0.05),
        (
            "streaming",
            [
                "queries_streaming_marginal_normalized",
                "queries_streaming_marginal",
            ],
            0.5,
        ),
    ):
        ka, ca = _column(a, keys)
        kb, cb = _column(b, keys)
        if ka != kb:
            # one side predates the preferred column — compare like
            # with like on the last-resort column
            ca = a.get(keys[-1], {})
            cb = b.get(keys[-1], {})
            ka = kb = keys[-1]
        # seconds columns use the 0.5 s absolute floor; the batch
        # RATIO column keeps its 0.05 floor
        abs_floor = (
            fallback_floor if kb == "queries_batch_normalized" else 0.5
        )
        # per-row history on the SAME column (like-for-like)
        hist_col: dict[str, list[float]] = {}
        if kind == "streaming" and history:
            for art in history:
                col = art.get(kb) or {}
                for name, v in col.items():
                    hist_col.setdefault(name, []).append(v)
        rows = []
        for name in sorted(set(ca) & set(cb)):
            va, vb = ca[name], cb[name]
            delta = round(vb - va, 3)
            rel = (vb - va) / va if va > 0 else (0.0 if vb == 0 else 9.99)
            flagged = abs(rel) > threshold and abs(delta) > abs_floor
            row = {
                "query": name,
                "a": va,
                "b": vb,
                "delta": delta,
                "rel": round(rel, 3),
                "flagged": flagged,
            }
            hv = hist_col.get(name, [])
            if flagged and len(hv) >= 2:
                lo = round(min(hv) * 0.75, 3)
                hi = round(max(hv) * 1.25, 3)
                row["band"] = [lo, hi]
                if lo <= vb <= hi:
                    row["flagged"] = False
                    row["in_band"] = True
            rows.append(row)
        rows.sort(key=lambda r: -abs(r["delta"]))

        def _capped(names: set) -> list | str:
            # a column one side predates produces a 100+-name list —
            # summarize it instead of drowning the JSON line
            return sorted(names) if len(names) <= 10 else f"{len(names)} rows"

        out[kind] = {
            "column": kb,
            "flagged": [r for r in rows if r["flagged"]],
            "top_deltas": rows[:10],
            "only_in_a": _capped(set(ca) - set(cb)),
            "only_in_b": _capped(set(cb) - set(ca)),
        }
        print(f"== {kind} ({kb}) ==")
        flagged = [r for r in rows if r["flagged"]]
        if not flagged:
            print(f"  no rows past threshold {threshold:+.0%}")
        for r in flagged:
            print(
                f"  FLAG {r['query']}: {r['a']} -> {r['b']} "
                f"({r['delta']:+}, {r['rel']:+.0%})"
            )
        for r in rows:
            if r.get("in_band"):
                print(
                    f"  band {r['query']}: {r['a']} -> {r['b']} "
                    f"({r['rel']:+.0%}) inside history band "
                    f"[{r['band'][0]}, {r['band'][1]}]"
                )
        for r in rows[: 5 if flagged else 3]:
            if not r["flagged"]:
                print(
                    f"       {r['query']}: {r['a']} -> {r['b']} "
                    f"({r['delta']:+})"
                )
    print(json.dumps(out, sort_keys=True))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf", default=None, help="'10x'/'100x' run the decade benches"
    )
    ap.add_argument(
        "--all",
        action="store_true",
        help="time every full_registry() query at sf0.01 (regression radar)",
    )
    ap.add_argument(
        "--out", default=os.path.join(REPO, "BENCH_ALL.json"),
        help="output path for --all",
    )
    ap.add_argument(
        "--diff", nargs=2, metavar=("A", "B"),
        help="compare two BENCH_ALL artifacts on their regress-on columns",
    )
    ap.add_argument(
        "--threshold", type=float, default=0.25,
        help="relative-change flag threshold for --diff (default 0.25)",
    )
    args = ap.parse_args()
    if args.diff:
        run_diff(args.diff[0], args.diff[1], args.threshold)
        return
    if args.all:
        run_all(args.out)
        return
    if args.sf in DECADES:
        run_decade(*DECADES[args.sf])
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from anti_ddos_spark.queries import full_registry
    from anti_ddos_spark.session import get_spark

    spark = get_spark(app_name="anti_ddos_spark_bench")
    reg = full_registry()

    # JVM/codegen warmup on the smallest sf so per-query numbers measure
    # the plan, not first-call compilation.
    # Warm EVERY headline query AT THE MEASURED SF: whole-stage-codegen
    # compilation of the wide feature plans costs seconds on first
    # execution (measured: q24 5.5 s cold vs 1.6 s steady-state), and AQE
    # produces size-dependent physical plans, so warming at a smaller SF
    # leaves the measured-SF code uncompiled. On a long-lived cluster
    # these compile once per executor lifetime; steady-state is the
    # honest number for scale extrapolation.
    from pyspark.sql import functions as F

    for name in HEADLINE:
        wdf = reg[name].fn(spark, sf_dir)
        wdf.agg(F.count(F.lit(1)), F.max(F.xxhash64(*wdf.columns))).collect()

    timings: dict[str, float] = {}
    for name in HEADLINE:
        q = reg[name]
        t0 = time.perf_counter()
        # Force full execution: count() alone would let Catalyst prune
        # computed columns, so reduce a hash over every output column.
        from pyspark.sql import functions as F

        df = q.fn(spark, sf_dir)
        df.agg(F.count(F.lit(1)), F.max(F.xxhash64(*df.columns))).collect()
        timings[name] = round(time.perf_counter() - t0, 3)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    # decade blocks from the most recent `bench.py --sf 10x/100x` runs
    # (cached: the decade replications are too costly for every
    # round-trip). r13 verdict task #6: the bulky blocks live on a
    # DETAIL line (printed first) and in a committed artifact file —
    # the FINAL printed line stays lean so a bounded tail capture can
    # never truncate the contract again (BENCH_r12's parsed: null).
    detail = {"metric": "headline_queries_detail"}
    for key, path in (("scale10x", SCALE10X_RESULT), ("scale100x", SCALE100X_RESULT)):
        if os.path.exists(path):
            with open(path) as f:
                detail[key] = {**json.load(f), "cached": True}
    # Same-hour DuckDB control (r8 verdict task #8): host drift is the
    # dominant bench noise (judge-adjudicated ratio series 0.61/0.67/
    # 0.69/0.76 across windows whose absolute seconds moved ±40%), so
    # the artifact carries its own anchor and ratio — the regression
    # signal is the RATIO moving >15%, not wall-clock.
    # SPARK_GRAFT_NO_ANCHOR=1 skips the ~25 s control.
    if not os.environ.get("SPARK_GRAFT_NO_ANCHOR"):
        sys.path.insert(0, os.path.join(REPO, "scripts"))
        try:
            import duck_anchor

            anchor = duck_anchor.measure(sf_dir)
            # full per-query anchor on the detail line; value+ratio on
            # the lean contract line (per-query ratios derive from the
            # two queries maps either way)
            detail["duckdb_anchor"] = anchor
            out["duckdb_anchor"] = {
                k: anchor[k] for k in ("metric", "value", "unit", "sf")
                if k in anchor
            }
            if anchor["value"]:
                out["spark_duckdb_ratio"] = round(
                    out["value"] / anchor["value"], 3
                )
        except Exception as ex:  # noqa: BLE001 — the control must never fail the bench
            out["duckdb_anchor_error"] = f"{type(ex).__name__}: {ex}"[:200]
    detail.update({k: out[k] for k in ("value", "queries", "sf") if k in out})
    with open(os.path.join(REPO, "BENCH_HEADLINE_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print(json.dumps(detail))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
