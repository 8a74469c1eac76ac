"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Workloads: live_accum and headline_batch
(see perfbench/README.md).  Prints one JSON object as its last stdout line:

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": number, "unit": str}}}

with the end-to-end metrics when --trace 0 and the per-layer metrics when
--trace 1.  Both sets, with sample counts and the raw per-batch and
per-query records, are also written to .perfbench_work/results/.  A run
that cannot import the engine, or whose workload raises, exits non-zero
without a result line.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from headline_batch import HEADLINE  # noqa: E402 — needs the repository root

WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("live_accum", "headline_batch")

END_TO_END = {
    "setup_s": "s", "peak_rss_mb": "MB", "latency_p50_s": "s",
    "latency_p95_s": "s", "throughput_per_s": "1/s",
}
# Every workload reports every per-layer metric; a layer the workload
# does not run reports 0.
PER_LAYER = {
    **{f"stream.{k}": u for k, u in (
        ("batches", "count"), ("batch_p50_s", "s"), ("batch_p95_s", "s"),
        ("batch_mean_s", "s"), ("add_batch_s", "s"), ("query_planning_s", "s"),
        ("wal_commit_s", "s"), ("commit_offsets_s", "s"), ("other_s", "s"))},
    "sources.backlog_s": "s",
    **{f"stateful_accum.{k}": u for k, u in (
        ("update_s", "s"), ("timeout_s", "s"), ("state_commit_s", "s"),
        ("state_rows", "count"), ("state_bytes", "bytes"),
        ("groups_updated", "count"), ("final_share", "ratio"))},
    **{f"sessionize_stream.{k}": u for k, u in (
        ("update_s", "s"), ("emit_s", "s"), ("state_commit_s", "s"),
        ("state_rows", "count"), ("state_bytes", "bytes"),
        ("late_rows_dropped", "count"))},
    "replay.pkts_per_s": "1/s",
    "sources.decode_s": "s",
    "features_array.batch_s": "s",
    "ml.score_s": "s", "ml.flows_scored": "count",
    "sinks.write_s": "s", "sinks.rows": "count",
    **{f"queries.{q}.{k}": u for q in HEADLINE for k, u in (
        ("wall_s", "s"), ("build_s", "s"), ("catalyst_s", "s"),
        ("exec_s", "s"), ("jobs", "count"))},
}


def process_start_time() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def configure_env(work: str) -> None:
    """Session environment: every core of this machine, a JVM heap sized to
    it, the repo root on the Python workers' path, and all working files
    inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(2, int(mem_gb / 4)))}g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.pop("SPARK_GRAFT_ROCKSDB", None)


class Run:
    """What a workload gets: its arguments, a working dir, the session, and
    the clock.  A workload calls ``setup_done()`` just before its first
    timed operation."""

    def __init__(self, args, work: str, t_process: float):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.t_process = t_process
        self.setup_s: float | None = None
        self.spark = None

    def setup_done(self) -> None:
        """Set-up ends and the measured part begins."""
        self.setup_s = time.time() - self.t_process

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self):
        from anti_ddos_spark.session import get_spark

        # The heap has a fixed maximum (spark.driver.memory) and grows on
        # demand, so the JVM's peak resident memory follows what the program
        # touches.  The serial collector grows it by how much data survives
        # collection; G1's growth and young-generation sizing follow GC pause
        # times, which moved peak memory by 10-20% from run to run on a
        # shared host.
        java_opts = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:+UseSerialGC"
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.driver.extraJavaOptions": java_opts,
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.sql.streaming.numRecentProgressUpdates": "10000",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def pool_peaks_mb(self) -> dict:
        """Peak used MB of each JVM memory pool (heap generations, metaspace,
        code cache), from the memory MXBeans."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return {p.getName(): p.getPeakUsage().getUsed() / 2**20
                for p in mf.getMemoryPoolMXBeans()}

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def close(self) -> None:
        """Stop the session, then the JVM it runs in, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_process = process_start_time()
    # a terminated run still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    import anti_ddos_spark  # noqa: F401 — fail before any result if absent
    import metrics

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work)
    workload = importlib.import_module(args.workload)
    run = Run(args, work, t_process)
    try:
        run.start_spark()
        res = workload.run(run)
        rss = metrics.peak_rss_kb(run.jvm_pid())
        res.detail["jvm_pool_peak_mb"] = run.pool_peaks_mb()
        res.e2e["peak_rss_mb"] = (sum(rss.values()) / 1024, "MB")
        res.detail["peak_rss_kb"] = rss
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)
    res.e2e["setup_s"] = (run.setup_s, "s")

    results_dir = os.path.join(WORK_ROOT, "results")
    os.makedirs(results_dir, exist_ok=True)
    stem = os.path.join(results_dir, f"{args.workload}-seed{args.seed}")
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "correct": res.failed == 0,
        "attempted": res.attempted, "failed": res.failed,
        "end_to_end": {k: v for k, (v, _) in res.e2e.items()},
        "per_layer": {k: v for k, (v, _) in res.layers.items()},
        "detail": res.detail,
    }
    if args.trace:
        # tracing overhead: this traced run's end-to-end figures against
        # the untraced run of the same workload and seed, when one exists
        try:
            with open(stem + "-trace0.json") as f:
                plain = json.load(f)["end_to_end"]
            record["trace_overhead"] = {
                k: record["end_to_end"][k] - plain[k]
                for k in plain if k in record["end_to_end"]
            }
        except (OSError, KeyError, ValueError):
            record["trace_overhead"] = None
    with open(f"{stem}-trace{args.trace}.json", "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)

    if args.trace:
        out = {k: {"value": res.layers.get(k, (0.0,))[0], "unit": u} for k, u in PER_LAYER.items()}
    else:
        out = {k: {"value": res.e2e[k][0], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
