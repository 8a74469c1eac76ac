"""Metric math for the benchmark: percentiles, detection lag, parsing of
Structured Streaming progress records, and process memory.

Pure Python with no Spark import, so the self-tests run without a JVM.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field


def percentile(values, q: float) -> float:
    """The q-th percentile (0-100) with linear interpolation between order
    statistics, as NumPy's default method computes it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summary(values) -> dict:
    """Median, 95th percentile and the sample count behind them."""
    p95 = percentile(values, 95)
    return {
        "n": len(values),
        "p50": percentile(values, 50),
        "p95": p95,
        # samples above the 95th percentile; below ten it is not well
        # supported by the run
        "n_beyond_p95": sum(1 for v in values if v > p95),
    }


def parse_time(s: str) -> float:
    """ISO-8601 timestamp (progress ``timestamp`` or a sink row's) -> epoch s."""
    s = s.strip()
    if s.endswith("Z"):
        s = s[:-1] + "+00:00"
    t = dt.datetime.fromisoformat(s)
    if t.tzinfo is None:
        t = t.replace(tzinfo=dt.timezone.utc)
    return t.timestamp()


@dataclass
class Batch:
    """One executed micro-batch, from its StreamingQueryProgress record."""

    batch_id: int
    start: float  # epoch s the trigger fired
    duration_s: float  # triggerExecution
    input_rows: int
    phases: dict  # durationMs keys -> seconds
    state: list = field(default_factory=list)  # stateOperators entries
    sources: list = field(default_factory=list)

    @property
    def end(self) -> float:
        """When the batch finished: its sink output and commit are durable."""
        return self.start + self.duration_s


def as_dict(progress) -> dict:
    """A progress record as a plain dict, whatever PySpark returned."""
    if isinstance(progress, dict):
        return progress
    if hasattr(progress, "json"):
        return json.loads(progress.json)
    return json.loads(str(progress))


def batches(progress_records) -> list[Batch]:
    """Executed batches in id order.  Idle-trigger reports (no addBatch
    phase: the engine found no data and ran nothing) are dropped, and a
    batch id reported twice keeps its last record."""
    out: dict[int, Batch] = {}
    for rec in map(as_dict, progress_records):
        dur = rec.get("durationMs") or {}
        if "addBatch" not in dur:
            continue
        out[int(rec["batchId"])] = Batch(
            batch_id=int(rec["batchId"]),
            start=parse_time(rec["timestamp"]),
            duration_s=dur.get("triggerExecution", 0) / 1000.0,
            input_rows=int(rec.get("numInputRows", 0)),
            phases={k: v / 1000.0 for k, v in dur.items()},
            state=list(rec.get("stateOperators") or []),
            sources=list(rec.get("sources") or []),
        )
    return [out[k] for k in sorted(out)]


def phase_total(bs: list[Batch], phase: str) -> float:
    return sum(b.phases.get(phase, 0.0) for b in bs)


def state_total(bs: list[Batch], key: str) -> float:
    """Sum of a stateOperators field over batches and operators."""
    return sum(float(op.get(key, 0) or 0) for b in bs for op in b.state)


def state_last(bs: list[Batch], key: str) -> float:
    """A stateOperators gauge (rows, bytes) at the last batch."""
    if not bs:
        return 0.0
    return sum(float(op.get(key, 0) or 0) for op in bs[-1].state)


def detection_lags(final_rows, commit_time: dict, idle_timeout_s: float) -> list[float]:
    """Per finalized flow: when its row's batch committed, minus the time
    the flow could first be known finished (last packet's creation time
    plus the idle timeout).  ``final_rows`` are (batch_id, last_packet_ts)
    pairs; a row whose batch has no progress record is an error."""
    return [
        commit_time[bid] - (last_ts + idle_timeout_s) for bid, last_ts in final_rows
    ]


def peak_rss_kb(root_pid: int) -> dict:
    """Peak resident memory (VmHWM, kB) of ``root_pid`` and each of its
    descendants, keyed by "pid:command": given the Spark JVM, the JVM and
    its Python workers."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out = {}
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{pid}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0])
    return out


@dataclass
class Result:
    """A workload's outcome: operations attempted and failed, and metrics
    as name -> (value, unit)."""

    attempted: int
    failed: int
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
