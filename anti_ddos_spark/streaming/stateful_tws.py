"""transformWithStateInPandas sessionizer — the Spark 4 value-state API.

Third streaming mode beside the session_window path
(sessionize_stream.py) and the applyInPandasWithState accumulator path
(stateful_accum.py), per SURVEY §2.3 G5. Same O(1)-per-flow accumulator
semantics and input — the math is literally shared (`accum_input`,
`update_accumulators`, `_emit_row`) — but expressed through the
``StatefulProcessor`` lifecycle (init → handleInputRows →
handleExpiredTimer → close) instead of a single update closure:

- typed value state (``getValueState`` with an explicit schema) replaces
  the positional GroupState tuple;
- explicit processing-time timers (``registerTimer`` /
  ``handleExpiredTimer``) replace ``setTimeoutDuration`` — the timer is
  re-armed on every batch that touches the flow, so expiry means "idle
  for timeout_ms" exactly like GroupStateTimeout.ProcessingTimeTimeout;
- the API *requires* the RocksDB state store provider
  (``rocksdb_conf()`` in session.py), which is also the production
  answer to >10M open flows: state lives off-heap/on-disk with
  changelog checkpointing instead of in the executor heap.

Scale shape is identical to the accumulator path: one shuffle on the
normalized 5-tuple, ~40 doubles of state per live flow regardless of
flow length, one Arrow batch per (flow, micro-batch).

Reference parity: reimplements the per-flow incremental bookkeeping of
the reference's pandas state machine (spark_app/main.py:254-520) on the
modern engine API; the reference caps per-flow arrays at 1000 packets
(main.py:288-292) while accumulators here are exact at any length.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

from anti_ddos_spark.normalize import FLOW_KEY_COLS
from anti_ddos_spark.streaming.stateful import DEFAULT_TIMEOUT_MS
from anti_ddos_spark.streaming.stateful_accum import (
    OUTPUT_SCHEMA,
    STATE_SCHEMA,
    _OUT_FIELDS,
    _emit_row,
    accum_input,
    pack_state,
    unpack_state,
    update_accumulators,
)

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd


class FlowFeatureProcessor(StatefulProcessor):
    """Per-flow 77-feature accumulator as a typed StatefulProcessor."""

    def __init__(self, timeout_ms: int = DEFAULT_TIMEOUT_MS):
        self._timeout_ms = timeout_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._acc = handle.getValueState("acc", STATE_SCHEMA)

    def _load(self) -> dict | None:
        vals = self._acc.get()
        if vals is None:
            return None
        return unpack_state(vals)

    def _rearm_timer(self, now_ms: int) -> None:
        for ts in self._handle.listTimers():
            self._handle.deleteTimer(ts)
        self._handle.registerTimer(now_ms + self._timeout_ms)

    def handleInputRows(
        self, key: Any, rows: Iterator["pd.DataFrame"], timerValues: Any
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        acc = self._load()
        for pdf in rows:
            if len(pdf):
                acc = update_accumulators(acc, pdf, key)
        if acc is None:
            return
        self._acc.update(pack_state(acc))
        self._rearm_timer(timerValues.getCurrentProcessingTimeInMs())
        yield pd.DataFrame([_emit_row(acc, key, False)], columns=_OUT_FIELDS)

    def handleExpiredTimer(
        self, key: Any, timerValues: Any, expiredTimerInfo: Any
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        acc = self._load()
        self._acc.clear()
        for ts in self._handle.listTimers():
            self._handle.deleteTimer(ts)
        if acc is not None:
            yield pd.DataFrame([_emit_row(acc, key, True)], columns=_OUT_FIELDS)

    def close(self) -> None:
        pass


def tws_flow_features(
    packets: DataFrame, timeout_ms: int = DEFAULT_TIMEOUT_MS
) -> DataFrame:
    """Update-mode flow features via transformWithStateInPandas.

    Requires the RocksDB state store provider on the session (the engine
    rejects the HDFS-backed provider for this operator) — see
    session.rocksdb_conf().
    """
    return accum_input(packets).groupBy(*FLOW_KEY_COLS).transformWithStateInPandas(
        statefulProcessor=FlowFeatureProcessor(timeout_ms),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="ProcessingTime",
    )
