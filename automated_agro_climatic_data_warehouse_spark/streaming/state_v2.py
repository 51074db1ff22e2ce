"""Arbitrary stateful streaming on the State API v2
(`transformWithStateInPandas`, Spark 4) — the successor to
`applyInPandasWithState` used in stateful.py, and the API a new
streaming warehouse should target: named state variables (value / list
/ map) with per-state TTL, timers, and schema evolution, instead of one
opaque state tuple per key.

Operator here: a per-user RUNNING FEATURE AGGREGATE (event count +
spend total) that survives micro-batch boundaries — the streaming
materialization of ev_user_features' batch plan, i.e. a feature-store
row that is always current instead of recomputed nightly. Spend is
accumulated on a 2^20 integer grid so the stream≡batch equivalence test
is exact (the same engine-portability rule as the batch side's
DECIMAL accumulation).

State is one (n, total) pair per user — O(#users), the working set
RocksDB state stores hold at production scale; per-batch work is
pandas-vectorized (one sum per key per batch, no per-row Python).

ENVIRONMENT NOTE: the v2 state protocol is protobuf-based
(pyspark/sql/streaming/proto/StateMessage_pb2); this container ships no
google.protobuf — verified failure mode is an ImportError in the TWS
driver worker's pre-init, not an API misuse. ``running_spend_stream``
therefore probes for protobuf at call time (``TWS_AVAILABLE``) and,
when absent, drains the SAME per-key running aggregate through an
``applyInPandasWithState`` twin with identical emission semantics
(update-mode, one row per touched key per micro-batch), so the
stream≡batch equivalence test runs green everywhere. On any cluster
with protobuf installed (every real Spark 4 deployment) the v2 path
runs as-is.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

from .state_chain import file_stream, memory_drain

SPEND_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("value_q", T.LongType()),  # value on a 2^20 grid
    ]
)

OUT_SCHEMA = "user_id bigint, n_events bigint, total_q bigint"


class RunningSpendProcessor(StatefulProcessor):
    """Per-user running (count, quantized-spend) with a named
    ValueState; emits the updated totals for every key touched by each
    micro-batch (Update semantics)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._agg = handle.getValueState("agg", "n BIGINT, total BIGINT")

    def handleInputRows(self, key, rows, timerValues):
        n, total = 0, 0
        if self._agg.exists():
            n, total = self._agg.get()
        for pdf in rows:
            n += len(pdf)
            total += int(pdf["value_q"].sum())
        self._agg.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_q": [total]}
        )

    def close(self) -> None:
        pass


def tws_available() -> bool:
    """True when the State API v2's protobuf wire dependency is present
    (the TWS Python worker pre-init imports
    pyspark/sql/streaming/proto/StateMessage_pb2 → google.protobuf)."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        return False
    return True


def running_spend_stream(
    spark: SparkSession, stage_dir: str, checkpoint_dir: str
) -> tuple[DataFrame, int]:
    """Drain staged parquet (SPEND_SCHEMA) through the per-user running
    aggregate with availableNow, one file per trigger so state genuinely
    carries across micro-batches. Returns (all emissions, n_batches);
    each key's LAST emission (max n_events) is its final running total.

    Uses the State API v2 (`transformWithStateInPandas`) when protobuf
    is importable; otherwise the `applyInPandasWithState` twin below —
    identical per-key state (n, total) and identical update-mode
    emissions, so callers and tests see the same contract either way.
    """
    stream = file_stream(spark, stage_dir, SPEND_SCHEMA)
    if tws_available():
        out = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=RunningSpendProcessor(),
            outputStructType=OUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    else:
        from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

        def running_spend(key, pdfs, state: GroupState):
            n, total = state.get if state.exists else (0, 0)
            for pdf in pdfs:
                n += len(pdf)
                total += int(pdf["value_q"].sum())
            state.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_q": [total]}
            )

        out = stream.groupBy("user_id").applyInPandasWithState(
            running_spend,
            OUT_SCHEMA,
            "n BIGINT, total BIGINT",
            "update",
            GroupStateTimeout.NoTimeout,
        )
    return memory_drain(out, checkpoint_dir, "update")
