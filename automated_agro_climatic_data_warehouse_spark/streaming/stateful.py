"""Custom stateful streaming operators (`applyInPandasWithState`) —
SURVEY §2.10 deepening: the two state shapes the reference's cron-batch
world cannot express but a streaming warehouse needs.

- ``stateful_dedup_stream``: the reference's idempotency-key gate
  (etl/utils/database.py:49-63) as a STREAM — each key is emitted exactly
  once across ALL micro-batches; duplicates arriving in later batches are
  suppressed by per-key GroupState. Output is the key set alone, which
  makes the operator deterministic under ANY batch split or arrival
  order — the property that lets exactly-once sinks downstream stay
  idempotent.

- ``stateful_sessionize_stream``: gap-based sessionization with explicit
  carry-over state (open session per user survives micro-batch
  boundaries). Emits CLOSED sessions only; each user's open tail session
  stays in state — the same contract as a watermark-governed production
  stream, and the property the batch-equivalence test pins.

Both run as `availableNow` drains over staged parquet (the same
streaming-at-rest harness as streaming/windows.py); at production scale
the source is a landing dir / Kafka topic and the memory sink becomes
`foreachBatch` → upsert.

State is O(#keys) / O(#users) — at 100 TB that is exactly the working
set RocksDB state stores exist for; per-batch work is Arrow-vectorized
(numpy over the batch; the only Python loop is over session segments,
not rows).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .state_chain import file_stream, memory_drain

DEDUP_SCHEMA = T.StructType(
    [
        T.StructField("key_hash", T.StringType()),
        T.StructField("event_id", T.LongType()),
    ]
)

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # nanos-as-long
    ]
)


def stateful_dedup_stream(
    spark: SparkSession, stage_dir: str, checkpoint_dir: str
) -> tuple[DataFrame, int]:
    """Exactly-once key emission across micro-batches. Reads staged
    parquet (DEDUP_SCHEMA) one file per trigger so multi-file stages
    exercise cross-batch state; returns (keys DataFrame, n_batches)."""
    stream = file_stream(spark, stage_dir, DEDUP_SCHEMA)

    def first_sight(key, pdfs, state: GroupState):
        seen_rows = any(len(pdf) for pdf in pdfs)
        if seen_rows and not state.exists:
            state.update((True,))
            yield pd.DataFrame({"key_hash": [key[0]]})

    out = stream.groupBy("key_hash").applyInPandasWithState(
        first_sight,
        "key_hash string",
        "seen boolean",
        "append",
        GroupStateTimeout.NoTimeout,
    )
    return memory_drain(out, checkpoint_dir, "append")


def stateful_sessionize_stream(
    spark: SparkSession,
    stage_dir: str,
    checkpoint_dir: str,
) -> tuple[DataFrame, int]:
    """Closed 30-minute-gap sessions per user; the open tail session stays in
    GroupState (start_us, last_us, n_events) across batches and is never
    emitted. Returns (sessions DataFrame, n_batches)."""
    gap_us = 30 * 60 * 1_000_000
    stream = file_stream(spark, stage_dir, SESSION_SCHEMA)

    def sessionize(key, pdfs, state: GroupState):
        ts = [pdf["ts"].to_numpy(dtype=np.int64) for pdf in pdfs if len(pdf)]
        if not ts:
            return
        us = np.sort(np.concatenate(ts)) // 1000
        if state.exists:
            start, last, n = state.get
        else:
            # open a zero-event session at the first timestamp; the first
            # event is absorbed below (gap 0 is never a boundary)
            start, last, n = int(us[0]), int(us[0]), 0
        # vectorized segmentation: a boundary is a gap (to the previous
        # event; the carried `last` precedes the first) exceeding gap_us.
        # Segment 0 — possibly EMPTY when the very first new event closes
        # the carried session — continues the open session.
        prev = np.concatenate(([last], us[:-1]))
        seg_id = np.cumsum((us - prev) > gap_us)
        n_segs = int(seg_id[-1])
        seg0 = us[seg_id == 0]
        if len(seg0):
            cur = (start, int(seg0[-1]), n + len(seg0))
        else:
            cur = (start, last, n)
        sessions = []
        for s in range(1, n_segs + 1):
            sessions.append(cur)
            seg = us[seg_id == s]
            cur = (int(seg[0]), int(seg[-1]), int(len(seg)))
        state.update(cur)
        if sessions:
            arr = np.asarray(sessions, dtype=np.int64)
            yield pd.DataFrame(
                {
                    "user_id": np.full(len(sessions), key[0], dtype=np.int64),
                    "session_start": arr[:, 0],
                    "session_end": arr[:, 1],
                    "n_events": arr[:, 2],
                }
            )

    out = stream.groupBy("user_id").applyInPandasWithState(
        sessionize,
        "user_id long, session_start long, session_end long, n_events long",
        "start long, last long, n long",
        "append",
        GroupStateTimeout.NoTimeout,
    )
    return memory_drain(out, checkpoint_dir, "append")


def watermarked_hourly_counts(
    spark: SparkSession, stage_dir: str, checkpoint_dir: str
) -> tuple[DataFrame, int]:
    """Append-mode tumbling-hour counts under a 1-hour watermark: a
    window is emitted only once the watermark passes its end, and events
    arriving after that are DROPPED — the bounded-state contract that
    lets a 100 TB stream run forever without unbounded window state.
    Reads staged parquet (SESSION_SCHEMA) one file per trigger so a
    late-arriving second batch exercises the drop path."""
    stream = file_stream(spark, stage_dir, SESSION_SCHEMA)
    from pyspark.sql import functions as F

    agg = (
        stream.withColumn("ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )
    return memory_drain(agg, checkpoint_dir, "append")


WM_DEDUP_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("ts", T.LongType()),  # nanos-as-long
    ]
)


def watermarked_dedup_stream(
    spark: SparkSession, stage_dir: str, checkpoint_dir: str
) -> tuple[DataFrame, int]:
    """Built-in bounded-state streaming dedup
    (``dropDuplicatesWithinWatermark``): a key is emitted once and
    suppressed for as long as its dedup state lives, and the state is
    EVICTED once the 1-hour watermark passes its event time + 1 hour — so an
    infinite stream deduplicates forever in O(keys-per-delay-window)
    memory. Contrast ``stateful_dedup_stream``: NoTimeout GroupState is
    truly exactly-once over ALL history but its state grows with the key
    universe — right for bounded idempotency windows, unbounded
    otherwise. A key REPLAYED after eviction re-emits; that is the
    documented contract, and the test pins both sides of it."""
    stream = file_stream(spark, stage_dir, WM_DEDUP_SCHEMA)
    from pyspark.sql import functions as F

    out = (
        stream.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
        )
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["key"])
    )
    return memory_drain(out, checkpoint_dir, "append")
