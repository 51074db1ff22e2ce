"""foreachBatch → upsert sink: the production shape every availableNow
wrapper in this package points at.

The reference's cron loop re-runs extract → upsert-into-Postgres
(etl/load/postgres_loader.py:118-123); the streaming-native equivalent is
a `foreachBatch` sink that applies the SAME batch upsert operator
(operators/upsert.py) to a parquet target per micro-batch. Checkpointing
makes each batch exactly-once: a re-drain over the same checkpoint
replays nothing, so the target is stable under restarts — the property
the reference gets from its SHA-256 idempotency keys, recovered here
from engine semantics instead of application bookkeeping.

At 100 TB the parquet directory becomes a transactional table format and
the full-target rewrite becomes partition-selective; the foreachBatch
body and the upsert operator are unchanged — only the writer swaps.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.upsert import upsert
from ..session import local_frame, materialize, release
from .state_chain import foreach_batch_drain


def upsert_sink_drain(
    spark: SparkSession,
    stream: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    order_by: list | None = None,
) -> DataFrame:
    """Drain `stream` availableNow, upserting each micro-batch into the
    parquet at `target_dir` with last-writer-wins within a batch; returns
    the final target. Exactly-once per checkpoint: re-draining the same
    checkpoint is a no-op (tests/test_streaming_sink.py pins both)."""

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        if os.path.isdir(target_dir) and any(
            f.endswith(".parquet") for f in os.listdir(target_dir)
        ):
            target = s.read.parquet(target_dir)
        else:
            target = local_frame(s, [], batch.schema)
        merged = upsert(target, batch, keys=keys, order_by=order_by)
        # materialize BEFORE overwriting the directory being read
        # (localCheckpoint truncates the lineage that references the old
        # files; a direct overwrite would read-while-truncating)
        merged = materialize(merged, "upsert_sink_drain.merged")
        merged.write.mode("overwrite").parquet(target_dir)
        release(merged)

    foreach_batch_drain(stream, checkpoint_dir, apply_batch)
    return spark.read.parquet(target_dir)
