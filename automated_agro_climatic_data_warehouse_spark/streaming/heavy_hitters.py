"""Streaming heavy hitters: foreachBatch + mergeable Misra-Gries state.

The batch heavy-hitter query (ts_heavy_hitters) runs MG per partition
and re-verifies candidates exactly; the STREAMING form cannot re-scan
history, so it maintains one durable bounded summary across
micro-batches instead: each batch's exact key counts merge into the
persisted k-counter summary, and when the merged table exceeds k
entries every counter is decremented by the (k+1)-th largest and the
non-positive are dropped — the standard mergeable-summaries MG merge
(Agarwal et al., "Mergeable Summaries", PODS'12), which preserves the
MG guarantee across any batch partitioning:

  every key with true frequency > N/(k+1) survives in the summary,
  and each surviving counter UNDERESTIMATES its true count by at most
  the total decrement (≤ N/(k+1)).

The summary is therefore a candidate set + lower bounds, never exact
counts — exactly the contract of the batch operator's sketch stage
(operators/sketches.mg_candidates); a final exact count of just the
surviving keys upgrades it to exact, same as the batch path.

Durability and exactly-once are the token-scoped committed-state chain
(streaming/state_chain.py — shared with grid_quantiles): per-batch
_SUCCESS-marked state subdirs, skip-if-committed, crash-replay
overwrite, and token filtering so a fresh drain over a reused
state_dir never merges another drain's history.

Every per-batch step is bounded: the merge frame is ≤ k + |batch
distinct keys| rows, so the top-(k+1) threshold window runs on a
bounded frame by construction (this is the ONE place a single-key
window is legitimate — the input is the sketch, not the stream). At
100 TB/day the same foreachBatch body rides a Kafka source unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..operators.quality import add_counts
from .state_chain import chain_drain


def _mg_merge(
    batch: DataFrame, prev: DataFrame | None, key_col: str, k: int
) -> DataFrame:
    """One MG chain step: exact batch counts + previous summary →
    next ≤k-counter summary."""
    batch_counts = batch.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    counts = add_counts(batch_counts, prev, "key")
    # MG merge step: subtract the (k+1)-th largest counter (0 if the
    # merged table already fits) from all, keep the strictly positive.
    # The ranking window is unpartitioned BY DESIGN: its input is the
    # bounded sketch frame (≤ k + batch keys), never stream data.
    ranked = counts.withColumn(
        "__rn",
        F.row_number().over(W.orderBy(F.desc("c"), F.asc("key"))),
    )
    m = ranked.filter(F.col("__rn") == k + 1).agg(
        F.coalesce(F.max("c"), F.lit(0)).cast("bigint")
    ).scalar()
    return (
        ranked.withColumn("m", m)
        .filter(F.col("c") > F.col("m"))
        .select("key", (F.col("c") - F.col("m")).cast("bigint").alias("c"))
    )


def heavy_hitters_drain(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str,
    k: int = 32,
) -> DataFrame:
    """Drain `src_dir`'s parquet files as an availableNow stream through
    the MG merge; returns the final summary (key, c) — a guaranteed
    superset of every key with true frequency > N/(k+1), with
    lower-bound counters. Exactly-once per checkpoint: re-draining the
    same checkpoint replays nothing, crash-replays are absorbed by the
    per-batch committed-state chain (token-scoped to this drain)."""
    return chain_drain(
        spark,
        src_dir,
        schema,
        state_dir,
        checkpoint_dir,
        lambda batch, prev: _mg_merge(batch, prev, key_col, k),
        empty_schema="key long, c long",
    )
