"""Streaming per-key distinct counting: foreachBatch + mergeable HLL
sketch state.

The batch rollup (ev_hll_weekly_rollup) builds one DataSketches HLL
sketch per week in a single aggregation; the STREAMING form cannot
re-scan history, so it keeps one durable sketch per key across
micro-batches: each batch aggregates its own per-key sketches
(`hll_sketch_agg`) and unions them into the persisted state
(`hll_union_agg`). HLL register-max union is associative and
commutative, so the chained union equals the one-shot sketch over the
concatenated stream regardless of how the data was micro-batched —
the stream≡batch property the tests pin (same guarantee family as the
MG merge in heavy_hitters.py, but for distinct counts instead of
frequencies).

State is bounded by construction: one ≤(2^lgk)-register sketch per
key, independent of stream length — the whole point of carrying a
sketch instead of a distinct-set. Durability and exactly-once are the
token-scoped committed-state chain (streaming/state_chain.py, shared
with heavy_hitters and grid_quantiles): per-batch _SUCCESS-marked
state subdirs, skip-if-committed, crash-replay overwrite. At 100
TB/day the same foreachBatch body rides a Kafka source unchanged; the
final state is a tiny (key, sketch) table whose estimates answer
"distinct users per week" without any re-scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .state_chain import chain_drain

LG_K = 12  # same register count as the batch rollup's sketches


def _hll_merge(
    batch: DataFrame, prev: DataFrame | None, key_col, item_col: str
) -> DataFrame:
    """One chain step: per-key batch sketches unioned into the
    previous per-key state sketches."""
    b = batch.groupBy(key_col.alias("key")).agg(
        F.hll_sketch_agg(item_col, F.lit(LG_K)).alias("sk")
    )
    if prev is None:
        return b
    return (
        b.unionByName(prev)
        .groupBy("key")
        .agg(F.hll_union_agg("sk").alias("sk"))
    )


def hll_distinct_drain(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    state_dir: str,
    checkpoint_dir: str,
    key_col,
    item_col: str,
    key_type: str = "string",
) -> DataFrame:
    """Drain `src_dir`'s parquet files as an availableNow stream through
    the per-key HLL union; returns the final (key, estimate) frame.
    Exactly-once per checkpoint: re-draining the same checkpoint replays
    nothing, crash-replays are absorbed by the per-batch committed-state
    chain (token-scoped to this drain)."""
    final = chain_drain(
        spark,
        src_dir,
        schema,
        state_dir,
        checkpoint_dir,
        lambda batch, prev: _hll_merge(batch, prev, key_col, item_col),
        # key_type mirrors heavy_hitters_drain: an empty drain must
        # return the same key type a non-empty drain carries.
        empty_schema=f"key {key_type}, sk binary",
    )
    return final.select(
        "key",
        F.round(F.hll_sketch_estimate("sk"), 0)
        .cast("bigint")
        .alias("n_distinct_est"),
    )
