"""Streaming KMV set-operation sketch: foreachBatch + OR-merged
bottom-k membership state.

The batch query (ev_kmv_jaccard_types) estimates the Jaccard
similarity of two sets from the bottom-k hashes of their UNION with
per-hash membership flags. The STREAMING form carries that same
(hv, in_a, in_b) state: each micro-batch contributes its own flag
rows and the merge OR's flags per hash before re-taking the bottom-k
(operators/sketches.kmv_flags_bottomk documents why the composite is
still a semilattice — any hash surviving the final bottom-k survives
every intermediate one, so flags accumulate exactly). The drained
state is BIT-IDENTICAL to the batch-built sketch under ANY file →
micro-batch partitioning, even when one logical entity's events are
SPLIT across micro-batches (flag OR is exactly union semantics) —
pinned in tests/test_streaming_setops.py.

Durability and exactly-once ride the shared token-scoped committed
state chain (streaming/state_chain.py). State is bounded at k rows of
(hv, in_a, in_b) regardless of stream length; the Jaccard readout is
|{h in K : a and b}| / |K|, two integer aggregates over the k-row
state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.sketches import kmv_flags_bottomk
from .state_chain import chain_drain


def _setops_merge(
    batch_flags: DataFrame, prev: DataFrame | None, k: int
) -> DataFrame:
    if prev is None:
        return kmv_flags_bottomk(batch_flags, k)
    return kmv_flags_bottomk(batch_flags.unionByName(prev), k)


def kmv_setops_drain(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    state_dir: str,
    checkpoint_dir: str,
    flags_fn,
    k: int = 128,
) -> DataFrame:
    """Drain `src_dir`'s parquet files as an availableNow stream
    through the OR-merged bottom-k; `flags_fn(batch_df)` maps a raw
    micro-batch to its (hv, in_a, in_b) membership rows (the same
    projection the batch query uses, so 'the sketch' stays one
    definition). Returns the final (hv, in_a, in_b) state."""
    return chain_drain(
        spark,
        src_dir,
        schema,
        state_dir,
        checkpoint_dir,
        lambda batch, prev: _setops_merge(flags_fn(batch), prev, k),
        empty_schema="hv bigint, in_a int, in_b int",
    )
