"""Streaming domain-free quantile sketch: foreachBatch + bottom-k-by-
hash sample state.

The batch query (ev_quantile_sketch) keeps the k rows with the
smallest portable hash of the row identity — a uniform k-row sample
drawn deterministically — and reads percentile estimates off the
sorted sample. The STREAMING form carries the same bottom-k as durable
state: each micro-batch computes its own bottom-k and the merge is
bottomk(batch ∪ prev). Bottom-k under a total order is a semilattice
(associative + commutative + idempotent), so the drained state is
BIT-IDENTICAL to the batch-built sample under ANY micro-batch
partitioning — the stream≡batch pin is exact row equality, and the
percentile readout is the SHARED operator
(operators/sketches.quantiles_from_sample), making streamed and batch
sketches interchangeable by construction.

Unlike the fixed-grid histogram (streaming/grid_quantiles.py) this
needs NO known value domain — the sample adapts to whatever values
arrive — at the cost of a probabilistic (DKW) rather than
deterministic rank-error bound; tests/test_streaming_kmv.py and
tests/test_round7_ops.py pin both the bit-identity and the observed
rank error against exact percentiles. State is bounded at k rows of
(h, tiebreak, value) regardless of stream length. Durability and
exactly-once are the token-scoped committed-state chain
(streaming/state_chain.py, shared with heavy_hitters, grid_quantiles,
cms_state, and hll_distinct). At 100 TB/day the same foreachBatch body
rides a Kafka source unchanged; the final state is a k-row table whose
sorted values answer any-percentile queries without re-scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.sketches import kmv_bottomk, kmv_state
from .state_chain import chain_drain


def _kmv_merge(
    batch: DataFrame,
    prev: DataFrame | None,
    id_col: str,
    value_col: str,
    k: int,
) -> DataFrame:
    nxt = kmv_state(batch, id_col, value_col, k)
    if prev is None:
        return nxt
    return kmv_bottomk(nxt.unionByName(prev), "h", "id", k)


def kmv_quantiles_drain(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    state_dir: str,
    checkpoint_dir: str,
    id_col: str,
    value_col: str,
    k: int = 1024,
) -> DataFrame:
    """Drain `src_dir`'s parquet files as an availableNow stream through
    the bottom-k semilattice merge; returns the final (h, id, value)
    sample state. Exactly-once per checkpoint via the committed-state
    chain; feed the result to quantiles_from_sample for estimates."""
    return chain_drain(
        spark,
        src_dir,
        schema,
        state_dir,
        checkpoint_dir,
        lambda batch, prev: _kmv_merge(batch, prev, id_col, value_col, k),
        empty_schema="h bigint, id bigint, value double",
    )
