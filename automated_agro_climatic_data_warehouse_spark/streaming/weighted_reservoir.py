"""Streaming A-ES weighted reservoir: foreachBatch + top-k-by-key state.

The batch query (sample_weighted_reservoir) keeps the k rows with the
LARGEST Efraimidis-Spirakis rank key ln(u)/w — an exact-size weighted
sample without replacement. The STREAMING form carries the same top-k
as durable state: each micro-batch computes its own top-k and the merge
is topk(batch ∪ prev). Top-k under a total order is a semilattice
(associative + commutative + idempotent — the kmv_quantiles argument
with the order reversed), so the drained state is BIT-IDENTICAL to the
batch-built sample under ANY micro-batch partitioning; the stream≡batch
pin in tests/test_streaming_wres.py is exact row equality against the
shared operator (operators/sketches.wres_state).

This is the streaming leg a weighted data-mixture pipeline needs: a
running, re-run-stable, exact-size importance sample of an unbounded
event stream in O(k) state, with heavy rows over-represented in
proportion to weight. Durability and exactly-once are the token-scoped
committed-state chain (streaming/state_chain.py, shared with the other
sketch drains). At 100 TB/day the same foreachBatch body rides a Kafka
source unchanged; the final state is a k-row table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.sketches import wres_state, wres_topk
from .state_chain import chain_drain


def _wres_merge(
    batch: DataFrame,
    prev: DataFrame | None,
    id_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    nxt = wres_state(batch, id_col, weight_col, k)
    if prev is None:
        return nxt
    return wres_topk(nxt.unionByName(prev), k)


def weighted_reservoir_drain(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    state_dir: str,
    checkpoint_dir: str,
    id_col: str,
    weight_col: str,
    k: int = 256,
) -> DataFrame:
    """Drain `src_dir`'s parquet files as an availableNow stream through
    the top-k semilattice merge; returns the final (id, weight, lnu_q,
    res_key) sample state. Exactly-once per checkpoint via the
    committed-state chain."""
    return chain_drain(
        spark,
        src_dir,
        schema,
        state_dir,
        checkpoint_dir,
        lambda batch, prev: _wres_merge(batch, prev, id_col, weight_col, k),
        empty_schema="id bigint, weight double, lnu_q bigint, res_key double",
    )
