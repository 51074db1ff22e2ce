"""Streaming CDC apply: dimension maintenance as a drained changelog.

The batch query (cdc_apply_changelog) replays an ordered I/U/D
changelog onto a base snapshot in one shot. The STREAMING form is how
a warehouse actually consumes CDC: micro-batches of log records arrive
(binlog / Kafka topic / Debezium feed), and the durable state is the
per-key LATEST operation — merged each batch with the semilattice
reduction `changelog_latest(prev ∪ batch)` (operators/cdc.py). Because
per-key argmax-by-seq is associative, commutative and idempotent, the
drained state is BIT-IDENTICAL to the batch-built one under ANY
file→micro-batch partitioning AND any arrival ORDER — late or
out-of-order CDC records cannot corrupt the dimension, which is the
property that makes log-based replication safe to parallelize
(tests/test_streaming_cdc.py pins in-order and shuffled drains to the
same final table).

The readout applies the final state onto the base snapshot with the
SHARED apply_latest operator, so streamed and batch applications are
interchangeable by construction. State is bounded by TOUCHED-KEY
cardinality (≤ the dimension, the working set a RocksDB state store
holds at production scale), never by log length — idempotent re-deliveries
collapse in the merge. Durability and exactly-once are the token-scoped
committed-state chain (streaming/state_chain.py, shared with the sketch
drains).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.cdc import apply_latest, changelog_latest
from .state_chain import chain_drain

CHANGELOG_SCHEMA = "seq bigint, op string, k bigint, price double"


def cdc_apply_drain(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Drain `src_dir`'s changelog parquet files (CHANGELOG_SCHEMA; seq
    unique per key — the CDC-log contract) as an availableNow stream;
    state is the per-key latest operation. Returns the final
    (seq, op, k, price) state; feed it to cdc_apply_readout."""

    def merge(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        nxt = changelog_latest(batch)
        if prev is None:
            return nxt
        return changelog_latest(prev.unionByName(nxt))

    return chain_drain(
        spark,
        src_dir,
        CHANGELOG_SCHEMA,
        state_dir,
        checkpoint_dir,
        merge,
        empty_schema=CHANGELOG_SCHEMA,
    )


def cdc_apply_readout(state: DataFrame, base: DataFrame) -> DataFrame:
    """Apply the drained latest-op state onto a base snapshot — the
    shared batch/stream application (operators/cdc.apply_latest)."""
    return apply_latest(base, state.select("k", "op", "price"))
