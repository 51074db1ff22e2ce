"""Streaming tail-biased rank digest: foreachBatch + accumulated
local-centroid state.

The batch query (ev_quantile_tdigest) builds per-shard tail-biased
rank digests (operators/sketches.biased_digest_local), merges them by
weighted re-clustering, and reads exact-integer quantile estimates off
the merged centroids. The STREAMING form carries the union of each
micro-batch's local-digest frames as durable state: every batch
computes its own local digest over the shards IT carries, and the
state merge is a plain unionByName (disjoint shard keys — see below).
The final readout runs the SAME biased_digest_merge +
biased_digest_quantiles operators on the accumulated state, so
streamed and batch sketches are interchangeable by construction.

Stream ≡ batch contract: a rank digest's level-1 state depends on how
rows are grouped into shards (ranks are within-shard) — the same
inherent partition-dependence classic KLL/t-digest have — but given
the SAME shard assignment the construction is fully deterministic. The
drain therefore shards by a column the data itself carries (e.g. the
staging/ingest-file ordinal × a hash sub-shard), which every
micro-batch boundary respects; the batch twin sharded by the same
composite produces a BIT-IDENTICAL centroid frame, and
tests/test_round8_ops.py pins the final readout equality exactly. The
RANK-ERROR bound (relative ~d/delta at tail distance d, composing
additively per merge) holds for ANY shard assignment — accuracy never
depends on the pin.

State growth: O(delta * log m) centroids per occupied shard. With the
shard key tied to ingest files, state grows with the number of files
drained; production recompresses whenever the state frame exceeds a
threshold by passing it through biased_digest_merge (one more
d/delta_2 of composable rank error) — the same compaction/accuracy
trade KLL makes on every level overflow. Durability and exactly-once
are the token-scoped committed-state chain (streaming/state_chain.py,
shared with heavy_hitters, grid_quantiles, cms_state, kmv_quantiles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import biased_digest_local
from .state_chain import chain_drain

STATE_SCHEMA = (
    "shard bigint, side int, l int, sub bigint,"
    " cnt bigint, sum_qv bigint, min_qv bigint, max_qv bigint"
)


def _local_digest(batch: DataFrame) -> DataFrame:
    return biased_digest_local(batch, "shard", "qv", "id")


COMPACTED_SHARD = -1  # pseudo-shard tagging recompressed centroids


def _compact(state: DataFrame) -> DataFrame:
    """Recompress an accumulated centroid state through the weighted
    re-cluster merge, back into STATE_SCHEMA shape under the reserved
    COMPACTED_SHARD. At most one compacted generation exists at a time
    (a compaction consumes the previous one), so (shard, side, l, sub)
    stays a unique key and the tb tiebreak stays total."""
    from pyspark.sql import functions as F

    from ..operators.sketches import biased_digest_merge

    tagged = state.withColumn(
        "tb",
        F.concat_ws(
            ":",
            F.col("shard").cast("string"),
            F.col("side").cast("string"),
            F.col("l").cast("string"),
            F.col("sub").cast("string"),
        ),
    )
    return biased_digest_merge(tagged).select(
        F.lit(COMPACTED_SHARD).cast("bigint").alias("shard"),
        F.col("side").cast("int").alias("side"),
        F.col("l").cast("int").alias("l"),
        "sub",
        "cnt",
        "sum_qv",
        "min_qv",
        "max_qv",
    )


def tdigest_drain(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    state_dir: str,
    checkpoint_dir: str,
    max_state_rows: int | None = None,
) -> DataFrame:
    """Drain `src_dir`'s parquet files (must carry columns `id`, `qv`,
    and `shard`; shard values must not straddle micro-batch
    boundaries — use an ingest-file ordinal composite) as an
    availableNow stream; state accumulates each batch's local-digest
    centroids. Returns the final centroid state; feed it through
    biased_digest_merge + biased_digest_quantiles for estimates.

    ``max_state_rows`` bounds the state for UNBOUNDED streams: when the
    accumulated frame exceeds it, the state recompresses through the
    re-cluster merge (one more composable d/DIGEST_DELTA2 of rank error per
    compaction — the same compaction/accuracy trade KLL makes on level
    overflow; tests/test_round8_ops.py pins the state bound AND the
    composed error bound after forced compactions). Compaction makes
    the final state depend on WHERE compactions fired, so the
    bit-identical stream≡batch pin applies to the uncompacted drain;
    the error bound applies always."""

    def merge(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        nxt = _local_digest(batch)
        if prev is None:
            return nxt
        state = prev.unionByName(nxt)
        if max_state_rows is not None and state.count() > max_state_rows:
            state = _compact(state)
        return state

    return chain_drain(
        spark,
        src_dir,
        schema,
        state_dir,
        checkpoint_dir,
        merge,
        empty_schema=STATE_SCHEMA,
    )


def tdigest_readout(
    state: DataFrame,
    permille: tuple[int, ...] = (500, 950, 990, 999),
) -> DataFrame:
    """Merged-digest quantile estimates from an accumulated centroid
    state frame — the shared batch/stream readout."""
    from ..operators.sketches import (
        biased_digest_merge,
        biased_digest_quantiles,
    )

    tagged = state.withColumn(
        "tb",
        F.concat_ws(
            ":",
            F.col("shard").cast("string"),
            F.col("side").cast("string"),
            F.col("l").cast("string"),
            F.col("sub").cast("string"),
        ),
    )
    return biased_digest_quantiles(
        biased_digest_merge(tagged), permille=permille
    )
