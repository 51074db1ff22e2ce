"""Streaming Count-Min sketch: foreachBatch + exactly-mergeable cell
state.

The batch CMS audit (ev_cms_user_counts) builds the 4×512 cell table in
one aggregation; the STREAMING form accumulates the same cells across
micro-batches. Because CMS is LINEAR in the count vector, the merge is
a plain cell-wise sum — so unlike the MG summary (lower bounds) and
like the grid-quantile histogram, the drained state is BIT-IDENTICAL
to the batch-built sketch under any micro-batch partitioning; the
stream≡batch pin is exact cell equality, and every point estimate
(min over depths of the key's cells) matches the batch sketch's
estimate exactly. Sketch construction, bucketing, and estimation are
the shared operators (operators/sketches.cms_cells / cms_estimate), so
streamed and batch sketches are interchangeable by construction.

State is bounded: ≤ depth × width occupied cells, independent of
stream length and key cardinality — the entire reason to carry a CMS
instead of per-key counts. Durability and exactly-once are the
token-scoped committed-state chain (streaming/state_chain.py, shared
with heavy_hitters, grid_quantiles, and hll_distinct): per-batch
_SUCCESS-marked state subdirs, skip-if-committed, crash-replay
overwrite. At 100 TB/day the same foreachBatch body rides a Kafka
source unchanged; the final state is a 2048-row integer table that
answers point-frequency queries with the standard CMS overcount bound
(≥0, ≤ N/width per depth w.h.p.).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.quality import add_counts
from ..operators.sketches import cms_cells
from .state_chain import chain_drain


def _cms_merge(
    batch: DataFrame, prev: DataFrame | None, key: Column
) -> DataFrame:
    return add_counts(cms_cells(batch, key), prev, "j", "bucket")


def cms_drain(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str,
) -> DataFrame:
    """Drain `src_dir`'s parquet files as an availableNow stream through
    the cell-wise CMS sum; returns the final (j, bucket, cell) state.
    Exactly-once per checkpoint via the committed-state chain."""
    return chain_drain(
        spark,
        src_dir,
        schema,
        state_dir,
        checkpoint_dir,
        lambda batch, prev: _cms_merge(batch, prev, F.col(key_col)),
        empty_schema="j int, bucket bigint, cell bigint",
    )
