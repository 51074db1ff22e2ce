"""Streaming Cramér's V monitor: contingency cell counters drained
through the committed-state chain, with the association effect size
readable after any prefix of the stream.

This is the native form of dq_cramers_v (plans/quality_queries.py):
'did the weekly mix become type-dependent' is a question about the
LIVE feed, and its sufficient statistic is just the (event_type, dow)
cell-count table — additive int64, bounded by |types| x 7, the
smallest state in the monitor family after SRM's. Chi-square and V
are PURE READOUTS over the densified grid (empty cells included —
expected counts are positive wherever the margins are). Both stages
are the SHARED operators/quality.py primitives, so the streamed
readout is definitionally the batch query's arithmetic; the
stream≡batch test pins the drained readout equal to dq_cramers_v over
the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.quality import cramers_v_readout, ct_merge
from .state_chain import chain_drain

__all__ = ["cramers_v_readout", "ct_drain"]


def ct_drain(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Drain `src_dir`'s parquet observation files (event_type, dow)
    as an availableNow stream through the additive cell merge; returns
    the final (event_type, dow, o) state. Exactly-once per checkpoint
    via the committed-state chain; feed the result to
    cramers_v_readout."""
    return chain_drain(
        spark,
        src_dir,
        "event_type string, dow bigint",
        state_dir,
        checkpoint_dir,
        ct_merge,
        empty_schema="event_type string, dow bigint, o bigint",
    )
