"""Streaming Kruskal-Wallis monitor: the per-(group, value) rank
histogram drained through the committed-state chain, with the omnibus
H readout available after any prefix of the stream.

This is the native form of ev_kruskal_wallis (plans/events_queries.py)
and the k-sample sibling of streaming/mann_whitney.py: the sufficient
statistic is the per-(group, value) exact int64 count histogram — an
additive merge, so any file→micro-batch partitioning reaches the
bit-identical state and the committed-state chain absorbs replays.
State size is |groups| x |value domain| rows; ranks, tie corrections
and H are PURE READOUTS recomputed per glance (ranks are not
incrementally maintainable, the histogram is — the MW factoring).
Both stages are the SHARED operators/quality.py primitives, so the
streamed readout is definitionally the batch query's arithmetic; the
stream≡batch test pins the drained readout equal to ev_kruskal_wallis
over the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.quality import kw_histogram_merge, kw_readout
from .state_chain import chain_drain

__all__ = ["kw_histogram_drain", "kw_readout"]


def kw_histogram_drain(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Drain `src_dir`'s parquet observation files (grp, cents) as an
    availableNow stream through the additive histogram merge; returns
    the final (grp, cents, tg) state. Exactly-once per checkpoint via
    the committed-state chain; feed the result to kw_readout."""
    return chain_drain(
        spark,
        src_dir,
        "grp string, cents bigint",
        state_dir,
        checkpoint_dir,
        kw_histogram_merge,
        empty_schema="grp string, cents bigint, tg bigint",
    )
