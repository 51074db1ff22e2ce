"""Streaming one-way ANOVA monitor: per-group exact moment counters
drained through the committed-state chain, with the omnibus F readout
available after any prefix of the stream.

This is the native form of ev_anova_f (plans/events_queries.py): the
does-ANY-group-differ gate is most useful while an experiment or
ingest runs, and its sufficient statistics are just per-group exact
int64 (n, s1, s2) — an additive merge (commutative + associative), so
any file→micro-batch partitioning reaches the bit-identical state and
the committed-state chain absorbs replays. State size is |groups|
rows. Both stages — the moment merge and the F readout — are the
SHARED operators/quality.py primitives, so the streamed readout is
definitionally the batch query's arithmetic; the stream≡batch test
pins the drained F equal to ev_anova_f over the same rows.

The state serves TWO readouts (the Wasserstein/PSI one-state-two-
distances pattern): the omnibus F (anova_f_readout) and the pairwise
Welch unequal-variance t drill between any two groups
(welch_readout, the ev_welch_ttest arithmetic) — a live experiment
gets both at any micro-batch boundary from the same drained moments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.quality import (
    anova_f_readout,
    anova_moments_merge,
    welch_readout,
)
from .state_chain import chain_drain

__all__ = ["anova_f_readout", "anova_moments_drain", "welch_readout"]


def anova_moments_drain(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Drain `src_dir`'s parquet observation files (group, x) as an
    availableNow stream through the additive moment merge; returns the
    final (group, n, s1, s2) state. Exactly-once per checkpoint via
    the committed-state chain; feed the result to anova_f_readout."""
    return chain_drain(
        spark,
        src_dir,
        "group string, x bigint",
        state_dir,
        checkpoint_dir,
        anova_moments_merge,
        empty_schema="group string, n bigint, s1 bigint, s2 bigint",
    )
