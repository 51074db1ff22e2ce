"""Streaming Wasserstein-1 drift monitor: the live per-type value
histogram drained through the committed-state chain, with the
earth-mover distance against a FROZEN reference histogram readable
after any prefix of the stream.

This is the native form of dq_wasserstein_drift
(plans/quality_queries.py) — and the shape a drift monitor actually
deploys as: the batch query's corpus-midpoint split is the offline
emulation of 'reference window vs everything since', while here the
reference is an explicit frozen histogram (a vhist_merge state from a
blessed window: last week, the training snapshot, the contract
baseline) and the live side accumulates additively — per-(type, value)
exact int64 counters, any file→micro-batch partitioning reaches the
bit-identical state, replays absorbed by the committed-state chain.
W1 itself is a PURE READOUT (w1_between: full-outer align + the
shared w1_readout ECDF-gap arithmetic) recomputed per glance — a
cumulative distance is not incrementally maintainable, the histogram
is. State size is |types| x |value domain| rows; the stream≡batch
test pins the drained readout row-for-row to the registered query
over the same rows and split.

The SAME drained state also serves the Population Stability Index
(psi_between — r10-verdict item 6): one vhist state, two drift
readouts (W1 = how far the value mass moved in cents; PSI = how much
the band shares diverged), each recomputed per glance, each pinned
stream≡batch against its registered query (dq_wasserstein_drift /
dq_psi_drift).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.quality import (
    psi_between,
    vhist_merge,
    w1_between,
    w1_readout,
)
from .state_chain import chain_drain

__all__ = ["vhist_drain", "psi_between", "w1_between", "w1_readout"]


def vhist_drain(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Drain `src_dir`'s parquet observation files (event_type, cents)
    as an availableNow stream through the additive histogram merge;
    returns the final (event_type, cents, n) state. Exactly-once per
    checkpoint via the committed-state chain; feed the result (and a
    frozen reference state) to w1_between."""
    return chain_drain(
        spark,
        src_dir,
        "event_type string, cents bigint",
        state_dir,
        checkpoint_dir,
        vhist_merge,
        empty_schema="event_type string, cents bigint, n bigint",
    )
