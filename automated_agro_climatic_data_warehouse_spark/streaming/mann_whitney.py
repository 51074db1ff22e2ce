"""Streaming Mann-Whitney U monitor: the value-domain (t, t1) rank
histogram drained through the committed-state chain, with the U / z
readout available after any prefix of the stream.

This is the native form of ev_mann_whitney (plans/events_queries.py):
a distribution-free two-sample location test is most useful while the
experiment runs, and its sufficient statistic is just the per-value
exact int64 (t, t1) histogram — an additive merge (commutative +
associative), so any file→micro-batch partitioning reaches the
bit-identical state and the committed-state chain absorbs replays.
State size is |distinct values| rows — value-domain-bounded (cents on
a bounded price range), never corpus-sized; ranks, tie corrections,
and z are PURE READOUTS over that one state, recomputed from scratch
per glance (ranks are not incrementally maintainable, the histogram
is — that is the whole factoring). Both stages — the histogram merge
and the U/z readout — are the SHARED operators/quality.py primitives,
so the streamed readout is definitionally the batch query's
arithmetic; the stream≡batch test pins the drained readout equal to
ev_mann_whitney over the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.quality import mw_histogram_merge, mw_readout
from .state_chain import chain_drain

__all__ = ["mw_histogram_drain", "mw_readout"]


def mw_histogram_drain(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Drain `src_dir`'s parquet observation files (cents, g1) as an
    availableNow stream through the additive histogram merge; returns
    the final (cents, t, t1) state. Exactly-once per checkpoint via
    the committed-state chain; feed the result to mw_readout."""
    return chain_drain(
        spark,
        src_dir,
        "cents bigint, g1 int",
        state_dir,
        checkpoint_dir,
        mw_histogram_merge,
        empty_schema="cents bigint, t bigint, t1 bigint",
    )
