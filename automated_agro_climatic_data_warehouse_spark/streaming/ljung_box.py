"""Streaming Ljung-Box whiteness monitor: per-day volume counters
drained through the committed-state chain, with the lag-1..7
autocorrelation spectrum and running Q available after any prefix of
the stream.

This is the native form of dq_ljung_box (plans/quality_queries.py):
the POINT-anomaly monitors (z-score, CUSUM, Page-Hinkley) fire on one
bad value, but serial STRUCTURE — a feedback loop in ingest, a
retry storm echoing at a fixed lag, an upstream batch cadence leaking
into what should be white residuals — is exactly the condition worth
flagging while it develops, not at the post-mortem. State is the
per-day exact int64 event counter — calendar-bounded, additive (the
cheapest state shape in the family, shared with SRM's daily frame);
the n-scaled deviations, exact integer autocorrelation fractions, and
running Q are pure readouts recomputed per glance. Both stages are
the SHARED operators/quality.py primitives, so the streamed readout
is definitionally the batch query's arithmetic; the stream≡batch test
pins the drained spectrum equal to dq_ljung_box over the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.quality import lb_daily_merge, lb_readout
from .state_chain import chain_drain

__all__ = ["lb_drain", "lb_readout"]


def lb_drain(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Drain `src_dir`'s parquet observation files (day) as an
    availableNow stream through the additive daily-volume merge;
    returns the final (day, x) state. Exactly-once per checkpoint via
    the committed-state chain; feed the result to lb_readout."""
    return chain_drain(
        spark,
        src_dir,
        "day date",
        state_dir,
        checkpoint_dir,
        lb_daily_merge,
        empty_schema="day date, x bigint",
    )
