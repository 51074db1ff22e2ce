"""Streaming sample-ratio-mismatch guardrail: per-day arm counters
drained through the committed-state chain, with the per-day chi-square
flags available after any prefix of the enrollment stream.

This is the native form of ev_srm_check (plans/events_queries.py) and
the monitor that most belongs in the streaming family: an SRM fires
because assignment, logging, or filtering is BROKEN, and every hour it
runs undetected poisons more of the experiment — the batch readout is
the autopsy, this is the alarm (Fabijan et al., KDD 2019). State is
the per-day exact int64 (n_a, n_b) counter pair — calendar-bounded,
additive, the cheapest state in the family; the chi-square and its
95% flag are pure integer readouts. Both stages are the SHARED
operators/quality.py primitives, so the streamed readout is
definitionally the batch query's arithmetic; the stream≡batch test
pins the drained flags equal to ev_srm_check over the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.quality import srm_daily_merge, srm_readout
from .state_chain import chain_drain

__all__ = ["srm_drain", "srm_readout"]


def srm_drain(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Drain `src_dir`'s parquet assignment files (day, in_a) as an
    availableNow stream through the additive counter merge; returns
    the final (day, n_a, n_b) state. Exactly-once per checkpoint via
    the committed-state chain; feed the result to srm_readout."""
    return chain_drain(
        spark,
        src_dir,
        "day date, in_a int",
        state_dir,
        checkpoint_dir,
        srm_daily_merge,
        empty_schema="day date, n_a bigint, n_b bigint",
    )
