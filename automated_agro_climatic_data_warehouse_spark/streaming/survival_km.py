"""Streaming Kaplan-Meier monitor: the per-duration (churned,
censored_n) histogram drained through the committed-state chain, with
the KM curve read off the live state after any prefix of the stream.

This is the native form of ev_survival_km (plans/events_queries.py):
survival readouts exist to be watched WHILE sessions close, and the
state is just the exact int64 duration histogram — an additive merge
(commutative + associative), so any file→micro-batch partitioning
reaches the bit-identical state, and the committed-state chain
(state_chain.py) absorbs foreachBatch's at-least-once replays so a
crash can never double-count a session. State size is |distinct
durations| rows — minute-bounded, the capture-recapture counter
discipline applied to the survival family.

The input is SUBJECT records (dur, censored) as emitted by a session
closer — the component that owns the censoring decision (a session is
censored while it could still receive events; it churns once closed).

PRODUCER CONTRACT — emit once per session (r9 ADVICE): the histogram
is additive and cannot RETRACT a subject, so a session must appear in
the stream exactly once. Closed (churned) sessions are emitted at
close and never again. Censored rows are a SNAPSHOT readout: emit
them only at an end-of-stream / end-of-window snapshot whose state is
used for that snapshot's curve and then discarded — never merge a
censored snapshot's state with later closes of the same sessions, or
the risk set double-counts them permanently. A producer that needs
incremental censoring (emit open now, close later) must instead key
subjects by session id and upsert BEFORE this monitor (the
ingest_dedup / cdc_apply discipline), feeding the histogram only
final rows. Same-batch REPLAYS are safe regardless — the committed
chain skips already-committed batch ids.

All three stages — sessionization, histogram merge, curve readout —
are the SHARED operators/survival.py primitives, so the streamed
readout is definitionally the batch query's arithmetic; the
stream≡batch test pins the drained curve equal row-for-row to
ev_survival_km over the same events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.survival import km_curve, km_histogram_merge, na_curve
from .state_chain import chain_drain

__all__ = ["km_curve", "na_curve", "survival_km_drain"]


def survival_km_drain(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    state_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Drain `src_dir`'s parquet subject files (dur bigint, censored
    int) as an availableNow stream through the additive histogram
    merge; returns the final (dur, churned, censored_n) state.
    Exactly-once per checkpoint via the committed-state chain; feed
    the result to km_curve for the survival readout or na_curve for
    the cumulative hazard — ONE state, both survival readouts."""
    return chain_drain(
        spark,
        src_dir,
        schema,
        state_dir,
        checkpoint_dir,
        km_histogram_merge,
        empty_schema="dur bigint, churned bigint, censored_n bigint",
    )
