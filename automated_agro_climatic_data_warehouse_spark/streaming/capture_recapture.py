"""Streaming capture-recapture monitor: per-source capture counters
drained through the committed-state chain, with the Chapman estimate
read off the live state after any prefix of the stream.

This is the native form of dq_capture_recapture (plans/
quality_queries.py): feed-completeness estimation exists to be read
WHILE a crawl/ingest runs, and the state is just per-source exact
int64 counters (n_true, n1, n2, m) — an additive merge (commutative +
associative), so any file→micro-batch partitioning reaches the
bit-identical state, and the committed-state chain (state_chain.py)
absorbs foreachBatch's at-least-once replays so a crash can never
double-count a document. State size is |sources| rows — constant, the
sprt.py counter discipline applied to the quality family.

The readout applies the SAME hash gates and Chapman arithmetic as the
batch query (seeds cap1/cap2, 30% each, (n1+1)(n2+1)//(m+1) − 1 as one
exact truncating division); the stream≡batch test pins the drained
readout equal row-for-row to the batch query over the same rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.quality import add_counts
from ..operators.quality import capture_gate as _gate
from .state_chain import chain_drain


def _capture_merge(
    batch: DataFrame,
    prev: DataFrame | None,
    id_col: str,
    source_col: str,
) -> DataFrame:
    """One chain step: the batch's per-source capture counters added
    onto the persisted state — additive, replay-safe under the chain."""
    in1 = _gate(F.col(id_col), "cap1")
    in2 = _gate(F.col(id_col), "cap2")
    b = batch.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true"),
        F.sum(in1.cast("int")).cast("bigint").alias("n1"),
        F.sum(in2.cast("int")).cast("bigint").alias("n2"),
        F.sum((in1 & in2).cast("int")).cast("bigint").alias("m"),
    )
    return add_counts(b, prev, "source")


def capture_estimate(state: DataFrame) -> DataFrame:
    """Chapman readout over the counter state — the batch query's exact
    integer expression, shared so 'the estimator' is one definition."""
    return state.select(
        "source",
        "n_true",
        "n1",
        "n2",
        "m",
        F.expr(
            "cast((n1 + 1) * (n2 + 1) div (m + 1) - 1 as bigint)"
        ).alias("est_chapman"),
    )


def capture_recapture_drain(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    state_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Drain `src_dir`'s parquet files as an availableNow stream through
    the additive capture-counter merge; returns the final per-source
    (n_true, n1, n2, m) state. Exactly-once per checkpoint via the
    committed-state chain; feed the result to capture_estimate."""
    return chain_drain(
        spark,
        src_dir,
        schema,
        state_dir,
        checkpoint_dir,
        lambda batch, prev: _capture_merge(batch, prev, "doc_id", "source"),
        empty_schema=(
            "source string, n_true bigint, n1 bigint, n2 bigint, m bigint"
        ),
    )
