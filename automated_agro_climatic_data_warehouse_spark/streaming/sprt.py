"""Streaming SPRT monitor: per-arm (trials, successes) counters drained
through the committed-state chain, with the boundary readout evaluated
on the live state after any prefix of the stream.

This is the native form of ev_sprt_boundary (plans/events_queries.py):
a sequential test exists to be read WHILE data arrives, so the
streaming state is just the per-arm exact int64 (n, k) pair — an
additive merge (commutative + associative), meaning any
file→micro-batch partitioning reaches the bit-identical state, and the
committed-state chain (state_chain.py) absorbs foreachBatch's
at-least-once replays so a crash can never double-count a batch. State
size is |arms| rows — constant, the cheapest durable state in the
streaming family.

The readout applies the SAME quantized-constant LLR the batch query
computes: both ln constants round once onto the 2^-20 grid, then the
decision is pure integer arithmetic — the stream≡batch test pins the
drained readout equal row-for-row to the batch trace's final day.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.quality import add_counts
from .state_chain import chain_drain

# H0/H1 conversion rates and error budget — keep in lockstep with the
# ev_sprt_boundary oracle (alpha = 0.05, beta = 0.20).
P0, P1 = 0.15, 0.20
ALPHA, BETA = 0.05, 0.20
GRID = 1 << 20


def sprt_llr_consts() -> dict[str, Column]:
    """The four grid-quantized constants as literal columns — identical
    expressions to the batch query's `consts` frame."""
    g = F.lit(GRID)
    return {
        "cs": F.round(F.log(F.lit(P1) / F.lit(P0)) * g).cast("bigint"),
        "cf": F.round(
            F.log((F.lit(1.0) - F.lit(P1)) / (F.lit(1.0) - F.lit(P0))) * g
        ).cast("bigint"),
        "ub": F.round(
            F.log((F.lit(1.0) - F.lit(BETA)) / F.lit(ALPHA)) * g
        ).cast("bigint"),
        "lb": F.round(
            F.log(F.lit(BETA) / (F.lit(1.0) - F.lit(ALPHA))) * g
        ).cast("bigint"),
    }


def _sprt_merge(
    batch: DataFrame, prev: DataFrame | None, arm_col: Column, success_col: Column
) -> DataFrame:
    """One chain step: the batch's per-arm (n, k) added onto the
    persisted counters — additive state, replay-safe under the chain."""
    b = batch.groupBy(arm_col.alias("arm")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(success_col.cast("bigint")).cast("bigint").alias("k"),
    )
    return add_counts(b, prev, "arm")


def sprt_readout(state: DataFrame) -> DataFrame:
    """(arm, n_cum, k_cum, llr_q, state) from the live counters — the
    same integer LLR + boundary CASE as the batch trace."""
    c = sprt_llr_consts()
    llr = F.col("k") * c["cs"] + (F.col("n") - F.col("k")) * c["cf"]
    return state.select(
        "arm",
        F.col("n").alias("n_cum"),
        F.col("k").alias("k_cum"),
        llr.cast("bigint").alias("llr_q"),
        F.when(llr >= c["ub"], "accept_h1")
        .when(llr <= c["lb"], "accept_h0")
        .otherwise("continue")
        .alias("state"),
    )


def sprt_drain(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    state_dir: str,
    checkpoint_dir: str,
    arm_col: Column,
    success_col: Column,
) -> DataFrame:
    """availableNow drain of `src_dir` parquet through the per-arm
    counter chain; returns the final (arm, n, k) state. Exactly-once
    per checkpoint; any partitioning of the files reaches the same
    state (additive merge)."""
    return chain_drain(
        spark,
        src_dir,
        schema,
        state_dir,
        checkpoint_dir,
        lambda batch, prev: _sprt_merge(batch, prev, arm_col, success_col),
        empty_schema="arm string, n bigint, k bigint",
    )
