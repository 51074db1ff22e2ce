"""Streaming quantiles via an EXACTLY-mergeable fixed-grid histogram.

Percentile monitoring on a stream (p50/p99 latency, value
distributions) cannot keep history; the classic answer is a mergeable
sketch. This module uses the simplest sketch whose merge is EXACT
rather than approximate: a fixed-resolution value-grid histogram —
state is one count per occupied bin (bin = floor(value / width)),
and merging any partitioning of the stream is a groupBy-sum, so the
final state is bit-identical to the batch histogram of the whole data
REGARDLESS of micro-batch boundaries (pinned stream ≡ batch in
tests/test_streaming_quantiles.py — a determinism guarantee stronger
than KLL/t-digest, whose state depends on arrival order).

Quantile readout from the histogram brackets the true quantile within
one bin width: for quantile q over n values, find the first bin whose
cumulative count reaches ceil(q·n); the true q-quantile lies in
[bin·width, (bin+1)·width). The readout emits both bounds — honest
about grid error rather than reporting a point estimate, which is the
right contract for an alerting pipeline (alert when the LOWER bound
crosses the SLO).

Durability and exactly-once are the token-scoped committed-state chain
(streaming/state_chain.py — shared with heavy_hitters): per-batch
_SUCCESS-marked state subdirs, skip-if-committed, crash-replay
overwrite, token filtering so a fresh drain over a reused state_dir
starts its own chain.

Scale: state is bounded by the OCCUPIED value domain / width, never by
the stream (pick width so domain/width ≈ 10³-10⁶ bins; bins are
uniform shuffle keys). At 100 TB/day the same body rides Kafka; the
readout is a bins-sized sort-free cumulative window over a tiny frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..operators.quality import add_counts
from ..session import local_frame
from .state_chain import chain_drain


def grid_histogram(df: DataFrame, value_col: str, width: float) -> DataFrame:
    """(bin, c): exact fixed-grid histogram of `value_col` — the batch
    form of the streaming state, and the merge target (groupBy-sum)."""
    return (
        df.select(
            F.floor(F.col(value_col) / F.lit(width)).cast("bigint").alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


def _grid_merge(
    batch: DataFrame, prev: DataFrame | None, value_col: str, width: float
) -> DataFrame:
    return add_counts(grid_histogram(batch, value_col, width), prev, "bin")


def quantile_bounds(hist: DataFrame, width: float, qs: list[float]) -> DataFrame:
    """(q, lo, hi) per requested quantile: the true q-quantile of the
    sketched data lies in [lo, hi) — one bin width apart. Runs on the
    bins-sized frame: a cumulative window over bins (the state, never
    the data) + the total as a scalar subquery."""
    spark = hist.sparkSession
    cum = hist.withColumn(
        "cum",
        F.sum("c").over(
            W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    qdf = local_frame(spark, [(float(q),) for q in qs], "q double")
    hit = (
        cum.withColumn("n", hist.agg(F.sum("c").cast("bigint")).scalar())
        .join(
            F.broadcast(qdf),
            F.col("cum") >= F.ceil(F.col("q") * F.col("n")),
        )
        .groupBy("q")
        .agg(F.min("bin").alias("bin"))
    )
    return hit.select(
        "q",
        (F.col("bin") * F.lit(width)).alias("lo"),
        ((F.col("bin") + 1) * F.lit(width)).alias("hi"),
    )


def grid_quantiles_drain(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    state_dir: str,
    checkpoint_dir: str,
    value_col: str,
    width: float = 1.0,
) -> DataFrame:
    """Drain `src_dir` parquet as an availableNow stream into the grid
    histogram; returns the final (bin, c) state — bit-identical to the
    batch histogram of all drained rows, any partitioning. Feed to
    `quantile_bounds` for the percentile readout."""
    return chain_drain(
        spark,
        src_dir,
        schema,
        state_dir,
        checkpoint_dir,
        lambda batch, prev: _grid_merge(batch, prev, value_col, width),
        empty_schema="bin long, c long",
    )
