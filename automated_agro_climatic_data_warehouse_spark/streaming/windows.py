"""Structured Streaming wrappers over the batch event operators
(SURVEY §2.10: the reference's cron micro-batches map to `availableNow`
incremental triggers).

The streaming plan is the SAME logical aggregation as the batch
`ev_tumbling_hourly` query — watermark + tumbling window — driven to
completion synchronously over the parquet at rest. tests/test_streaming.py
asserts the streaming result equals the batch result row-for-row.

At scale this is the production shape for incremental loads: the source
becomes a landing directory / Kafka topic, `availableNow` drains whatever
is there exactly-once per run (checkpointed), and the sink becomes
`foreachBatch` → upsert (operators/upsert.py) instead of a memory table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .state_chain import memory_drain


def _events_schema(ts_nanos: bool) -> T.StructType:
    """Streaming sources need an explicit schema; build it to match the
    events parquet's actual `ts` encoding (both historical generations —
    see sources/readers.py EXPECTED_SCHEMAS)."""
    ts_type = T.LongType() if ts_nanos else T.TimestampType()
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def events_readstream(spark: SparkSession, sf_dir: str, stage: str) -> DataFrame:
    """availableNow-able stream over the events parquet with `ts`
    normalized to TimestampType — the streaming twin of
    sources/readers.load_table("events"). FileStreamSource requires a
    directory: stage a symlink to the (read-only) testdata file; in
    production this is the landing directory / Kafka topic."""
    import pyarrow.parquet as pq

    os.makedirs(stage, exist_ok=True)
    link = f"{stage}/events.parquet"
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    ts_nanos = str(pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type) == (
        "timestamp[ns]"
    )
    if ts_nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = spark.readStream.schema(_events_schema(ts_nanos)).format("parquet").load(
        stage
    )
    if ts_nanos:
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000").cast("long"))
        )
    return stream


def streaming_tumbling_hourly(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Run the tumbling-hourly aggregation as an availableNow stream over
    the events parquet; returns the materialized result DataFrame."""
    stream = events_readstream(spark, sf_dir, f"{checkpoint_dir}/input")
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return memory_drain(agg, checkpoint_dir, "complete")[0]


def streaming_session_window(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Native session_window sessionization as an availableNow stream —
    the SAME MergingSessions physical operator the batch
    `ev_session_window_native` query plans, which is the whole point:
    batch and stream share one sessionization semantics, so the
    stream≡batch equality test (tests/test_streaming.py) is a real
    operator-identity check, not a reimplementation that happens to
    agree. Watermark bounds session state: sessions older than
    (max event time − 30-minute gap − 1-hour delay) finalize and evict."""
    stream = events_readstream(spark, sf_dir, f"{checkpoint_dir}/input")
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return memory_drain(agg, checkpoint_dir, "complete")[0]


def streaming_sliding_3h(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str
) -> DataFrame:
    """SLIDING-window aggregation (3-hour span, 1-hour slide) as an
    availableNow stream — the streaming twin of the batch
    `ev_sliding_3h_counts` query (same `F.window(ts, span, slide)`
    operator, same engine-side ×3 window expansion). State bound: the
    watermark evicts a window once it passes its end ONLY in
    update/append output modes — steady-state memory is then
    (span/slide + delay) windows per key. This test harness drains
    with a complete-mode memory sink (so the one availableNow batch
    exposes every window for the stream≡batch comparison), and
    complete mode retains all state; a production deployment of this
    aggregation must use update/append for the eviction to apply.
    tests/test_streaming.py pins stream ≡ batch row-for-row."""
    stream = events_readstream(spark, sf_dir, f"{checkpoint_dir}/input")
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "3 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return memory_drain(agg, checkpoint_dir, "complete")[0]
