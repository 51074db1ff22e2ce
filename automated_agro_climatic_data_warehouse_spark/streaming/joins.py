"""Stream-stream join (Structured Streaming's hardest stateful shape).

Purchase→click attribution as a watermarked inner join of two event
streams: for every purchase, all clicks by the same user in the
preceding 24 h. This is the canonical ad-attribution topology, and the
semantics match the batch `ev_purchase_attribution` query exactly
(tests/test_streaming_join.py asserts pair-set equality).

Why this shape at scale: Spark co-partitions both streams on the join
key (user_id) and keeps per-key state ONLY for the watermark-bounded
time range — the `c.ts >= p.ts - 24h` condition plus both watermarks
lets the engine evict click state older than (max event time − 24 h −
delay) and purchase state older than the delay, so state is
O(traffic in the window), not O(stream history). Without the time-range
condition the state grows unboundedly; that constraint is the whole
design.

The batch twin reads the same parquet with plain DataFrame ops; the
driver-facing oracle lives on the batch query (DuckDB has no streams).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .state_chain import memory_drain
from .windows import events_readstream


def streaming_purchase_attribution(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
    output_dir: str | None = None,
) -> DataFrame:
    """Run the 24 h purchase←click attribution as a watermarked
    stream-stream inner join, drained with availableNow; returns the
    materialized pair set (purchase_id, user_id, click_id, us_before).

    Default sink is an in-memory table (test/inspection). Pass
    `output_dir` to use a parquet file sink instead — the production
    shape, and the one that supports checkpoint RECOVERY, so a re-drain
    over the same checkpoint is an exactly-once no-op (memory sinks
    cannot recover; Spark refuses their restart)."""
    stage = f"{checkpoint_dir}/input"
    events = events_readstream(spark, sf_dir, stage)

    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 24 HOURS")
        ),
    ).select(
        "purchase_id",
        "user_id",
        "click_id",
        (
            F.unix_micros(F.col("purchase_ts"))
            - F.unix_micros(F.col("click_ts"))
        ).alias("us_before"),
    )

    if output_dir is not None:
        q = (
            joined.writeStream.outputMode("append")
            .format("parquet")
            .option("path", output_dir)
            .option("checkpointLocation", f"{checkpoint_dir}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(output_dir)

    return memory_drain(joined, f"{checkpoint_dir}/ckpt", "append")[0]


def streaming_purchase_attribution_outer(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str
) -> DataFrame:
    """LEFT OUTER variant of the attribution join: purchases with NO
    qualifying click in their 24 h window still emit — with a null
    click — once the watermark proves no matching click can still
    arrive. This is the semantics an attribution pipeline actually
    needs ("organic" purchases must reach the fact table too), and the
    subtle part the inner join hides: outer rows are emitted by
    WATERMARK EVICTION, so purchases younger than (watermark delay +
    join window) at end-of-stream stay buffered in state, not emitted —
    the test restricts its batch-equivalence assertion to old-enough
    purchases for exactly this reason. Same state sizing as the inner
    join: both sides' buffers are bounded by watermark + window."""
    stage = f"{checkpoint_dir}/input"
    events = events_readstream(spark, sf_dir, stage)
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 24 HOURS")
        ),
        "leftOuter",
    ).select("purchase_id", "user_id", "purchase_ts", "click_id")
    return memory_drain(joined, f"{checkpoint_dir}/ckpt", "append")[0]
