"""Streaming Page-Hinkley drift monitor: per-type sequential test
state drained through the committed-state chain, with the alarm
readout available after any prefix of the stream.

This is the native form of dq_page_hinkley (plans/quality_queries.py):
a drift detector exists to fire WHILE the metric stream runs. Unlike
the additive-counter monitors (capture_recapture, survival_km,
sprt...), Page-Hinkley's statistic depends on the RUNNING mean over
the whole prefix, so the state is an ORDERED FOLD, not a semilattice:
per event_type, (i, s, m, min_m, max_ph, n_alarm, first_alarm_day) —
seven scalars that O(1)-fold each new day. The fold is
order-sensitive by nature (that is what "sequential test" means), so
the monitor REQUIRES day-ordered arrival within and across
micro-batches — the production reality for a daily rollup feed, and
exactly what availableNow + maxFilesPerTrigger=1 over
lexically/time-ordered day files provides. Replays are still absorbed
by the committed-state chain (a re-delivered batch re-derives the same
committed state), so the drained state is deterministic for a given
file order; the stream≡batch test pins the drained readout
row-for-row to the registered batch query over the same days.

Input rows are DAILY aggregates (event_type, day, x) as a rollup
emits them. Grid constants mirror the batch query's literals
(delta_q = 2^19, lambda_q = 20*2^20); the parity test fails if either
side drifts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .state_chain import chain_drain

PH_DELTA_Q = 524288        # 2^19 — half an event of daily tolerance
PH_LAMBDA_Q = 20971520     # 20 * 2^20 — alarm threshold

_STATE_SCHEMA = (
    "event_type string, i bigint, s bigint, m bigint, min_m bigint,"
    " max_ph bigint, n_alarm bigint, first_alarm_day date,"
    " last_day date"
)


def ph_fold(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
    """One chain step: fold the batch's day rows (event_type, day, x),
    IN day order per type, onto the persisted Page-Hinkley state. All
    arithmetic is the batch query's exact integer staging: deviation
    ((x*i - S)*2^20) div i with the sign-split, walk m, running min,
    ph = m - min(0, min_m).

    Order-violation guard (r9 ADVICE): the fold is only correct over
    strictly-increasing days per type, so the state persists the last
    folded day (`last_day`) and every batch row is asserted PAST it —
    and past its within-batch predecessor. A backfilled, re-delivered
    (under a new batch_id — same-id replays never reach the fold; the
    chain skips committed ids), or mtime-tied day file now fails the
    drain loudly at state-write time instead of silently corrupting
    the sequential statistic."""
    if prev is not None:
        st0 = prev.select(
            "event_type",
            F.col("i").alias("i0"),
            F.col("s").alias("s0"),
            F.col("m").alias("m0"),
            F.col("min_m").alias("min_m0"),
            F.col("max_ph").alias("max_ph0"),
            F.col("n_alarm").alias("n_alarm0"),
            F.col("first_alarm_day").alias("first0"),
            F.col("last_day").alias("last0"),
        )
        b = batch.join(F.broadcast(st0), "event_type", "left")
    else:
        b = batch.select(
            "*",
            F.lit(None).cast("bigint").alias("i0"),
            F.lit(None).cast("bigint").alias("s0"),
            F.lit(None).cast("bigint").alias("m0"),
            F.lit(None).cast("bigint").alias("min_m0"),
            F.lit(None).cast("bigint").alias("max_ph0"),
            F.lit(None).cast("bigint").alias("n_alarm0"),
            F.lit(None).cast("date").alias("first0"),
            F.lit(None).cast("date").alias("last0"),
        )
    wlag = W.partitionBy("event_type").orderBy("day")
    in_order = (
        F.col("last0").isNull() | (F.col("day") > F.col("last0"))
    ) & (
        F.lag("day").over(wlag).isNull()
        | (F.col("day") > F.lag("day").over(wlag))
    )
    guard = F.assert_true(
        in_order,
        F.concat_ws(
            " ",
            F.lit("page_hinkley: non-increasing day for type"),
            F.col("event_type"),
            F.lit("at"),
            F.col("day").cast("string"),
            F.lit("(state watermark"),
            F.coalesce(F.col("last0").cast("string"), F.lit("none")),
            F.lit("— ordered-fold precondition violated)"),
        ),
    )
    # assert_true is NULL whenever it passes, so this coalesce is
    # always `x` — but it forces the guard's evaluation on every row
    # (a bare unused column would be pruned from the plan).
    b = b.withColumn("x", F.coalesce(guard.cast("bigint"), F.col("x")))
    wseq = W.partitionBy("event_type").orderBy("day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    folded = (
        b.select(
            "*",
            (
                F.coalesce(F.col("i0"), F.lit(0))
                + F.row_number().over(
                    W.partitionBy("event_type").orderBy("day")
                )
            ).cast("bigint").alias("i"),
            (
                F.coalesce(F.col("s0"), F.lit(0))
                + F.sum("x").over(wseq)
            ).cast("bigint").alias("s"),
        )
        .withColumn(
            "d_q",
            F.expr(
                "cast(case when x * i - s >= 0"
                " then ((x * i - s) * 1048576) div i"
                " else -(((s - x * i) * 1048576) div i) end as bigint)"
            ),
        )
        .withColumn(
            "m",
            (
                F.coalesce(F.col("m0"), F.lit(0))
                + F.sum(F.col("d_q") - F.lit(PH_DELTA_Q)).over(wseq)
            ).cast("bigint"),
        )
        .withColumn(
            "mn",
            F.least(
                F.coalesce(F.col("min_m0"), F.col("m")),
                F.min("m").over(wseq),
            ).cast("bigint"),
        )
        .withColumn(
            "ph",
            (
                F.col("m")
                - F.least(F.lit(0).cast("bigint"), F.col("mn"))
            ).cast("bigint"),
        )
    )
    stepped = folded.groupBy("event_type").agg(
        F.max("i").cast("bigint").alias("i"),
        F.expr("max_by(s, day)").cast("bigint").alias("s"),
        F.expr("max_by(m, day)").cast("bigint").alias("m"),
        F.min("mn").cast("bigint").alias("min_m"),
        F.greatest(
            F.coalesce(F.first("max_ph0"), F.lit(0)), F.max("ph")
        ).cast("bigint").alias("max_ph"),
        (
            F.coalesce(F.first("n_alarm0"), F.lit(0))
            + F.sum((F.col("ph") > F.lit(PH_LAMBDA_Q)).cast("int"))
        ).cast("bigint").alias("n_alarm"),
        F.coalesce(
            F.first("first0"),
            F.min(F.when(F.col("ph") > F.lit(PH_LAMBDA_Q), F.col("day"))),
        ).alias("first_alarm_day"),
        F.max("day").alias("last_day"),
    )
    if prev is None:
        return stepped
    carry = prev.join(stepped.select("event_type"), "event_type", "left_anti")
    return stepped.unionByName(carry)


def ph_readout(state: DataFrame) -> DataFrame:
    """The batch query's output columns off the live state."""
    return state.select(
        "event_type",
        F.col("i").alias("n_days"),
        F.col("max_ph").alias("max_ph_q"),
        F.col("n_alarm").alias("n_alarm_days"),
        "first_alarm_day",
    )


def page_hinkley_drain(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Drain `src_dir`'s DAY-ORDERED parquet daily-rollup files as an
    availableNow stream through the ordered fold; returns the final
    per-type state. Exactly-once per checkpoint via the
    committed-state chain; feed the result to ph_readout."""
    return chain_drain(
        spark,
        src_dir,
        "event_type string, day date, x bigint",
        state_dir,
        checkpoint_dir,
        ph_fold,
        empty_schema=_STATE_SCHEMA,
    )
