"""As-of (point-in-time) join — an operator Spark lacks natively.

For every left row, attach the most recent right-side observation with
`right.ts <= left.ts` within the same key group. The classic use in this
warehouse's domain: join a measurement stream (weather observations,
quotes, sensor readings) to an event stream at event time without leaking
the future.

Implementation is the union-tag pattern, NOT a range join:

  1. tag right rows side=0, left rows side=1
  2. union, then one window per key ordered by (ts, side)
  3. pack the right payload into ONE struct per right row (non-null even
     when every field is null) and carry it forward with
     last(..., ignorenulls=True) over rows UNBOUNDED PRECEDING..CURRENT —
     so a legitimately-NULL right value is carried as-is instead of being
     skipped for an older non-null one
  4. keep side=1 rows, unpack the struct (null struct → null values,
     i.e. "no prior observation")

Why this shape at 100 TB: a range join (`r.ts <= l.ts`, pick max) either
explodes to near-quadratic pairs before aggregation or becomes a
BroadcastNestedLoopJoin; the union-tag plan is ONE shuffle on the key
(both inputs co-partitioned) + an in-partition sort — the same cost as a
single sort-merge join, and skew-safe for the usual many-keys case. Ties
at equal ts resolve as right-before-left (side 0 sorts first), i.e. an
observation AT the event instant is visible — matching the `<=` contract.

Right-side rows must be unique per (key, ts); callers pre-aggregate
duplicates (e.g. max value per instant) so results are deterministic.
Right values MAY be null — the struct marker distinguishes "prior row
whose value is null" from "no prior row" (DuckDB ASOF JOIN semantics).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.sql.window import Window as W


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    value_cols: Sequence[str] | None = None,
    direction: str = "backward",
    tolerance_sec: float | None = None,
) -> DataFrame:
    """Left rows + latest right `value_cols` as of each left row's ts
    (null when no prior observation exists). `on` is the equi-key set;
    both inputs must carry a `ts` column.

    `direction`: "backward" (default — most recent right.ts <= left.ts)
    or "forward" (NEAREST FUTURE right.ts >= left.ts — the lookup a
    forecast/next-reading join needs). Forward is the identical
    union-tag plan traversed in descending ts order; an observation AT
    the instant stays visible in both directions. Same single-shuffle
    cost either way.

    `tolerance_sec` (pandas merge_asof's `tolerance`): a match whose
    staleness exceeds the bound degrades to null — "a 9-day-old sensor
    reading is NOT the current temperature". Implemented as a post-carry
    null-out, so the plan is unchanged (the matched right ts rides along
    inside the pack struct); the comparison is exact integer
    microseconds for timestamp columns (no float boundary drift), raw
    column units for numeric ts columns."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"unknown asof direction: {direction!r}")
    on = list(on)
    value_cols = list(value_cols or [c for c in right.columns
                                     if c not in (*on, "ts")])
    left_payload = [c for c in left.columns if c not in (*on, "ts")]

    pack_type = StructType(
        [StructField("__rts", right.schema["ts"].dataType)]
        + [StructField(c, right.schema[c].dataType) for c in value_cols]
    )
    r = right.select(
        *on, "ts", F.lit(0).alias("__side"),
        F.struct(
            F.col("ts").alias("__rts"), *[F.col(c) for c in value_cols]
        ).alias("__pack"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left_payload],
    )
    lft = left.select(
        *on, "ts", F.lit(1).alias("__side"),
        F.lit(None).cast(pack_type).alias("__pack"),
        *[F.col(c) for c in left_payload],
    )
    order = (
        [F.col("ts").asc(), F.col("__side").asc()]
        if direction == "backward"
        else [F.col("ts").desc(), F.col("__side").asc()]
    )
    w = (
        W.partitionBy(*on)
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = r.unionByName(lft).select(
        *on, "ts", "__side", *left_payload,
        F.last("__pack", ignorenulls=True).over(w).alias("__pack"),
    )
    if tolerance_sec is None:
        vals = [F.col(f"__pack.{c}").alias(c) for c in value_cols]
    else:
        from pyspark.sql.types import TimestampType

        if isinstance(right.schema["ts"].dataType, TimestampType):
            gap = F.unix_micros(F.col("ts")) - F.unix_micros(
                F.col("__pack.__rts")
            )
            bound = F.lit(int(tolerance_sec * 1_000_000))
        else:
            gap = F.col("ts") - F.col("__pack.__rts")
            bound = F.lit(tolerance_sec)
        if direction == "forward":
            gap = -gap
        vals = [
            F.when(gap <= bound, F.col(f"__pack.{c}")).alias(c)
            for c in value_cols
        ]
    return (
        carried.filter(F.col("__side") == 1)
        .select(*on, "ts", *left_payload, *vals)
    )
