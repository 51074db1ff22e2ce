"""SCD Type 2 dimension maintenance (SURVEY §1.1 dim_location, §7.2 step 5).

The reference keeps SCD2 columns on dim_location
(db/init/01-schema.sql:22-24: effective_date / expiration_date /
is_current) but maintains them procedurally row-by-row
(etl/load/postgres_loader.py:19-63). Spark-native: one set-based pass —

    changed   = current ⋈ incoming WHERE tracked attrs differ
    closed    = changed current rows, expiration=as_of, is_current=false
    fresh     = changed ∪ brand-new incoming rows, effective=as_of, current
    unchanged = everything else passes through

At scale: the dimension is orders of magnitude smaller than facts; the
joins are on the natural-key hash (uniform), history stays append-only —
this is the standard warehouse pattern without requiring Delta MERGE.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def _differs(a: Column, b: Column) -> Column:
    """Null-safe inequality: NULL vs value counts as a change."""
    return ~a.eqNullSafe(b)


def scd2_apply(
    dim: DataFrame,
    incoming: DataFrame,
    natural_key: str,
    tracked_cols: list[str],
    as_of,  # Column or date literal string
) -> DataFrame:
    """Apply one incoming batch to an SCD2 dimension.

    `dim` holds the full history (current + closed rows); `incoming` holds
    one attribute row per natural key. Returns the new full history.
    """
    as_of_col = F.lit(as_of).cast("date") if isinstance(as_of, str) else as_of
    current = dim.filter(F.col("is_current"))
    history = dim.filter(~F.col("is_current"))

    inc = incoming.select(
        F.col(natural_key).alias("__nk"),
        *[F.col(c).alias(f"__inc_{c}") for c in tracked_cols],
    )
    joined = current.join(inc, current[natural_key] == inc["__nk"], "left")
    change = reduce(
        lambda x, y: x | y,
        [_differs(F.col(c), F.col(f"__inc_{c}")) for c in tracked_cols],
    )
    matched_changed = F.col("__nk").isNotNull() & change

    unchanged = joined.filter(~matched_changed | F.col("__nk").isNull()).select(
        *dim.columns
    )
    closed = (
        joined.filter(matched_changed)
        .select(*dim.columns)
        .withColumn("expiration_date", as_of_col)
        .withColumn("is_current", F.lit(False))
    )
    # fresh rows: incoming keys that are new OR changed
    cur_keys = current.select(F.col(natural_key).alias("__ck"))
    changed_keys = joined.filter(matched_changed).select(
        F.col(natural_key).alias("__ck")
    )
    fresh_src = incoming.join(
        cur_keys.exceptAll(changed_keys),
        incoming[natural_key] == F.col("__ck"),
        "left_anti",
    )
    fresh = (
        fresh_src.withColumn("effective_date", as_of_col)
        .withColumn("expiration_date", F.lit(None).cast("date"))
        .withColumn("is_current", F.lit(True))
        .select(*dim.columns)
    )
    return history.unionByName(unchanged).unionByName(closed).unionByName(fresh)
