"""Date-dimension generator (S10 + F4).

Reference: db/init/01-schema.sql:105-131 — a `generate_series` calendar
2020-01-01..2030-12-31 with 15 derived attributes. Spark-native:
`explode(sequence(...))` — a single narrow stage, no shuffle, ~4k rows.

Parity notes (SURVEY §7.4): PostgreSQL/DuckDB EXTRACT(DOW) is 0-based
Sunday=0 while Spark's `dayofweek` is 1-based Sunday=1 — we emit the
0-based convention. Day/month names match between Spark's
`date_format('EEEE'/'MMMM')` and DuckDB's dayname()/monthname().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def date_dimension(spark: SparkSession, start: str = "2020-01-01") -> DataFrame:
    """One row per day from `start` through 2030-12-31."""
    d = F.col("full_date")
    month = F.month(d)
    return (
        spark.sql(
            f"SELECT explode(sequence(to_date('{start}'), to_date('2030-12-31'), "
            "interval 1 day)) AS full_date"
        )
        .select(
            F.date_format(d, "yyyyMMdd").cast("int").alias("date_key"),
            d,
            (F.dayofweek(d) - 1).alias("day_of_week"),  # 0=Sunday, PG parity
            F.date_format(d, "EEEE").alias("day_name"),
            F.dayofmonth(d).alias("day_of_month"),
            F.dayofyear(d).alias("day_of_year"),
            F.weekofyear(d).alias("week_of_year"),
            month.alias("month_number"),
            F.date_format(d, "MMMM").alias("month_name"),
            F.quarter(d).alias("quarter"),
            F.year(d).alias("year"),
            F.dayofweek(d).isin(1, 7).alias("is_weekend"),
            _season(month, northern=True).alias("season_northern"),
            _season(month, northern=False).alias("season_southern"),
        )
    )


def _season(month, northern: bool):
    """CASE-on-month season labels (reference db/init/01-schema.sql:119-130)."""
    spring, summer, autumn, winter = (
        ((3, 4, 5), (6, 7, 8), (9, 10, 11), (12, 1, 2))
        if northern
        else ((9, 10, 11), (12, 1, 2), (3, 4, 5), (6, 7, 8))
    )
    return (
        F.when(month.isin(*spring), F.lit("Spring"))
        .when(month.isin(*summer), F.lit("Summer"))
        .when(month.isin(*autumn), F.lit("Autumn"))
        .otherwise(F.lit("Winter"))
    )
