"""Aggregation operators (SURVEY §2.4, A1-A7) plus the free Spark extras
the reference lacks (rollup, approx distinct — §2.4 note).

All grouped aggs here have map-side partial aggregation (hash aggregate →
small shuffle keyed on low-cardinality groups), the shape that scales.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dsum
from ..sources import load_table
from .registry import query


@query(
    "a1_violation_counters",
    oracle="""
    SELECT
      count(CASE WHEN o_totalprice <= 0 THEN 1 END) AS nonpositive_total,
      count(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 END) AS bad_status,
      count(CASE WHEN o_orderdate < TIMESTAMP '1995-01-01' THEN 1 END) AS too_old
    FROM read_parquet('{sf}/orders.parquet')
    """,
    tags=("A1",),
)
def a1_violation_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicated COUNT battery — the reference's dominant aggregate
    (tests/test_workflows.py:104-147)."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("nonpositive_total"),
        F.count(F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)).alias(
            "bad_status"
        ),
        F.count(
            F.when(F.col("o_orderdate") < F.lit("1995-01-01").cast("timestamp"), 1)
        ).alias("too_old"),
    )


@query(
    "a2_freshness_probe",
    oracle="""
    SELECT CAST(max(l_shipdate) AS DATE) AS latest_ship,
           CAST(min(l_shipdate) AS DATE) AS earliest_ship,
           datediff('day', CAST(min(l_shipdate) AS DATE),
                    CAST(max(l_shipdate) AS DATE)) AS span_days
    FROM read_parquet('{sf}/lineitem.parquet')
    """,
    tags=("A2",),
)
def a2_freshness_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAX-freshness probe (reference tests/test_workflows.py:293-302).
    Min/max come straight from parquet footer statistics at scale."""
    li = load_table(spark, sf_dir, "lineitem")
    latest = F.max(F.col("l_shipdate").cast("date"))
    earliest = F.min(F.col("l_shipdate").cast("date"))
    return li.agg(
        latest.alias("latest_ship"),
        earliest.alias("earliest_ship"),
        F.datediff(latest, earliest).alias("span_days"),
    )


@query(
    "a3_composition_check",
    oracle="""
    WITH order_sums AS (
      SELECT l_orderkey, CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS items_total
      FROM read_parquet('{sf}/lineitem.parquet') GROUP BY l_orderkey
    )
    SELECT count(*) AS n_checked,
           count(CASE WHEN abs(o.o_totalprice - s.items_total)
                           > 0.5 * o.o_totalprice THEN 1 END) AS n_violations
    FROM read_parquet('{sf}/orders.parquet') o
    JOIN order_sums s ON o.o_orderkey = s.l_orderkey
    """,
    tags=("A3",),
)
def a3_composition_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition-sum consistency (reference clay+sand+silt ≈ 100,
    tests/test_workflows.py:113-126): parts must reconcile with the whole."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    sums = li.groupBy("l_orderkey").agg(dsum("l_extendedprice").alias("items_total"))
    return (
        o.join(sums, o.o_orderkey == sums.l_orderkey)
        .agg(
            F.count(F.lit(1)).alias("n_checked"),
            F.count(
                F.when(
                    F.abs(F.col("o_totalprice") - F.col("items_total"))
                    > 0.5 * F.col("o_totalprice"),
                    1,
                )
            ).alias("n_violations"),
        )
    )


@query(
    "a4_completeness_ratio",
    oracle="""
    SELECT count(value) * 1.0 / count(*) AS value_completeness,
           count(props) * 1.0 / count(*) AS props_completeness,
           count(user_id) * 1.0 / count(*) AS user_completeness
    FROM read_parquet('{sf}/events.parquet')
    """,
    tags=("A4",),
)
def a4_completeness_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column completeness ratios (reference data-quality.yml:288-296)."""
    ev = load_table(spark, sf_dir, "events")
    n = F.count(F.lit(1))

    def ratio(c):
        return F.try_divide(F.count(c) * F.lit(1.0), n)

    return ev.agg(
        ratio("value").alias("value_completeness"),
        ratio("props").alias("props_completeness"),
        ratio("user_id").alias("user_completeness"),
    )


@query(
    "a5_daily_counts",
    oracle="""
    SELECT CAST(o_orderdate AS DATE) AS order_day, count(*) AS n_orders
    FROM read_parquet('{sf}/orders.parquet')
    GROUP BY order_day
    """,
    tags=("A5",),
)
def a5_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily record-count monitoring metric (reference
    data-quality.yml:329-332)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("order_day"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "a6_pipeline_tally",
    oracle="""
    SELECT event_type, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value,
           count(DISTINCT user_id) AS n_users
    FROM read_parquet('{sf}/events.parquet')
    GROUP BY event_type
    """,
    tags=("A6",),
)
def a6_pipeline_tally(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-phase result tally (reference etl/orchestrator.py:105-124) —
    phase totals as one grouped agg instead of driver-side accumulation."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@query(
    "a7_confidence_score",
    oracle="""
    SELECT p_brand,
           CAST(sum(CAST(least(1.0,
                 0.3 * least(p_size / 50.0, 1.0)
               + 0.3 * least(p_retailprice / 2000.0, 1.0)
               + 0.2 * (CASE WHEN p_type LIKE '%BRASS%' THEN 1.0 ELSE 0.0 END)
               + 0.2 * (CASE WHEN p_size >= 10 THEN 1.0 ELSE 0.0 END)
               + least(0.05 * (p_partkey % 7), 0.2)) AS DECIMAL(28,9))) AS DOUBLE)
           / count(*) AS avg_confidence
    FROM read_parquet('{sf}/part.parquet')
    GROUP BY p_brand
    """,
    tags=("A7",),
)
def a7_confidence_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-sum confidence with capped evidence bonus (reference
    etl/transform/nlp_extractor.py:180-196): pure column arithmetic,
    capped with least()."""
    p = load_table(spark, sf_dir, "part")
    score = F.least(
        F.lit(1.0),
        0.3 * F.least(F.col("p_size") / 50.0, F.lit(1.0))
        + 0.3 * F.least(F.col("p_retailprice") / 2000.0, F.lit(1.0))
        + 0.2 * F.when(F.col("p_type").like("%BRASS%"), 1.0).otherwise(0.0)
        + 0.2 * F.when(F.col("p_size") >= 10, 1.0).otherwise(0.0)
        + F.least(0.05 * (F.col("p_partkey") % 7), F.lit(0.2)),
    )
    return p.groupBy("p_brand").agg(
        (F.sum(score.cast("decimal(28,9)")).cast("double") / F.count(F.lit(1))).alias(
            "avg_confidence"
        )
    )


@query(
    "a8_rollup_extension",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS total
    FROM read_parquet('{sf}/orders.parquet')
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    tags=("A-ext",),
)
def a8_rollup_extension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals — free Spark capability the reference lacks
    (SURVEY §2.4 note), exposed on the monitoring metrics."""
    return (
        load_table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("total"),
        )
    )


@query(
    "a9_approx_distinct_extension",
    oracle="""
    SELECT count(DISTINCT l_partkey) AS exact_parts,
           count(DISTINCT l_suppkey) AS exact_supps
    FROM read_parquet('{sf}/lineitem.parquet')
    """,
    tags=("A-ext",),
)
def a9_approx_distinct_extension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distincts checked against the oracle; at 100 TB the same query
    swaps to approx_count_distinct (HLL) — exposed in
    operators/profiling.py."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.countDistinct("l_suppkey").alias("exact_supps"),
    )


@query(
    "a10_exact_percentiles",
    oracle="""
    SELECT o_orderstatus,
           quantile_cont(o_totalprice, 0.5) AS p50,
           quantile_cont(o_totalprice, 0.9) AS p90,
           quantile_cont(o_totalprice, 0.99) AS p99
    FROM read_parquet('{sf}/orders.parquet')
    GROUP BY o_orderstatus
    """,
    tags=("A-ext", "percentile"),
)
def a10_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (bit-identical to DuckDB
    quantile_cont: both engines interpolate (1-f)·lower + f·upper over the
    sorted set). At 100 TB swap to approx_percentile (t-digest sketch,
    constant-memory partials); exact kept here for the oracle."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
        F.expr("percentile(o_totalprice, 0.99)").alias("p99"),
    )


@query(
    "a13_revenue_concentration",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(28,6)))
                  AS DECIMAL(28,6)) AS r
      FROM read_parquet('{sf}/orders.parquet') GROUP BY o_custkey
    ), top10 AS (
      SELECT r FROM rev ORDER BY r DESC, o_custkey ASC LIMIT 10
    )
    SELECT CAST((SELECT count(*) FROM rev) AS BIGINT) AS n_customers,
           CAST((SELECT CAST(sum(r) AS DECIMAL(28,6)) FROM top10)
                AS DOUBLE) AS top10_revenue,
           CAST((SELECT CAST(sum(r) AS DECIMAL(28,6)) FROM rev)
                AS DOUBLE) AS total_revenue,
           CAST((SELECT CAST(sum(r) AS DECIMAL(28,6)) FROM top10)
                AS DOUBLE)
             / CAST((SELECT CAST(sum(r) AS DECIMAL(28,6)) FROM rev)
                    AS DOUBLE) AS top10_share
    """,
    tags=("aggregates", "pareto", "concentration"),
)
def a13_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto) readout: the top-10 customers'
    share of total revenue — the one-row KPI behind key-account risk
    and the empirical check on "how skewed is this key really" before
    choosing a salting strategy. Scale-safe by construction: per-key
    revenue aggregates with map-side partials; the top-10 plans as
    TakeOrderedAndProject (per-partition heaps — NEVER a global sort,
    the trap a rank()-based percentile formulation would hit on the
    customer-cardinality table); the top-10 sum is a scalar subquery
    on the totals row. Revenue accumulates in exact DECIMAL(28,6) everywhere;
    the share is one IEEE division of two exact decimal-cast doubles.
    Tie-break on custkey keeps the LIMIT deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
        .cast("decimal(28,6)")
        .alias("r")
    )
    top10 = rev.orderBy(F.desc("r"), F.asc("o_custkey")).limit(10)
    top10_revenue = top10.agg(
        F.sum("r").cast("decimal(28,6)").cast("double")
    ).scalar()
    tot = rev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("r").cast("decimal(28,6)").cast("double").alias("total_revenue"),
    ).withColumn("top10_revenue", top10_revenue)
    return tot.select(
        "n_customers",
        "top10_revenue",
        "total_revenue",
        (F.col("top10_revenue") / F.col("total_revenue")).alias("top10_share"),
    )
