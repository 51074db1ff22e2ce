"""Flagship star-schema queries.

The flagship mirrors the reference's materialized view
`mv_location_crop_compatibility` (db/init/01-schema.sql:254-271): dimension
join (J1) + cross join to a small dim (J2) + interval-containment BETWEEN
(P4/J6) + CASE labeling (F5), rephrased over the TPC-H-ish testdata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import DAVG_SQL, DSUM_SQL, davg, dsum
from ..session import local_frame
from ..sources import load_table
from ..sources.date_dim import date_dimension
from .registry import query

# small "crop requirements" analog: account-balance compatibility bands.
# Tiny dim → Spark broadcasts it (BroadcastNestedLoopJoin for the cross join),
# exactly how dim_crop (~10s of rows) behaves at 100 TB fact scale.
BANDS = [
    ("low_balance", -1000.0, 0.0),
    ("mid_balance", 0.0, 5000.0),
    ("high_balance", 5000.0, 10000.0),
]

BANDS_SQL = (
    "(VALUES ('low_balance', -1000.0, 0.0), ('mid_balance', 0.0, 5000.0), "
    "('high_balance', 5000.0, 10000.0)) AS b(band_name, lo, hi)"
)


def bands_df(spark: SparkSession) -> DataFrame:
    return local_frame(spark, BANDS, "band_name string, lo double, hi double")


@query(
    "mv_compatibility",
    oracle=f"""
    SELECT c.c_custkey, r.r_name AS region_name, b.band_name,
           CASE WHEN c.c_acctbal BETWEEN b.lo AND b.hi
                THEN 'Compatible' ELSE 'Incompatible' END AS compatibility
    FROM read_parquet('{{sf}}/customer.parquet') c
    JOIN read_parquet('{{sf}}/nation.parquet') n ON c.c_nationkey = n.n_nationkey
    JOIN read_parquet('{{sf}}/region.parquet') r ON n.n_regionkey = r.r_regionkey
    CROSS JOIN {BANDS_SQL}
    """,
    tags=("J1", "J2", "P4", "F5", "S15"),
)
def mv_compatibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Location×crop compatibility MV analog (reference db/init/01-schema.sql:254-271).

    customer⋈nation⋈region (broadcast dims) × bands (broadcast cross join),
    BETWEEN containment labeled Compatible/Incompatible — the reference keeps
    incompatible rows labeled rather than filtered, so we do too.
    """
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .crossJoin(F.broadcast(bands_df(spark)))
        .select(
            "c_custkey",
            F.col("r_name").alias("region_name"),
            "band_name",
            F.when(
                F.col("c_acctbal").between(F.col("lo"), F.col("hi")),
                F.lit("Compatible"),
            )
            .otherwise(F.lit("Incompatible"))
            .alias("compatibility"),
        )
    )


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {DSUM_SQL('l_quantity')} AS sum_qty,
           {DSUM_SQL('l_extendedprice')} AS sum_base_price,
           {DSUM_SQL('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {DSUM_SQL('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {DAVG_SQL('l_quantity')} AS avg_qty,
           {DAVG_SQL('l_extendedprice')} AS avg_price,
           {DAVG_SQL('l_discount')} AS avg_disc,
           count(*) AS count_order
    FROM read_parquet('{{sf}}/lineitem.parquet')
    WHERE l_shipdate < TIMESTAMP '2001-06-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("A1", "A4", "P3"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped grouped aggregation — the headline agg throughput query.

    One scan, map-side partial aggregation, tiny shuffle (|groups| ≈ 6).
    The shipdate filter pushes down to the parquet scan. Sums go through
    exact decimal accumulation (functions/parity.py) so the result is
    bit-reproducible regardless of partition/summation order.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") < F.lit("2001-06-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "j1_star_join_revenue",
    oracle=f"""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           {DSUM_SQL('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           count(*) AS n_items
    FROM read_parquet('{{sf}}/lineitem.parquet') l
    JOIN read_parquet('{{sf}}/orders.parquet') o ON l.l_orderkey = o.o_orderkey
    JOIN read_parquet('{{sf}}/customer.parquet') c ON o.o_custkey = c.c_custkey
    JOIN read_parquet('{{sf}}/nation.parquet') n ON c.c_nationkey = n.n_nationkey
    JOIN read_parquet('{{sf}}/region.parquet') r ON n.n_regionkey = r.r_regionkey
    GROUP BY region_name, nation_name
    """,
    tags=("J1", "J4"),
)
def j1_star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full star join: fact⋈fact-side dim chain, revenue per region/nation.

    lineitem⋈orders is the one real shuffle; customer/nation/region are
    broadcast (dims ≪ fact at every SF). AQE handles skew on orderkey.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "s10_date_dimension",
    oracle="""
    WITH days AS (
      SELECT CAST(unnest(generate_series(DATE '2020-01-01', DATE '2030-12-31',
                                         INTERVAL 1 DAY)) AS DATE) AS d
    )
    SELECT CAST(strftime(d, '%Y%m%d') AS INT) AS date_key,
           d AS full_date,
           dayofweek(d) AS day_of_week,
           dayname(d) AS day_name,
           dayofmonth(d) AS day_of_month,
           dayofyear(d) AS day_of_year,
           weekofyear(d) AS week_of_year,
           month(d) AS month_number,
           monthname(d) AS month_name,
           quarter(d) AS quarter,
           year(d) AS year,
           dayofweek(d) IN (0, 6) AS is_weekend,
           CASE WHEN month(d) IN (3,4,5) THEN 'Spring'
                WHEN month(d) IN (6,7,8) THEN 'Summer'
                WHEN month(d) IN (9,10,11) THEN 'Autumn'
                ELSE 'Winter' END AS season_northern,
           CASE WHEN month(d) IN (9,10,11) THEN 'Spring'
                WHEN month(d) IN (12,1,2) THEN 'Summer'
                WHEN month(d) IN (3,4,5) THEN 'Autumn'
                ELSE 'Winter' END AS season_southern
    FROM days
    """,
    tags=("S10", "F4"),
)
def s10_date_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar dimension (reference db/init/01-schema.sql:105-131)."""
    return date_dimension(spark)
