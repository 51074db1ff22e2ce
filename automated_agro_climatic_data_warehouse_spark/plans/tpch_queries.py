"""Classic warehouse analytics suite (TPC-H-shaped, adapted to the
driver testdata's column subset — no partsupp/shipmode/phone columns).

These widen the analytical surface beyond the reference's own queries
(SURVEY §3.3 runs ad-hoc SQL over the star schema; this is the standard
multi-join/agg corpus any warehouse user brings with them). Every plan
follows the repo parity conventions (functions/parity.py): exact-decimal
money aggregation, broadcast dimensions, no unpartitioned windows, ties
broken on unique keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import DSUM_SQL, dsum
from ..sources import load_table
from .registry import query

def _rev() -> "F.Column":
    # built lazily: classic-Spark Column construction needs an active
    # SparkContext, which doesn't exist at module import time
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


_REV_SQL = DSUM_SQL("l_extendedprice * (1 - l_discount)")


@query(
    "q7_volume_shipping",
    oracle=f"""
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           {_REV_SQL} AS revenue
    FROM read_parquet('{{sf}}/lineitem.parquet') l
    JOIN read_parquet('{{sf}}/orders.parquet') o ON o.o_orderkey = l.l_orderkey
    JOIN read_parquet('{{sf}}/customer.parquet') c ON c.c_custkey = o.o_custkey
    JOIN read_parquet('{{sf}}/nation.parquet') nc ON nc.n_nationkey = c.c_nationkey
    JOIN read_parquet('{{sf}}/supplier.parquet') s ON s.s_suppkey = l.l_suppkey
    JOIN read_parquet('{{sf}}/nation.parquet') ns ON ns.n_nationkey = s.s_nationkey
    WHERE ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
        OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
      AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                           AND TIMESTAMP '1997-12-31'
    GROUP BY supp_nation, cust_nation, l_year
    """,
    tags=("analytics", "J1", "A3"),
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral trade volume between two nations per ship year (TPC-H
    Q7 shape). The two nation dims and supplier broadcast; lineitem ⋈
    orders is the only big shuffle, and the nation-pair predicate prunes
    before aggregation. Revenue in exact decimals."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    ns = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    nc = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    return (
        l.filter(
            F.col("l_shipdate").between("1996-01-01", "1997-12-31 00:00:00")
        )
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(ns), F.col("s_nk") == F.col("s_nationkey"))
        .join(F.broadcast(nc), F.col("c_nk") == F.col("c_nationkey"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(dsum(_rev()).alias("revenue"))
    )


@query(
    "q8_market_share",
    oracle=f"""
    WITH all_rev AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             {DSUM_SQL("l_extendedprice * (1 - l_discount)")} AS total,
             {DSUM_SQL("CASE WHEN ns.n_name = 'NATION_3' "
                       "THEN l_extendedprice * (1 - l_discount) "
                       "ELSE 0 END")} AS nation_rev
      FROM read_parquet('{{sf}}/lineitem.parquet') l
      JOIN read_parquet('{{sf}}/orders.parquet') o ON o.o_orderkey = l.l_orderkey
      JOIN read_parquet('{{sf}}/part.parquet') p ON p.p_partkey = l.l_partkey
      JOIN read_parquet('{{sf}}/supplier.parquet') s ON s.s_suppkey = l.l_suppkey
      JOIN read_parquet('{{sf}}/nation.parquet') ns ON ns.n_nationkey = s.s_nationkey
      WHERE p.p_type = 'PROMO'
      GROUP BY o_year
    )
    SELECT o_year, nation_rev / total AS mkt_share, total AS total_revenue
    FROM all_rev
    """,
    tags=("analytics", "J1", "A3"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One nation's market share of PROMO-part revenue per order year
    (TPC-H Q8 shape). Both numerator and denominator accumulate as exact
    decimals in the SAME pass (conditional dsum), so the share is one
    IEEE division of identical operands — bit-stable cross-engine, and
    one aggregation instead of two scans."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), "n_name"
    )
    rev = _rev()
    nation_rev = F.when(F.col("n_name") == "NATION_3", rev).otherwise(
        F.lit(0.0)
    )
    agg = (
        l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("s_nk") == F.col("s_nationkey"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            dsum(rev).alias("total"),
            dsum(nation_rev).alias("nation_rev"),
        )
    )
    return agg.select(
        "o_year",
        (F.col("nation_rev") / F.col("total")).alias("mkt_share"),
        F.col("total").alias("total_revenue"),
    )


@query(
    "q10_returned_items",
    oracle=f"""
    WITH ranked AS (
      SELECT c.c_custkey, c.c_name, n.n_name,
             {_REV_SQL} AS revenue
      FROM read_parquet('{{sf}}/lineitem.parquet') l
      JOIN read_parquet('{{sf}}/orders.parquet') o ON o.o_orderkey = l.l_orderkey
      JOIN read_parquet('{{sf}}/customer.parquet') c ON c.c_custkey = o.o_custkey
      JOIN read_parquet('{{sf}}/nation.parquet') n ON n.n_nationkey = c.c_nationkey
      WHERE l.l_returnflag = 'R'
        AND o.o_orderdate >= TIMESTAMP '1997-01-01'
        AND o.o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY c.c_custkey, c.c_name, n.n_name
    )
    SELECT c_custkey, c_name, n_name, revenue
    FROM ranked ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
    tags=("analytics", "J1", "W3"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by returned-item revenue in one year (TPC-H Q10
    shape): selective returnflag + date predicates push into the scan,
    customer/nation broadcast, and the final top-k plans as
    TakeOrderedAndProject (per-partition heaps — never a global sort).
    Tie-break on c_custkey keeps the cut deterministic."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(_rev()).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "q13_customer_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM read_parquet('{sf}/customer.parquet') c
      LEFT JOIN read_parquet('{sf}/orders.parquet') o
        ON o.o_custkey = c.c_custkey
       AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM per_cust GROUP BY c_count
    """,
    tags=("analytics", "J3", "A5"),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution INCLUDING zero-order customers
    (TPC-H Q13 shape): the left outer join is the part a naive inner-join
    rewrite silently drops. count(o_orderkey) counts only matched rows —
    nulls from the outer side fall out, which both engines agree on. Two
    shuffles: the outer join on custkey, then the tiny count-of-counts."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@query(
    "q14_promo_effect",
    oracle=f"""
    SELECT 100.0 * {DSUM_SQL("CASE WHEN p.p_type = 'PROMO' "
                             "THEN l_extendedprice * (1 - l_discount) "
                             "ELSE 0 END")}
           / {DSUM_SQL("l_extendedprice * (1 - l_discount)")} AS promo_pct
    FROM read_parquet('{{sf}}/lineitem.parquet') l
    JOIN read_parquet('{{sf}}/part.parquet') p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-03-01'
      AND l.l_shipdate < TIMESTAMP '1997-04-01'
    """,
    tags=("analytics", "J4", "A3"),
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo revenue share for one month (TPC-H Q14 shape): the date
    predicate prunes the fact scan, part broadcasts, and both decimal
    sums accumulate in one pass; 100·a/b is two IEEE ops on identical
    operands."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-03-01")
        & (F.col("l_shipdate") < "1997-04-01")
    )
    p = load_table(spark, sf_dir, "part")
    promo = F.when(F.col("p_type") == "PROMO", _rev()).otherwise(F.lit(0.0))
    agg = (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .agg(dsum(promo).alias("pr"), dsum(_rev()).alias("tr"))
    )
    return agg.select(
        (F.lit(100.0) * F.col("pr") / F.col("tr")).alias("promo_pct")
    )


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH srev AS (
      SELECT l_suppkey AS supplier_no, {_REV_SQL} AS total_revenue
      FROM read_parquet('{{sf}}/lineitem.parquet')
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM srev r
    JOIN read_parquet('{{sf}}/supplier.parquet') s
      ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM srev)
    """,
    tags=("analytics", "J4", "A3"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier(s) by quarterly revenue (TPC-H Q15 shape). The max
    rides back as a scalar subquery in an equality filter — no
    window at all, so no single-partition sort and exact-decimal
    equality keeps multi-winner ties correct."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1997-04-01")
    )
    s = load_table(spark, sf_dir, "supplier")
    srev = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(_rev()).alias("total_revenue")
    )
    mx = srev.agg(F.max("total_revenue")).scalar()
    return (
        srev.filter(F.col("total_revenue") == mx)
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q17_small_qty_revenue",
    oracle=f"""
    WITH pavg AS (
      SELECT l_partkey AS avg_pk,
             {DSUM_SQL('l_quantity')} / count(*) AS avg_qty
      FROM read_parquet('{{sf}}/lineitem.parquet')
      GROUP BY l_partkey
    )
    SELECT {DSUM_SQL('l_extendedprice')} / 7.0 AS avg_yearly
    FROM read_parquet('{{sf}}/lineitem.parquet') l
    JOIN read_parquet('{{sf}}/part.parquet') p ON p.p_partkey = l.l_partkey
    JOIN pavg ON pavg.avg_pk = l.l_partkey
    WHERE p.p_brand = 'Brand#3' AND p.p_size < 10
      AND l.l_quantity < 0.2 * pavg.avg_qty
    """,
    tags=("analytics", "J4", "A3"),
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue lost to small-quantity orders of one brand (TPC-H Q17
    shape — the correlated-subquery classic). The per-part average
    quantity DECORRELATES into a groupBy + equi-join: one extra shuffle
    on partkey instead of one subquery per row; the brand/size filter
    broadcasts. avg as exact-decimal sum / count keeps the 0.2·avg
    threshold comparison bit-stable."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_size") < 10)
    )
    pavg = l.groupBy(F.col("l_partkey").alias("avg_pk")).agg(
        (dsum("l_quantity") / F.count(F.col("l_quantity"))).alias("avg_qty")
    )
    joined = (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(pavg, F.col("avg_pk") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
    )
    return joined.agg(
        (dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly")
    )


@query(
    "q19_discounted_revenue",
    oracle=f"""
    SELECT {_REV_SQL} AS revenue
    FROM read_parquet('{{sf}}/lineitem.parquet') l
    JOIN read_parquet('{{sf}}/part.parquet') p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    tags=("analytics", "J4", "P5"),
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive multi-predicate revenue (TPC-H Q19 shape): three
    (brand, size, quantity) bands OR-ed together. The join stays a
    single broadcast hash join on partkey with the disjunction evaluated
    post-join — Catalyst cannot split an OR across join keys, but the
    part side prunes to the union of the three brand/size bands before
    broadcasting."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
        )
    )
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(dsum(_rev()).alias("revenue"))
    )


@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH supply AS (
      SELECT l_partkey AS sp_pk, l_suppkey AS sp_sk,
             min(l_extendedprice / l_quantity) AS unit_cost
      FROM read_parquet('{sf}/lineitem.parquet')
      GROUP BY sp_pk, sp_sk
    ), eligible AS (
      SELECT p.p_partkey, s.s_suppkey, s.s_acctbal, s.s_name, n.n_name,
             sp.unit_cost
      FROM supply sp
      JOIN read_parquet('{sf}/part.parquet') p ON p.p_partkey = sp.sp_pk
      JOIN read_parquet('{sf}/supplier.parquet') s ON s.s_suppkey = sp.sp_sk
      JOIN read_parquet('{sf}/nation.parquet') n ON n.n_nationkey = s.s_nationkey
      JOIN read_parquet('{sf}/region.parquet') r ON r.r_regionkey = n.n_regionkey
      WHERE p.p_size = 15 AND p.p_type = 'LARGE' AND r.r_name = 'EUROPE'
    ), best AS (
      SELECT p_partkey AS b_pk, min(unit_cost) AS min_cost
      FROM eligible GROUP BY b_pk
    )
    SELECT e.s_acctbal, e.s_name, e.n_name, e.p_partkey, e.unit_cost
    FROM eligible e JOIN best b
      ON b.b_pk = e.p_partkey AND e.unit_cost = b.min_cost
    ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, e.p_partkey, e.s_suppkey
    LIMIT 100
    """,
    tags=("analytics", "J1", "A3", "W3"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cost supplier per qualifying part in one region (TPC-H Q2
    shape; partsupp has no testdata analog, so the supply relation derives
    from observed lineitem trades and supply cost from the minimum traded
    unit price — the correlated-min-subquery structure is identical). The
    correlated min DECORRELATES into a per-part groupBy + equi-join on
    (partkey, cost); min over doubles is order-insensitive so no decimal
    staging is needed, and unit_cost = extendedprice/quantity is one IEEE
    division of identical operands on both engines. part/supplier/nation/
    region all broadcast; the only big shuffle is the supply groupBy, and
    the final top-100 plans as TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "LARGE")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    # Prefilter the trade rows by qualifying part AND in-region supplier
    # BEFORE the supply aggregation: both predicates only ever apply to
    # whole (part, supplier) groups (they touch no aggregated column), so
    # filtering rows first is result-identical while shrinking the
    # groupBy shuffle by the parts-filter selectivity (~50× here).
    # Catalyst cannot push the post-agg joins below the agg itself.
    region_supp = (
        s.join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .select("s_suppkey")
    )
    supply = (
        li.join(
            F.broadcast(p.select("p_partkey")),
            F.col("p_partkey") == F.col("l_partkey"),
            "left_semi",
        )
        .join(
            F.broadcast(region_supp),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .groupBy(F.col("l_partkey").alias("sp_pk"), F.col("l_suppkey").alias("sp_sk"))
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
        )
    )
    eligible = (
        supply.join(F.broadcast(p), F.col("p_partkey") == F.col("sp_pk"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("sp_sk"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .select("p_partkey", "s_suppkey", "s_acctbal", "s_name", "n_name", "unit_cost")
    )
    best = eligible.groupBy(F.col("p_partkey").alias("b_pk")).agg(
        F.min("unit_cost").alias("min_cost")
    )
    return (
        eligible.join(
            F.broadcast(best),
            (F.col("b_pk") == F.col("p_partkey"))
            & (F.col("unit_cost") == F.col("min_cost")),
        )
        .orderBy(
            F.desc("s_acctbal"), "n_name", "s_name", "p_partkey", "s_suppkey"
        )
        .limit(100)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "unit_cost")
    )


@query(
    "q9_product_profit",
    oracle=f"""
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           {DSUM_SQL("l_extendedprice * (1 - l_discount)"
                     " - 0.5 * p_retailprice * l_quantity")} AS sum_profit
    FROM read_parquet('{{sf}}/lineitem.parquet') l
    JOIN read_parquet('{{sf}}/orders.parquet') o ON o.o_orderkey = l.l_orderkey
    JOIN read_parquet('{{sf}}/part.parquet') p ON p.p_partkey = l.l_partkey
    JOIN read_parquet('{{sf}}/supplier.parquet') s ON s.s_suppkey = l.l_suppkey
    JOIN read_parquet('{{sf}}/nation.parquet') n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY nation, o_year
    """,
    tags=("analytics", "J1", "A3"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit per supplier-nation per order year over one part family
    (TPC-H Q9 shape; ps_supplycost has no testdata analog, so cost is
    proxied as half the part's retail price per unit — the 5-way
    join/agg structure is identical). Row-level profit is 2-dp money
    arithmetic (exact at decimal scale 6), accumulated as exact decimals.
    part/supplier/nation broadcast after the name-LIKE prune; lineitem ⋈
    orders is the only big shuffle."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    profit = _rev() - F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")
    # broadcast the selective part prune onto lineitem BEFORE the big
    # lineitem⋈orders shuffle — the name-LIKE filter cuts the shuffled
    # rows by its selectivity, and Spark does not reorder user joins
    # without CBO statistics
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(dsum(profit).alias("sum_profit"))
    )


@query(
    "q11_important_stock",
    oracle=f"""
    WITH nation_supply AS (
      SELECT l.l_partkey AS pk,
             {DSUM_SQL("l_extendedprice * l_quantity")} AS value
      FROM read_parquet('{{sf}}/lineitem.parquet') l
      JOIN read_parquet('{{sf}}/supplier.parquet') s ON s.s_suppkey = l.l_suppkey
      JOIN read_parquet('{{sf}}/nation.parquet') n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_7'
      GROUP BY pk
    )
    SELECT pk AS p_partkey, value
    FROM nation_supply, (SELECT sum(value) AS total FROM nation_supply) t
    WHERE value > 0.001 * t.total
    """,
    tags=("analytics", "J4", "A3"),
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts representing a significant fraction of one nation's traded
    value (TPC-H Q11 shape; ps_supplycost*ps_availqty proxied by traded
    extendedprice*quantity). The total value is a scalar subquery, as in
    the SQL — no window. Threshold compare is double*(constant)
    on identically-derived decimal sums, bit-stable cross-engine.
    Oracle sums the already-exact per-part doubles (each an exact
    decimal(38,6) rendered to double); DuckDB's plain sum over ~2000 such
    values stays exact well below the 2^53 mantissa bound at this sf, and
    Spark's side aggregates the same values through decimal staging."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    per_part = (
        l.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(F.col("l_partkey").alias("pk"))
        .agg(dsum(F.col("l_extendedprice") * F.col("l_quantity")).alias("value"))
    )
    total = per_part.agg(
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
    ).scalar()
    return per_part.filter(F.col("value") > 0.001 * total).select(
        F.col("pk").alias("p_partkey"), "value"
    )


@query(
    "q12_priority_shipping",
    oracle="""
    SELECT l.l_linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM read_parquet('{sf}/lineitem.parquet') l
    JOIN read_parquet('{sf}/orders.parquet') o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l.l_linestatus
    """,
    tags=("analytics", "J1", "A1"),
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-shipment priority split per line status (TPC-H Q12 shape;
    l_shipmode/l_commitdate/l_receiptdate have no testdata analog, so
    the grouping key is l_linestatus and 'late' means shipped >90 days
    after the order date — the join-then-conditional-count structure is
    identical). The year predicate prunes the lineitem scan; the
    late-vs-order-date theta predicate evaluates post-join on the
    already-shuffled rows; both counters accumulate in ONE pass."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


@query(
    "q16_supplier_cnt",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM read_parquet('{sf}/lineitem.parquet') l
    JOIN read_parquet('{sf}/part.parquet') p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM read_parquet('{sf}/supplier.parquet')
        WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    tags=("analytics", "J3", "A5"),
)
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct supplier count per part profile, excluding a brand and a
    supplier blacklist (TPC-H Q16 shape; the partsupp supply relation is
    derived from lineitem trades, and the complaint blacklist is proxied
    by negative account balance). The NOT IN subquery becomes a broadcast
    LEFT ANTI join (safe here because s_suppkey is non-null by schema —
    NOT IN's null trap doesn't arise); the part prune broadcasts; the
    count(DISTINCT) shuffles once on the group keys with partial
    distinct aggregation map-side."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(
            F.broadcast(bad),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q20_excess_suppliers",
    oracle=f"""
    WITH family AS (
      SELECT p_partkey FROM read_parquet('{{sf}}/part.parquet')
      WHERE p_name LIKE 'small%'
    ), sp AS (
      SELECT l.l_suppkey AS sk, l.l_partkey AS pk,
             {DSUM_SQL('l_quantity')} AS supp_qty
      FROM read_parquet('{{sf}}/lineitem.parquet') l
      JOIN family f ON f.p_partkey = l.l_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
        AND l.l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY sk, pk
    ), part_total AS (
      SELECT pk AS tpk, sum(supp_qty) AS total_qty
      FROM sp GROUP BY tpk
    )
    SELECT DISTINCT s.s_name, s.s_acctbal
    FROM read_parquet('{{sf}}/supplier.parquet') s
    JOIN read_parquet('{{sf}}/nation.parquet') n ON n.n_nationkey = s.s_nationkey
    JOIN read_parquet('{{sf}}/region.parquet') r ON r.r_regionkey = n.n_regionkey
    JOIN sp ON sp.sk = s.s_suppkey
    JOIN part_total pt ON pt.tpk = sp.pk
    WHERE r.r_name = 'ASIA' AND sp.supp_qty > 0.3 * pt.total_qty
    """,
    tags=("analytics", "J5", "A3"),
)
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who dominated the 1997 supply of a part family in one
    region (TPC-H Q20 shape; ps_availqty > 0.5*shipped-qty is proxied by
    per-supplier share > 30% of the part's total shipped quantity — the
    nested-aggregate + semi-join structure is identical). The inner
    per-(supplier, part) and per-part aggregates reuse ONE shuffle
    lineage (the second agg re-groups the first's output); the dominance
    predicate compares doubles derived from exact decimal sums on both
    engines (part_total re-sums exact per-supplier decimals — ~100
    exact-2dp doubles per part, far below any double-precision hazard);
    the supplier/nation/region side broadcasts and DISTINCT collapses
    multi-part winners."""
    fam = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    sp = (
        l.join(F.broadcast(fam), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(F.col("l_suppkey").alias("sk"), F.col("l_partkey").alias("pk"))
        .agg(dsum("l_quantity").alias("supp_qty"))
    )
    part_total = sp.groupBy(F.col("pk").alias("tpk")).agg(
        F.sum(F.col("supp_qty").cast("decimal(38,6)")).cast("double").alias("total_qty")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    sn = (
        s.join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal")
    )
    return (
        sp.join(part_total, F.col("tpk") == F.col("pk"))
        .filter(F.col("supp_qty") > 0.3 * F.col("total_qty"))
        .join(F.broadcast(sn), F.col("s_suppkey") == F.col("sk"))
        .select("s_name", "s_acctbal")
        .distinct()
    )


@query(
    "q21_waiting_suppliers",
    oracle="""
    WITH li AS (
      SELECT l.l_orderkey, l.l_suppkey,
             CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                  THEN 1 ELSE 0 END AS late
      FROM read_parquet('{sf}/lineitem.parquet') l
      JOIN read_parquet('{sf}/orders.parquet') o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
    ), per_order AS (
      SELECT l_orderkey,
             count(DISTINCT l_suppkey) AS nsupp,
             count(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS nlate,
             max(CASE WHEN late = 1 THEN l_suppkey END) AS late_supp
      FROM li GROUP BY l_orderkey
    )
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM per_order p
    JOIN read_parquet('{sf}/supplier.parquet') s ON s.s_suppkey = p.late_supp
    WHERE p.nsupp >= 2 AND p.nlate = 1
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name LIMIT 100
    """,
    tags=("analytics", "J1", "W3", "A1"),
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who were the SOLE late shipper on finalized multi-
    supplier orders (TPC-H Q21 shape; commit/receipt dates have no
    testdata analog, so 'late' means shipped >60 days after the order
    date). The classic EXISTS / NOT-EXISTS pair DECORRELATES into one
    per-order aggregate: distinct-supplier count ≥2 replays the EXISTS
    (another supplier shipped), distinct-late-supplier count =1 replays
    the NOT EXISTS (no OTHER supplier was late), and max(late supplier)
    is well-defined exactly when that count is 1. One shuffle on
    orderkey, one tiny regroup per supplier, broadcast name lookup,
    TakeOrderedAndProject top-100."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    late_supp = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
        F.col("l_suppkey"),
    )
    per_order = (
        l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("nsupp"),
            F.countDistinct(late_supp).alias("nlate"),
            F.max(late_supp).alias("late_supp"),
        )
    )
    s = load_table(spark, sf_dir, "supplier")
    return (
        per_order.filter((F.col("nsupp") >= 2) & (F.col("nlate") == 1))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("late_supp"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


@query(
    "q22_global_sales",
    oracle=f"""
    WITH avg_bal AS (
      SELECT {DSUM_SQL('c_acctbal', 2)} / count(*) AS ab
      FROM read_parquet('{{sf}}/customer.parquet') WHERE c_acctbal > 0.0
    ), active AS (
      SELECT DISTINCT o_custkey FROM read_parquet('{{sf}}/orders.parquet')
      WHERE o_orderdate >= TIMESTAMP '2000-01-01'
    )
    SELECT c.c_nationkey AS cntrycode,
           CAST(count(*) AS BIGINT) AS numcust,
           {DSUM_SQL('c_acctbal', 2)} AS totacctbal
    FROM read_parquet('{{sf}}/customer.parquet') c, avg_bal
    WHERE c.c_acctbal > avg_bal.ab
      AND c.c_custkey NOT IN (SELECT o_custkey FROM active)
    GROUP BY cntrycode
    """,
    tags=("analytics", "J3", "A3"),
)
def q22_global_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wealthy-but-lapsed customers per country (TPC-H Q22 shape; the
    phone country code is proxied by c_nationkey and 'no orders' by 'no
    orders since 2000' — every testdata customer has SOME order). The
    avg is a scalar subquery, as in the SQL (exact decimal
    sum / count, one IEEE division both engines); the NOT IN becomes a
    LEFT ANTI join against the distinct recent-buyer set (safe:
    o_custkey non-null by schema). acctbal sums at decimal scale 2 —
    the column's native scale."""
    c = load_table(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(F.col("c_acctbal").cast("decimal(28,2)")).cast("double")
        / F.count(F.lit(1))
    ).scalar()
    active = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-01-01")
        .select("o_custkey")
        .distinct()
    )
    return (
        c.filter(F.col("c_acctbal") > avg_bal)
        .join(active, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal", 2).alias("totacctbal"),
        )
    )
