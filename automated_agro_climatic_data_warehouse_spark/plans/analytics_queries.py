"""Extended analytics: multi-join star queries beyond the reference's MV
(free Catalyst capability worth exposing), skew-salted joins, interval
range-frame windows, and embedding aggregation.

These exercise the engine shapes the reference never stresses — 3-5 way
join trees with mixed broadcast/shuffle sides, time-range window frames,
and array analytics — all oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions import DSUM_SQL, dsum
from ..operators.dedup import dedup_hash_backend, hash32
from ..operators.skew import salted_join
from ..sources import load_table
from .registry import query

_REV_SQL = DSUM_SQL("l_extendedprice * (1 - l_discount)")
_REV = lambda: dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))  # noqa: E731


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey, CAST(o.o_orderdate AS DATE) AS order_date,
           {_REV_SQL} AS revenue
    FROM read_parquet('{{sf}}/customer.parquet') c
    JOIN read_parquet('{{sf}}/orders.parquet') o ON c.c_custkey = o.o_custkey
    JOIN read_parquet('{{sf}}/lineitem.parquet') l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, order_date
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
    tags=("analytics", "J1", "topk"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unshipped-revenue top-10 (TPC-H Q3 shape): segment-filtered
    customer dim broadcasts into orders, lineitem shuffles once on
    orderkey; ORDER BY+LIMIT plans as TakeOrderedAndProject (per-partition
    heaps — no global sort at 100 TB)."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-01-01"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-01-01"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", F.col("o_orderdate").cast("date").alias("order_date"))
        .agg(_REV().alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_nation_revenue",
    oracle=f"""
    SELECT n.n_name, {_REV_SQL} AS revenue
    FROM read_parquet('{{sf}}/region.parquet') r
    JOIN read_parquet('{{sf}}/nation.parquet') n ON n.n_regionkey = r.r_regionkey
    JOIN read_parquet('{{sf}}/customer.parquet') c ON c.c_nationkey = n.n_nationkey
    JOIN read_parquet('{{sf}}/orders.parquet') o ON o.o_custkey = c.c_custkey
    JOIN read_parquet('{{sf}}/lineitem.parquet') l ON l.l_orderkey = o.o_orderkey
    JOIN read_parquet('{{sf}}/supplier.parquet') s
      ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA' AND o.o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY n.n_name
    """,
    tags=("analytics", "J1"),
)
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier revenue per nation (TPC-H Q5 shape): a 6-table join
    tree. region/nation/customer/supplier are broadcast-side; only
    orders⋈lineitem shuffles on orderkey. The s_nationkey = c_nationkey
    same-nation constraint rides the supplier broadcast."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "1996-01-01"
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_REV().alias("revenue"))
    )


@query(
    "j8_salted_join",
    oracle=f"""
    WITH keyed AS (
      SELECT event_id, user_id % 10 AS hot_key, value
      FROM read_parquet('{{sf}}/events.parquet')
    ), dim AS (
      SELECT DISTINCT user_id % 10 AS hot_key,
             'grp_' || CAST(user_id % 10 AS VARCHAR) AS grp
      FROM read_parquet('{{sf}}/events.parquet')
    )
    SELECT d.grp, count(*) AS n_events, {DSUM_SQL('k.value')} AS total_value
    FROM keyed k JOIN dim d ON k.hot_key = d.hot_key
    GROUP BY d.grp
    """,
    tags=("skew", "J4"),
)
def j8_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join (operators/skew.py): events collapsed onto 10 hot
    keys (worst-case skew: every key is hot) joined to a tiny dim salted
    8 ways, so each hot key spreads over 8 reducers instead of 1. The
    oracle is the PLAIN join — salting must be result-invisible."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", (F.col("user_id") % 10).alias("hot_key"), "value"
    )
    dim = ev.select("hot_key").distinct().select(
        "hot_key", F.concat(F.lit("grp_"), F.col("hot_key")).alias("grp")
    )
    joined = salted_join(ev, dim, on="hot_key", salt_from=F.col("event_id"))
    return joined.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("total_value"),
    )


@query(
    "w6_rolling_range_window",
    oracle="""
    SELECT event_id, user_id, ts,
           CAST(sum(CAST(value AS DECIMAL(28,6)))
                OVER w AS DOUBLE) AS rolling_1h_sum,
           count(*) OVER w AS n_in_window
    FROM read_parquet('{sf}/events.parquet')
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
    tags=("W2", "rolling"),
)
def w6_rolling_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling 1-hour sum via a time-RANGE frame (peers at equal
    ts included — identical semantics both engines). Decimal accumulation
    inside the frame keeps the sliding sum order-insensitive. One shuffle
    on user_id; frame state is bounded by the hour span."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.expr(
            "CAST(sum(CAST(value AS DECIMAL(28,6))) OVER "
            "(PARTITION BY user_id ORDER BY ts RANGE BETWEEN "
            "INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS DOUBLE)"
        ).alias("rolling_1h_sum"),
        F.expr(
            "count(*) OVER (PARTITION BY user_id ORDER BY ts RANGE BETWEEN "
            "INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)"
        ).alias("n_in_window"),
    )


@query(
    "emb_label_centroids",
    oracle="""
    SELECT label, t.pos,
           CAST(sum(CAST(round(CAST(embedding[t.pos] AS DOUBLE) * 1048576)
                         AS BIGINT)) AS BIGINT) AS qsum,
           CAST(CAST(sum(CAST(round(CAST(embedding[t.pos] AS DOUBLE)
                                    * 1048576) AS BIGINT)) AS BIGINT)
                AS DOUBLE) / 1048576.0 AS c_sum,
           count(*) AS n
    FROM read_parquet('{sf}/embeddings.parquet'),
         UNNEST(generate_series(1, len(embedding))) AS t(pos)
    GROUP BY label, t.pos
    """,
    tags=("similarity", "array-analytics"),
)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid components (posexplode → grouped
    binary-grid integer sums; divide by n downstream for the mean). The
    100 TB shape for k-means-style iteration: one explode (narrow) + one
    shuffle on (label, pos) with map-side partial aggregation — dimension
    count bounds the key space, so reducers are uniform.

    Components quantize to round(x·2^20) integers before summing, NOT a
    decimal cast: Spark's double→decimal goes through the shortest
    string repr while DuckDB rounds the true binary value, and float32
    components hit exact-tie divergence at any decimal scale (one
    1e-10 flip observed in this very query's 128k components under the
    strict pandas-level gate; see functions/parity.py caveat)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.round(F.col("val").cast("double") * F.lit(1048576)).cast("bigint")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos0", "val"))
        .select("label", (F.col("pos0") + 1).alias("pos"), q.alias("q"))
        .groupBy("label", "pos")
        .agg(
            F.sum("q").alias("qsum"),
            (F.sum("q").cast("double") / F.lit(1048576.0)).alias("c_sum"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "q6_revenue_change",
    oracle=f"""
    SELECT {DSUM_SQL('l_extendedprice * l_discount')} AS revenue_delta,
           count(*) AS n_rows
    FROM read_parquet('{{sf}}/lineitem.parquet')
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("analytics", "pushdown"),
)
def q6_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-revenue-change scan-aggregate (TPC-H Q6 shape): every
    predicate is scan-level (PushedFilters reaches the parquet reader,
    ReadSchema is 4 columns of 11), then a single partial-aggregated
    global sum — zero joins, one exchange of one row per partition. The
    canonical 'is pushdown working' probe at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount")).alias(
            "revenue_delta"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "q4_order_priority",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS n_orders
    FROM read_parquet('{sf}/orders.parquet') o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
      AND EXISTS (SELECT 1 FROM read_parquet('{sf}/lineitem.parquet') l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o.o_orderpriority
    """,
    tags=("analytics", "J5"),
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-shipment order-priority census (TPC-H Q4 shape): EXISTS
    becomes a LEFT SEMI join on orderkey — the quarter filter prunes
    orders BEFORE the shuffle, and the semi join short-circuits per key
    instead of materializing the multiplicity an inner join would."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1997-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    hit = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return hit.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@query(
    "q18_big_spenders",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey, {DSUM_SQL('l_quantity')} AS total_qty
      FROM read_parquet('{{sf}}/lineitem.parquet')
      GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(28,6))) > 210
    )
    SELECT c.c_name, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS order_date,
           o.o_totalprice, b.total_qty
    FROM big b
    JOIN read_parquet('{{sf}}/orders.parquet') o ON o.o_orderkey = b.l_orderkey
    JOIN read_parquet('{{sf}}/customer.parquet') c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
    tags=("analytics", "A1", "topk"),
)
def q18_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume-order customers (TPC-H Q18 shape): the HAVING
    aggregation shrinks lineitem to a tiny key set FIRST, so the
    orders/customer joins run against the reduced side (broadcast after
    AQE sees its size); TakeOrderedAndProject caps the result without a
    global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 210)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(
    "a11_grouping_sets",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS gid,
           count(*) AS n_orders,
           {DSUM_SQL('o_totalprice')} AS total_price
    FROM read_parquet('{{sf}}/orders.parquet')
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), ())
    """,
    tags=("analytics", "A8"),
)
def a11_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity totals in ONE pass — GROUPING SETS (status ×
    priority, status, grand total) expand map-side, so the scan runs once
    instead of three times; grouping_id distinguishes the NULL produced
    by rollup from a NULL in the data. Same single-shuffle Expand shape
    Spark uses for cube/rollup at any scale."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
        .select(
            "o_orderstatus", "o_orderpriority", "gid", "n_orders", "total_price"
        )
    )


@query(
    "w7_ntile_deciles",
    oracle=f"""
    WITH ranked AS (
      SELECT c_acctbal,
             ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
      FROM read_parquet('{{sf}}/customer.parquet')
    )
    SELECT decile, count(*) AS n,
           min(c_acctbal) AS lo, max(c_acctbal) AS hi,
           {DSUM_SQL('c_acctbal')} AS total
    FROM ranked GROUP BY decile
    """,
    tags=("analytics", "W3"),
)
def w7_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Account-balance decile profile with EXACT ntile semantics but no
    whole-table single-partition sort (the naive `ntile(10) OVER (ORDER
    BY ...)` moves every row to one task — a scale-killer flagged in r3).

    Distributed shape: global rank decomposes as rank = (rows with a
    smaller value) + (row_number among my value's ties, ordered by the
    unique c_custkey tie-break). Per-value counts are bounded by the
    VALUE DOMAIN (2-decimal balances in [-999.99, 9999.99] → ≤1.1M
    distinct, a few MB at any corpus size), so their cumulative offsets
    compute on the aggregated frame: a cumsum window PARTITIONED by a
    coarse value bucket plus an O(buckets²) broadcast self-join for the
    ~110 bucket-level offsets — zero unpartitioned windows anywhere in
    the plan (pinned in tests/test_plans.py). The ntile bucket then
    follows from the rank in exact integer arithmetic (first n%10 tiles
    get one extra row), matching the oracle's ntile bit-for-bit."""
    c = load_table(spark, sf_dir, "customer")

    cnts = (
        c.groupBy("c_acctbal")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("vbkt", F.floor(F.col("c_acctbal") / 100.0))
    )
    w_in_bkt = (
        W.partitionBy("vbkt")
        .orderBy("c_acctbal")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cnts = cnts.withColumn(
        "cum_in_bkt", F.coalesce(F.sum("cnt").over(w_in_bkt), F.lit(0))
    )
    btot = cnts.groupBy("vbkt").agg(F.sum("cnt").alias("bcnt"))
    bcum = (
        btot.alias("a")
        .join(
            F.broadcast(btot.alias("b")),
            F.col("b.vbkt") < F.col("a.vbkt"),
            "left",
        )
        .groupBy(F.col("a.vbkt").alias("vbkt"))
        .agg(F.coalesce(F.sum("b.bcnt"), F.lit(0)).alias("bkt_before"))
    )
    offsets = (
        cnts.join(F.broadcast(bcum), "vbkt")
        .select(
            "c_acctbal",
            (F.col("bkt_before") + F.col("cum_in_bkt")).alias("cum_before"),
        )
    )
    w_ties = W.partitionBy("c_acctbal").orderBy("c_custkey")
    ranked = (
        c.select("c_acctbal", "c_custkey")
        .withColumn("rk_in", F.row_number().over(w_ties))
        .join(F.broadcast(offsets), "c_acctbal")
        .withColumn("n_total", c.agg(F.count(F.lit(1))).scalar())
        .withColumn("rank", F.col("cum_before") + F.col("rk_in"))
        .withColumn("q", F.expr("n_total div 10"))
        .withColumn("rem", F.col("n_total") % 10)
        .withColumn(
            "decile",
            F.expr(
                "CASE WHEN rank <= rem * (q + 1) "
                "THEN (rank + q) div (q + 1) "
                "ELSE rem + (rank - rem * (q + 1) + q - 1) "
                "     div greatest(q, 1) END"
            ),
        )
    )
    return ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("c_acctbal").alias("lo"),
        F.max("c_acctbal").alias("hi"),
        dsum("c_acctbal").alias("total"),
    )


@query(
    "a12_pivot_event_types",
    oracle=f"""
    SELECT user_id,
           count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
           count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
           count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
           count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
           {DSUM_SQL("CASE WHEN event_type = 'purchase' THEN value ELSE NULL END")}
             AS purchase_value
    FROM read_parquet('{{sf}}/events.parquet')
    GROUP BY user_id
    """,
    tags=("analytics", "pivot", "A5"),
)
def a12_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: long event stream → one wide row per user with per-type
    counts and purchase revenue. The explicit value list keeps the pivot
    a SINGLE groupBy pass (map-side conditional aggregation) — an
    unlisted pivot needs an extra distinct-values job first, which at
    100 TB is a full scan you didn't order. The oracle is the equivalent
    CASE-WHEN conditional aggregation."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    counts = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
        for t in types
    ]
    return ev.groupBy("user_id").agg(
        *counts,
        dsum(
            F.when(F.col("event_type") == "purchase", F.col("value"))
        ).alias("purchase_value"),
    )


@query(
    "j9_nullsafe_join",
    oracle="""
    WITH l AS (
      SELECT event_id,
             CASE WHEN event_id % 7 = 0 THEN NULL
                  ELSE user_id % 100 END AS grp
      FROM read_parquet('{sf}/events.parquet')
    ), r AS (
      SELECT DISTINCT CASE WHEN event_id % 7 = 0 THEN NULL
                           ELSE user_id % 100 END AS grp
      FROM read_parquet('{sf}/events.parquet')
    )
    SELECT coalesce(CAST(l.grp AS VARCHAR), 'NULL') AS grp_label,
           count(*) AS n
    FROM l JOIN r ON l.grp IS NOT DISTINCT FROM r.grp
    GROUP BY grp_label
    """,
    tags=("analytics", "J1", "null-semantics"),
)
def j9_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of silently dropping — the semantics
    late-arriving dimension keys need. Spark plans `<=>` as a real
    hash-partitioned equi-join (nulls co-locate like any other key
    value), NOT a nested loop — which is why it scales where the
    `l.k = r.k OR (l.k IS NULL AND r.k IS NULL)` rewrite would not."""
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, None)
        .otherwise(F.col("user_id") % 100)
        .alias("grp"),
    )
    dim = keyed.select("grp").distinct()
    return (
        keyed.alias("l")
        .join(dim.alias("r"), F.col("l.grp").eqNullSafe(F.col("r.grp")))
        .groupBy(
            F.coalesce(F.col("l.grp").cast("string"), F.lit("NULL")).alias(
                "grp_label"
            )
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "s17_high_watermark_scan",
    oracle=f"""
    WITH wm AS (SELECT TIMESTAMP '2024-04-01 00:00:00' AS watermark)
    SELECT count(*) AS n_new,
           max(ts) AS new_watermark,
           {DSUM_SQL('value')} AS new_value_total
    FROM read_parquet('{{sf}}/events.parquet'), wm
    WHERE ts > wm.watermark
    """,
    tags=("S5", "incremental"),
)
def s17_high_watermark_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's daily-cron incremental core as one query: select
    only rows past the stored high watermark, return the batch stats and
    the NEW watermark to persist. The `ts >` predicate pushes into the
    parquet scan, so on a ts-partitioned/z-ordered table the incremental
    read touches only new files — work scales with the increment, never
    with history (the batch twin of the availableNow streaming path)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts") > F.lit("2024-04-01 00:00:00").cast("timestamp")
    )
    return ev.agg(
        F.count(F.lit(1)).alias("n_new"),
        F.max("ts").alias("new_watermark"),
        dsum("value").alias("new_value_total"),
    )


@query(
    "s18_set_ops",
    oracle="""
    WITH clickers AS (
      SELECT DISTINCT user_id FROM read_parquet('{sf}/events.parquet')
      WHERE event_type = 'click'
    ), buyers AS (
      SELECT DISTINCT user_id FROM read_parquet('{sf}/events.parquet')
      WHERE event_type = 'purchase'
    )
    SELECT 'click_and_buy' AS cohort, count(*) AS n
    FROM (SELECT user_id FROM clickers INTERSECT SELECT user_id FROM buyers)
    UNION ALL
    SELECT 'click_no_buy', count(*)
    FROM (SELECT user_id FROM clickers EXCEPT SELECT user_id FROM buyers)
    UNION ALL
    SELECT 'buy_no_click', count(*)
    FROM (SELECT user_id FROM buyers EXCEPT SELECT user_id FROM clickers)
    """,
    tags=("set-ops", "D3"),
)
def s18_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit INTERSECT / EXCEPT cohort arithmetic (clickers vs
    buyers). Catalyst rewrites both into semi/anti joins over the
    deduplicated sides — same physical shapes as j3/j5 but exercised
    through the set-operator API the reference's SQL surface exposes.
    Each leg is one shuffle on user_id over already-distinct inputs."""
    ev = load_table(spark, sf_dir, "events")
    clickers = (
        ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    )
    buyers = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
    )
    both = clickers.intersect(buyers).agg(F.count(F.lit(1)).alias("n"))
    click_only = clickers.exceptAll(buyers).agg(
        F.count(F.lit(1)).alias("n")
    )
    buy_only = buyers.exceptAll(clickers).agg(F.count(F.lit(1)).alias("n"))
    return (
        both.select(F.lit("click_and_buy").alias("cohort"), "n")
        .unionByName(
            click_only.select(F.lit("click_no_buy").alias("cohort"), "n")
        )
        .unionByName(
            buy_only.select(F.lit("buy_no_click").alias("cohort"), "n")
        )
    )


@query(
    "j12_bloom_prefilter_join",
    oracle=f"""
    WITH dim AS (
      SELECT o.o_orderkey, o.o_orderpriority
      FROM read_parquet('{{sf}}/orders.parquet') o
      JOIN read_parquet('{{sf}}/customer.parquet') c
        ON c.c_custkey = o.o_custkey
      JOIN read_parquet('{{sf}}/nation.parquet') n
        ON n.n_nationkey = c.c_nationkey
      WHERE n.n_name = 'NATION_5'
    )
    SELECT d.o_orderpriority, count(*) AS n_lines,
           {DSUM_SQL("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
    FROM read_parquet('{{sf}}/lineitem.parquet') l
    JOIN dim d ON d.o_orderkey = l.l_orderkey
    GROUP BY d.o_orderpriority
    """,
    tags=("J5", "J4", "runtime-filter"),
)
def j12_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-style runtime-filtered fact join: one nation's orders
    (selective dim side) join lineitem, with the fact scan PRE-FILTERED
    by a compact membership structure built from the dim keys — the
    manual form of the runtime row-group filters AQE injects, pinned
    here so the optimization is explicit and testable. The dim keys
    collapse to a 4096-bucket hash set (portable md5 bucket — see
    operators/dedup.hash32) that broadcasts to every fact partition; a
    fact row only reaches the exact join if its bucket is occupied. At
    100 TB the exact join's shuffle moves only the pre-filtered
    survivors (~dim-selectivity of the fact table + false positives ≤
    |buckets occupied|/4096), not the whole fact table. The oracle is
    the PLAIN join — the prefilter must be result-invisible (every true
    match's bucket is occupied by construction; false positives are
    removed by the exact join). Because the prefilter is
    result-invisible under ANY consistent hash, the bucket function
    honors the same backend flag as the dedup family: md5 by default
    (cheap to reason about, what the oracle gate times),
    codegen'd xxhash64 under SPARK_GRAFT_DEDUP_HASH=xxhash64 (what
    bench.py and production run — hashing 100 TB of fact keys through
    a Python-built md5-hex-conv chain would dominate the saved
    shuffle)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    dim = (
        o.join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .select("o_orderkey", "o_orderpriority")
    )
    if dedup_hash_backend() == "xxhash64":
        bucket = lambda col: F.pmod(F.xxhash64(col), F.lit(4096))  # noqa: E731
    else:
        bucket = lambda col: hash32(col.cast("string")) % 4096  # noqa: E731
    occupied = dim.select(bucket(F.col("o_orderkey")).alias("b")).distinct()
    l = load_table(spark, sf_dir, "lineitem")
    prefiltered = l.withColumn("lb", bucket(F.col("l_orderkey"))).join(
        F.broadcast(occupied), F.col("lb") == F.col("b"), "left_semi"
    )
    return (
        prefiltered.join(dim, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
    )


@query(
    "w13_grouped_ntile",
    oracle="""
    WITH cents AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
      FROM read_parquet('{sf}/orders.parquet')
    ), ranked AS (
      SELECT o_orderpriority, c,
             ntile(5) OVER (PARTITION BY o_orderpriority
                            ORDER BY c, o_orderkey) AS quintile
      FROM cents
    )
    SELECT o_orderpriority, CAST(quintile AS BIGINT) AS quintile,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(c) AS BIGINT) AS lo_cents,
           CAST(max(c) AS BIGINT) AS hi_cents,
           CAST(sum(c) AS BIGINT) AS total_cents
    FROM ranked GROUP BY o_orderpriority, quintile
    """,
    tags=("analytics", "ntile", "grouped"),
)
def w13_grouped_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP exact quintiles — order-amount distribution within
    each order priority, the grouped form of the distributed ntile
    (`operators/ranking.exact_ntile` with part_cols): every stage keys
    on (priority, value), so no group ever concentrates on one task —
    the property `ntile(5) OVER (PARTITION BY g ORDER BY v)` does NOT
    give you when a group is corpus-sized (Spark sorts each partition
    group in ONE task; a 100 TB group is a single-task sort). Amounts
    are exact integer cents (round of 2-decimal doubles), the quintile
    arithmetic is exact integer, and the reduction emits per-(priority,
    quintile) counts and cent bounds — the banded distribution profile
    a pricing dashboard stores. Matches ANSI grouped ntile
    bit-for-bit (tie-break on o_orderkey)."""
    from ..operators.ranking import exact_ntile

    o = load_table(spark, sf_dir, "orders")
    cents = o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("c"),
    )
    tiled = exact_ntile(
        cents,
        "c",
        "o_orderkey",
        5,
        "quintile",
        bucket=F.expr("c div 1000000"),
        broadcast_offsets=False,
        part_cols=["o_orderpriority"],
    )
    return tiled.groupBy("o_orderpriority", "quintile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("c").cast("bigint").alias("lo_cents"),
        F.max("c").cast("bigint").alias("hi_cents"),
        F.sum("c").cast("bigint").alias("total_cents"),
    )


@query(
    "w14_weighted_ntile_histogram",
    oracle="""
    WITH ranked AS (
      SELECT CAST(l_quantity AS BIGINT) AS v,
             ntile(10) OVER (ORDER BY l_quantity) AS tile
      FROM read_parquet('{sf}/lineitem.parquet')
    )
    SELECT v, CAST(tile AS BIGINT) AS tile,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM ranked GROUP BY v, tile
    """,
    tags=("analytics", "ntile", "histogram", "skew"),
)
def w14_weighted_ntile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile assignment for a MASSIVELY TIED column (l_quantity: 50
    distinct values over the whole fact table — the sentinel-heavy
    case where even exact_ntile's tie window becomes one hot
    partition, see operators/ranking.py's skew caveat) — computed
    WITHOUT ranking a single row. ntile over ties is really ntile
    over a weighted value histogram: aggregate to (value, count) —
    domain-bounded, 50 rows at any corpus size — take cumulative
    offsets on that tiny frame, and intersect each value's global
    rank interval (cum, cum+cnt] with the closed-form tile rank
    ranges; `explode(sequence(first_tile, last_tile))` emits each
    value's per-tile row counts directly. Per-row work: ONE map-side
    count aggregation; everything after runs on ≤50×~11 rows. The
    per-(value, tile) counts are invariant to tie order, so the
    oracle's ANSI ntile (arbitrary tie permutation) must agree
    exactly — pinning that this histogram closed form IS ntile.
    The only window orders the 50-row histogram frame
    (value-domain-bounded, the dq_cusum_shift exemption class)."""
    from ..operators.ranking import weighted_ntile_histogram

    li = load_table(spark, sf_dir, "lineitem")
    cents = li.select(F.col("l_quantity").cast("bigint").alias("v"))
    return weighted_ntile_histogram(cents, "v", 10)


@query(
    "j17_pareto_skyline",
    oracle="""
    WITH pts AS (
      SELECT p_brand, p_partkey,
             CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS price_c,
             CAST(p_size AS BIGINT) AS size
      FROM read_parquet('{sf}/part.parquet')
    ), flagged AS (
      SELECT p_brand, p_partkey, price_c, size,
             coalesce(max(size) OVER (PARTITION BY p_brand ORDER BY price_c
                        RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      -1) AS m_strict,
             max(size) OVER (PARTITION BY p_brand ORDER BY price_c
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS m_incl
      FROM pts
    )
    SELECT p_brand, p_partkey, price_c, size
    FROM flagged
    WHERE m_strict < size AND m_incl <= size
    """,
    tags=("skyline", "pareto", "window"),
)
def j17_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARETO SKYLINE per brand: the parts no other same-brand part
    dominates on (cheaper-or-equal price, larger-or-equal size, strict
    somewhere) — the multi-objective shortlist query behind every
    "best tradeoff" product/supplier screen. The naive form is an
    all-pairs dominance join (corpus-quadratic); the 2-D skyline
    collapses to TWO value-range window maxima over the price-ordered
    frame: a point is dominated iff some strictly-cheaper point has
    size ≥ mine (m_strict) or some cheaper-or-equal point has size >
    mine (m_incl) — both RANGE frames on exact integer CENTS
    (DECIMAL(12,2)·100, lossless for TPC-H's 2-decimal prices), so
    float range-frame semantics never enter and ties are handled by
    the dominance definition itself, not by ordering luck.

    Scale: one shuffle on the partition key (brand), one ordered
    window pass per partition — the sort is per-brand, never global;
    at 100 TB the same plan rides the table's existing brand
    partitioning. The skyline itself is the shared operator
    (operators/ranking.pareto_skyline_2d — one definition for this
    query, the fixed-corpus brute-force pin, and the hypothesis
    property test on random point sets)."""
    from ..operators.ranking import pareto_skyline_2d

    p = load_table(spark, sf_dir, "part")
    pts = p.select(
        "p_brand",
        "p_partkey",
        (F.col("p_retailprice").cast("decimal(12,2)") * 100)
        .cast("bigint")
        .alias("price_c"),
        F.col("p_size").cast("bigint").alias("size"),
    )
    return pareto_skyline_2d(pts, "p_brand", "price_c", "size")


@query(
    "layout_partition_skew",
    oracle="""
    WITH parts AS (
      SELECT strftime(l_shipdate, '%Y-%m') AS part_month,
             CAST(count(*) AS BIGINT) AS rows_n,
             CAST(count(DISTINCT l_orderkey) AS BIGINT) AS orders_n
      FROM read_parquet('{sf}/lineitem.parquet')
      GROUP BY strftime(l_shipdate, '%Y-%m')
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_partitions,
             CAST(sum(rows_n) AS BIGINT) AS total_rows,
             CAST(max(rows_n) AS BIGINT) AS max_rows,
             CAST(min(rows_n) AS BIGINT) AS min_rows
      FROM parts
    )
    SELECT a.n_partitions, a.total_rows, a.max_rows, a.min_rows,
           CAST((10000 * a.max_rows * a.n_partitions) // a.total_rows
                AS BIGINT) AS skew_e4,
           (SELECT min(part_month) FROM parts
            WHERE rows_n = a.max_rows) AS hottest_month
    FROM agg a
    """,
    tags=("layout", "partitioning", "skew-audit"),
)
def layout_partition_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-skew audit for a ship-month partitioning of lineitem —
    the pre-flight check before committing a table layout: per-partition
    row counts, the max/mean ratio in e4 (10000 = perfectly balanced;
    the straggler multiplier a scan or shuffle on this key inherits),
    and the hottest partition. skew_e4 = 10000*max*n/total is exact
    integer arithmetic; the hottest month resolves ties by min(month),
    deterministic on both engines. This is the same readout
    layout_compaction_planner needs upstream: a skewed natural key
    means size-based compaction targets, not count-based.

    Scale: one groupBy to the per-month frame (calendar-bounded), then
    global aggregates over it, read back as scalar subqueries."""
    li = load_table(spark, sf_dir, "lineitem")
    parts = li.groupBy(
        F.date_format("l_shipdate", "yyyy-MM").alias("part_month")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("rows_n"),
        F.count_distinct("l_orderkey").cast("bigint").alias("orders_n"),
    )
    agg = parts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_partitions"),
        F.sum("rows_n").cast("bigint").alias("total_rows"),
        F.max("rows_n").cast("bigint").alias("max_rows"),
        F.min("rows_n").cast("bigint").alias("min_rows"),
    )
    hottest = (
        parts.filter(F.col("rows_n") == agg.select("max_rows").scalar())
        .agg(F.min("part_month"))
        .scalar()
    )
    return agg.select(
        "n_partitions",
        "total_rows",
        "max_rows",
        "min_rows",
        F.expr(
            "cast((10000 * max_rows * n_partitions) div total_rows"
            " as bigint)"
        ).alias("skew_e4"),
        hottest.alias("hottest_month"),
    )
