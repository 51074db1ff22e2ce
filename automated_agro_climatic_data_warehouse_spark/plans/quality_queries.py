"""The declarative quality-rule corpus executed as one query
(SURVEY §3.3 / §7.2 step 7 — the reference's YAML rulebook,
.github/workflows/data-quality.yml, compiled by operators/quality.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions import dsum
from ..operators.quality import DEFAULT_RULES, run_rules
from ..session import materialize
from ..sources import load_table, load_tables
from .registry import query

_ORACLE = """
    SELECT 'lineitem_quantity_range' AS rule_name,
           count(CASE WHEN l_quantity NOT BETWEEN 1 AND 50 THEN 1 END) AS violation_count
    FROM read_parquet('{sf}/lineitem.parquet')
    UNION ALL
    SELECT 'lineitem_discount_range',
           count(CASE WHEN l_discount NOT BETWEEN 0.0 AND 0.1 THEN 1 END)
    FROM read_parquet('{sf}/lineitem.parquet')
    UNION ALL
    SELECT 'lineitem_price_positive',
           count(CASE WHEN l_extendedprice NOT BETWEEN 0.0 AND 1e9 THEN 1 END)
    FROM read_parquet('{sf}/lineitem.parquet')
    UNION ALL
    SELECT 'lineitem_flag_enum',
           count(CASE WHEN l_returnflag IS NULL
                        OR l_returnflag NOT IN ('A','N','R') THEN 1 END)
    FROM read_parquet('{sf}/lineitem.parquet')
    UNION ALL
    SELECT 'lineitem_shipdate_not_null',
           count(CASE WHEN l_shipdate IS NULL THEN 1 END)
    FROM read_parquet('{sf}/lineitem.parquet')
    UNION ALL
    SELECT 'lineitem_tax_le_discount_capped',
           count(CASE WHEN l_tax > 0.08 AND l_discount > 0.1 THEN 1 END)
    FROM read_parquet('{sf}/lineitem.parquet')
    UNION ALL
    SELECT 'orders_status_enum',
           count(CASE WHEN o_orderstatus IS NULL
                        OR o_orderstatus NOT IN ('O','F','P') THEN 1 END)
    FROM read_parquet('{sf}/orders.parquet')
    UNION ALL
    SELECT 'orders_price_range',
           count(CASE WHEN o_totalprice NOT BETWEEN 0.0 AND 1e7 THEN 1 END)
    FROM read_parquet('{sf}/orders.parquet')
    UNION ALL
    SELECT 'orders_no_future_dates',
           count(CASE WHEN o_orderdate > TIMESTAMP '2002-01-01' THEN 1 END)
    FROM read_parquet('{sf}/orders.parquet')
    UNION ALL
    SELECT 'orders_priority_format',
           count(CASE WHEN o_orderpriority IS NULL
                        OR NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')
                 THEN 1 END)
    FROM read_parquet('{sf}/orders.parquet')
    UNION ALL
    SELECT 'customer_name_format',
           count(CASE WHEN c_name IS NULL
                        OR NOT regexp_matches(c_name, '^Customer#[0-9]+$')
                 THEN 1 END)
    FROM read_parquet('{sf}/customer.parquet')
    UNION ALL
    SELECT 'customer_acctbal_completeness',
           greatest(0, CAST(ceil(count(*) * 0.99) AS BIGINT) - count(c_acctbal))
    FROM read_parquet('{sf}/customer.parquet')
    UNION ALL
    SELECT 'customer_key_unique',
           CAST(coalesce(sum(n - 1), 0) AS BIGINT)
    FROM (SELECT count(*) AS n FROM read_parquet('{sf}/customer.parquet')
          GROUP BY c_custkey HAVING count(*) > 1)
    UNION ALL
    SELECT 'events_value_range',
           count(CASE WHEN value NOT BETWEEN -1000.0 AND 10000.0 THEN 1 END)
    FROM read_parquet('{sf}/events.parquet')
    UNION ALL
    SELECT 'events_type_enum',
           count(CASE WHEN event_type IS NULL OR event_type NOT IN
                 ('click','view','purchase','signup','error') THEN 1 END)
    FROM read_parquet('{sf}/events.parquet')
    UNION ALL
    SELECT 'lineitem_orders_ri', count(*)
    FROM read_parquet('{sf}/lineitem.parquet') l
    WHERE NOT EXISTS (SELECT 1 FROM read_parquet('{sf}/orders.parquet') o
                      WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'orders_customer_ri', count(*)
    FROM read_parquet('{sf}/orders.parquet') o
    WHERE NOT EXISTS (SELECT 1 FROM read_parquet('{sf}/customer.parquet') c
                      WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'customer_nation_ri', count(*)
    FROM read_parquet('{sf}/customer.parquet') c
    WHERE NOT EXISTS (SELECT 1 FROM read_parquet('{sf}/nation.parquet') n
                      WHERE n.n_nationkey = c.c_nationkey)
"""


@query(
    "quality_suite",
    oracle=_ORACLE,
    tags=("P3", "P7", "P8", "P9", "A1", "A4", "J3", "D2"),
)
def quality_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full rule corpus in one call: 18 rules compiled to 4 fused table
    scans + 3 anti-joins + 1 groupBy (operators/quality.py) — not 18
    separate queries."""
    return run_rules(spark, DEFAULT_RULES, load_tables(spark, sf_dir))


@query(
    "dq_zscore_outliers",
    oracle="""
    WITH stats AS (
      SELECT event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS s1,
             CAST(sum(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE) AS s2
      FROM read_parquet('{sf}/events.parquet')
      GROUP BY event_type
    ), z AS (
      SELECT event_type, n,
             s1 / n AS mean,
             sqrt((s2 - s1 * s1 / n) / (n - 1)) AS std
      FROM stats
    )
    SELECT z.event_type, z.n,
           z.mean, z.std,
           CAST(sum(CASE WHEN abs(e.value - z.mean) > 3 * z.std
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM read_parquet('{sf}/events.parquet') e
    JOIN z ON z.event_type = e.event_type
    GROUP BY z.event_type, z.n, z.mean, z.std
    """,
    tags=("quality", "A2", "anomaly"),
)
def dq_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type 3σ outlier census — the anomaly gate of the reference's
    data-quality corpus generalized to any numeric column. Moments (n,
    Σv, Σv²) accumulate as exact decimals so mean/std are bit-identical
    across engines, then one broadcast of the tiny per-type stats back
    onto events scores every row map-side: two scans, one shuffle on
    event_type, no window sort — the 100 TB anomaly-scan shape."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("s1"),
        dsum(F.col("value") * F.col("value")).alias("s2"),
    )
    z = stats.select(
        "event_type",
        "n",
        (F.col("s1") / F.col("n")).alias("mean"),
        F.sqrt(
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("std"),
    )
    return (
        ev.join(F.broadcast(z), "event_type")
        .groupBy("event_type", "n", "mean", "std")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("mean"))
                    > 3 * F.col("std"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers")
        )
        .select("event_type", "n", "mean", "std", "n_outliers")
    )


@query(
    "dq_key_skew_profile",
    oracle="""
    WITH per_key AS (
      SELECT user_id, count(*) AS n
      FROM read_parquet('{sf}/events.parquet') GROUP BY user_id
    )
    SELECT count(*) AS n_keys,
           CAST(sum(n) AS BIGINT) AS n_rows,
           max(n) AS max_key_rows,
           quantile_cont(n, 0.5) AS p50,
           quantile_cont(n, 0.99) AS p99,
           CAST(max(n) AS DOUBLE) * count(*) / CAST(sum(n) AS BIGINT)
             AS skew_ratio
    FROM per_key
    """,
    tags=("quality", "skew", "ops"),
)
def dq_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile for a prospective shuffle key (user_id):
    per-key row counts reduced to {cardinality, max, p50, p99, max/mean
    skew ratio} — the pre-flight check that tells you whether a 100 TB
    join needs salting or AQE skew splitting BEFORE you run it. One
    partial-aggregated shuffle on the key, then a single-row reduction;
    the percentile over per-key counts is exact here and becomes
    approx_percentile at cluster scale."""
    ev = load_table(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_key_rows"),
        F.expr("percentile(n, 0.5)").alias("p50"),
        F.expr("percentile(n, 0.99)").alias("p99"),
        (
            F.max("n").cast("double") * F.count(F.lit(1)) / F.sum("n")
        ).alias("skew_ratio"),
    )


@query(
    "dq_mad_outliers",
    oracle="""
    WITH q AS (
      SELECT event_type, user_id, event_id,
             CAST(round(value * 1048576) AS BIGINT) AS qv
      FROM read_parquet('{sf}/events.parquet')
    ), med AS (
      SELECT event_type, quantile_cont(qv, 0.5) AS med_q
      FROM q GROUP BY event_type
    ), dev AS (
      SELECT q.event_type, q.qv, m.med_q, abs(q.qv - m.med_q) AS adev
      FROM q JOIN med m ON m.event_type = q.event_type
    ), mad AS (
      SELECT event_type, med_q, quantile_cont(adev, 0.5) AS mad_q
      FROM dev GROUP BY event_type, med_q
    )
    SELECT d.event_type,
           m.med_q / 1048576.0 AS median_value,
           m.mad_q / 1048576.0 AS mad_value,
           CAST(sum(CASE WHEN abs(d.qv - m.med_q) > 3 * 1.4826 * m.mad_q
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           count(*) AS n
    FROM dev d JOIN mad m ON m.event_type = d.event_type
    GROUP BY d.event_type, m.med_q, m.mad_q
    """,
    tags=("quality", "anomaly", "A2"),
)
def dq_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier census per event type — the anomaly
    gate dq_zscore_outliers' mean/σ version breaks on heavy tails; MAD
    doesn't. Values quantize to the 2^20 binary grid FIRST so both
    medians interpolate over integers (frac 0.5 of two ≤2^34 ints is
    exact in double under either lo+(hi-lo)·f or lo·(1-f)+hi·f — no
    cross-engine percentile formula risk; see functions/parity.py).
    Shape: two grouped exact percentiles over (type)-keyed frames plus
    one broadcast join back — three shuffles on a 5-value key, each
    partial-aggregated; at 100 TB the exact percentile swaps for
    approx_percentile with the identical plan."""
    ev = load_table(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        F.round(F.col("value") * F.lit(1048576)).cast("bigint").alias("qv"),
    )
    med = q.groupBy("event_type").agg(
        F.expr("percentile(qv, 0.5)").alias("med_q")
    )
    dev = q.join(F.broadcast(med), "event_type").select(
        "event_type",
        "qv",
        "med_q",
        F.abs(F.col("qv") - F.col("med_q")).alias("adev"),
    )
    mad = dev.groupBy("event_type", "med_q").agg(
        F.expr("percentile(adev, 0.5)").alias("mad_q")
    )
    return (
        dev.drop("med_q")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med_q", "mad_q")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("qv") - F.col("med_q"))
                    > 3 * 1.4826 * F.col("mad_q"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "event_type",
            (F.col("med_q") / F.lit(1048576.0)).alias("median_value"),
            (F.col("mad_q") / F.lit(1048576.0)).alias("mad_value"),
            "n_outliers",
            "n",
        )
    )


@query(
    "dq_value_histogram",
    oracle="""
    WITH rng AS (
      SELECT event_type, min(value) AS lo, max(value) AS hi
      FROM read_parquet('{sf}/events.parquet') GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(CASE WHEN r.hi = r.lo THEN 0
                     ELSE least(greatest(floor((e.value - r.lo) * 10.0
                                              / (r.hi - r.lo)), 0), 9)
                END AS BIGINT) AS bucket,
           count(*) AS n
    FROM read_parquet('{sf}/events.parquet') e
    JOIN rng r ON r.event_type = e.event_type
    GROUP BY e.event_type, bucket
    """,
    tags=("quality", "profiling", "A2"),
)
def dq_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 10-bucket value histogram per event type — the
    profiling pass behind data-drift monitors. Two aggregations over one
    column: per-type min/max (tiny, broadcast back) then map-side bucket
    arithmetic + one shuffle on (type, bucket) with partial counts. The
    bucket expression is identical double arithmetic on both engines, so
    boundary assignment matches exactly."""
    ev = load_table(spark, sf_dir, "events")
    rng = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    # hi == lo (single distinct value) guard: 0/0 is NaN, and NaN's path
    # through least/greatest vs DuckDB's ieee_floating_point_ops setting
    # is an oracle-parity trap — pin the degenerate type to bucket 0
    bucket = (
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(
                F.greatest(
                    F.floor(
                        (F.col("value") - F.col("lo"))
                        * 10.0
                        / (F.col("hi") - F.col("lo"))
                    ),
                    F.lit(0),
                ),
                F.lit(9),
            )
        )
        .cast("bigint")
        .alias("bucket")
    )
    return (
        ev.join(F.broadcast(rng), "event_type")
        .select("event_type", bucket)
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "dq_dup_rate_by_source",
    oracle="""
    WITH hashed AS (
      SELECT source, md5(text) AS h
      FROM read_parquet('{sf}/documents.parquet')
    ), per_hash AS (
      SELECT source, h, count(*) AS n
      FROM hashed GROUP BY source, h
    )
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_unique,
           CAST(sum(n) - count(*) AS BIGINT) AS n_dup_docs,
           CAST(CAST(sum(n) - count(*) AS BIGINT) AS DOUBLE)
             / CAST(CAST(sum(n) AS BIGINT) AS DOUBLE) AS dup_rate
    FROM per_hash GROUP BY source
    """,
    tags=("quality", "dedup-exact", "reporting"),
)
def dq_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate rate per source — the corpus-health number that
    decides which feeds need dedup attention (and the acceptance metric
    after a purge). Two grouped aggregations that reuse one shuffle
    lineage: (source, hash) counts, then per-source rollup of sums —
    both on uniform keys with map-side partials. The rate is one IEEE
    division of identically-derived int64 casts."""
    docs = load_table(spark, sf_dir, "documents")
    per_hash = docs.select("source", F.md5("text").alias("h")).groupBy(
        "source", "h"
    ).agg(F.count(F.lit(1)).alias("n"))
    agg = per_hash.groupBy("source").agg(
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_unique"),
        (F.sum("n") - F.count(F.lit(1))).alias("n_dup_docs"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_unique",
        "n_dup_docs",
        (
            F.col("n_dup_docs").cast("double") / F.col("n_docs").cast("double")
        ).alias("dup_rate"),
    )


@query(
    "dq_mix_drift_chi2",
    oracle="""
    WITH cell AS (
      SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS o
      FROM read_parquet('{sf}/events.parquet')
      GROUP BY day, event_type
    ), day_n AS (
      SELECT day, CAST(sum(o) AS BIGINT) AS n_day FROM cell GROUP BY day
    ), overall AS (
      SELECT event_type, CAST(sum(o) AS BIGINT) AS n_type FROM cell
      GROUP BY event_type
    ), total AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cell),
    grid AS (
      SELECT d.day, d.n_day, t.event_type, t.n_type
      FROM day_n d CROSS JOIN overall t
    ), terms AS (
      SELECT g.day,
             CAST(round(
               power(COALESCE(c.o, 0)
                       - g.n_day * (CAST(g.n_type AS DOUBLE) / tt.n), 2)
                 / (g.n_day * (CAST(g.n_type AS DOUBLE) / tt.n))
               * 1048576) AS BIGINT) AS qterm
      FROM grid g
      LEFT JOIN cell c ON c.day = g.day AND c.event_type = g.event_type
      CROSS JOIN total tt
    )
    SELECT day, CAST(sum(qterm) AS BIGINT) AS chi2_q,
           CAST(CAST(sum(qterm) AS BIGINT) AS DOUBLE) / 1048576.0 AS chi2
    FROM terms GROUP BY day
    """,
    tags=("quality", "drift", "chi2"),
)
def dq_mix_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-mix drift monitor: per-day chi-square of the
    event-type distribution against the corpus-wide mix — the alarm
    that catches a feed silently changing composition (a type
    vanishing, a bot flooding one action) before it skews training
    labels downstream. The term sum runs over the DENSIFIED day×type
    grid, not just observed cells: a day where a type is entirely
    absent contributes that cell's (0−E)²/E = E — often the LARGEST
    term, and precisely the vanished-type alarm case (the r10-verdict
    mirrored-bug find: both engines previously dropped O=0 cells, the
    same densification omission fixed inside cramers_v_readout; pinned
    by the closed-form vanished-type fixture in
    tests/test_property_round11.py). Every input to the statistic is
    an integer count, so the per-cell χ² terms are identical doubles on
    both engines; terms quantize to a 2^-20 binary grid BEFORE the
    per-day sum, making the aggregate exact int64 (sum order free).
    Three bounded aggregations (day×type cells, day totals, type
    totals) + one calendar×types grid — every frame past the first
    groupBy is trivially small at any corpus size."""
    ev = load_table(spark, sf_dir, "events")
    cell = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("o"))
    day_n = cell.groupBy(F.col("day").alias("d2")).agg(
        F.sum("o").cast("bigint").alias("n_day")
    )
    overall = cell.groupBy(F.col("event_type").alias("t2")).agg(
        F.sum("o").cast("bigint").alias("n_type")
    )
    n = cell.agg(F.sum("o").cast("bigint")).scalar()
    grid = day_n.crossJoin(overall)
    o0 = F.coalesce(F.col("o"), F.lit(0))
    e = F.col("n_day") * (F.col("n_type").cast("double") / F.col("n"))
    qterm = F.round(
        F.pow(o0 - e, F.lit(2)) / e * F.lit(1048576)
    ).cast("bigint")
    terms = (
        grid.join(
            F.broadcast(cell),
            (F.col("d2") == F.col("day"))
            & (F.col("t2") == F.col("event_type")),
            "left",
        )
        .withColumn("n", n)
        .select(F.col("d2").alias("day"), qterm.alias("qterm"))
    )
    return terms.groupBy("day").agg(
        F.sum("qterm").alias("chi2_q"),
        (F.sum("qterm").cast("double") / F.lit(1048576.0)).alias("chi2"),
    )


@query(
    "dq_volume_anomaly",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS n
      FROM read_parquet('{sf}/events.parquet') GROUP BY day
    ), ctx AS (
      SELECT day, n, lag(n) OVER (ORDER BY day) AS prev_n
      FROM daily
    )
    SELECT day, CAST(n AS BIGINT) AS n, CAST(prev_n AS BIGINT) AS prev_n,
           (n * 2 < prev_n OR n > prev_n * 2) AS is_anomaly
    FROM ctx WHERE prev_n IS NOT NULL
    """,
    tags=("quality", "monitoring", "W1"),
)
def dq_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day ingest-volume alarm: a day whose row count halves
    or doubles against the previous day is flagged — the first monitor
    every feed gets (upstream outage, replay storm, duplicate load).
    Daily counts collapse the corpus to calendar-sized rows FIRST; the
    lag window then runs over that tiny table (ordered by day — the
    unpartitioned frame is bounded by the calendar, same rationale as
    w9). Thresholds are pure integer comparisons (n·2 < prev, n >
    prev·2) — no float ratio to disagree on."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = W.orderBy("day")
    ctx = daily.select("day", "n", F.lag("n").over(w).alias("prev_n"))
    return ctx.filter(F.col("prev_n").isNotNull()).select(
        "day",
        "n",
        "prev_n",
        (
            (F.col("n") * 2 < F.col("prev_n"))
            | (F.col("n") > F.col("prev_n") * 2)
        ).alias("is_anomaly"),
    )


@query(
    "dq_cusum_shift",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
      FROM read_parquet('{sf}/events.parquet') GROUP BY day
    ), k AS (
      SELECT CAST(sum(n) // count(*) AS BIGINT) AS k FROM daily
    ), cum AS (
      SELECT day, n, k.k,
             CAST(sum(n - k.k) OVER (ORDER BY day) AS BIGINT) AS c
      FROM daily, k
    ), run AS (
      SELECT day, n, k,
             c - CAST(least(0, min(c) OVER (ORDER BY day)) AS BIGINT)
               AS cusum_pos
      FROM cum
    )
    SELECT day, n, cusum_pos, (cusum_pos > k) AS shifted FROM run
    """,
    tags=("quality", "anomaly", "cusum"),
)
def dq_cusum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM upward change-point detector on daily ingest volume — the
    control-chart statistic that catches a SUSTAINED level shift
    (pipeline config change, new upstream source) which the
    day-over-day anomaly monitor (dq_volume_anomaly) misses because no
    single day jumps. The textbook recursion s_i = max(0, s_{i-1} +
    (x_i - k)) is not a built-in window aggregate, but it has an exact
    closed form over prefix aggregates: s_i = cum_i - min(0,
    min_{j<=i}(cum_j)) where cum is the running sum of (x - k) — the
    explicit 0 term is the recursion's s_0 = 0 anchor, so a surge whose
    cum never dips below zero still reads its full positive excess
    (without it, day 1 always reads 0) — two ordered windows over
    the DAILY table, which is calendar-bounded (30 rows per month,
    never corpus-sized), the same justification as the other dq daily
    monitors for their unpartitioned frames. Reference drift k is the
    integer mean (exact int division), the statistic stays exact int64,
    and the alarm threshold (one average day's volume) is an integer
    compare."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    k = daily.agg(F.expr("sum(n) div count(1)").cast("bigint")).scalar()
    wcum = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = daily.withColumn("k", k).select(
        "day",
        "n",
        "k",
        F.sum(F.col("n") - F.col("k")).over(wcum).cast("bigint").alias("c"),
    )
    run = cum.select(
        "day",
        "n",
        "k",
        (
            F.col("c")
            - F.least(F.lit(0), F.min("c").over(wcum)).cast("bigint")
        ).alias("cusum_pos"),
    )
    return run.select(
        "day", "n", "cusum_pos", (F.col("cusum_pos") > F.col("k")).alias("shifted")
    )


@query(
    "dq_null_rates_unpivot",
    oracle="""
    WITH counts AS (
      SELECT count(*) AS n_total,
             count(*) - count(user_id) AS null_user_id,
             count(*) - count(event_type) AS null_event_type,
             count(*) - count(value) AS null_value,
             count(*) - count(props) AS null_props
      FROM read_parquet('{sf}/events.parquet')
    )
    , long AS (
      SELECT 'user_id' AS col_name, null_user_id AS n_null, n_total
      FROM counts
      UNION ALL
      SELECT 'event_type', null_event_type, n_total FROM counts
      UNION ALL
      SELECT 'value', null_value, n_total FROM counts
      UNION ALL
      SELECT 'props', null_props, n_total FROM counts
    )
    SELECT col_name, CAST(n_null AS BIGINT) AS n_null,
           CAST(n_total AS BIGINT) AS n_total,
           CAST(n_null AS DOUBLE) / n_total AS null_frac
    FROM long
    """,
    tags=("quality", "unpivot", "profiling"),
)
def dq_null_rates_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-completeness profile in LONG form — the unpivot/melt
    reshape (`DataFrame.unpivot`, Spark 3.4+) that turns a wide
    one-row-per-table profile into the (column, metric) rows a data-
    quality dashboard stores uniformly across tables with different
    schemas. The expensive part is ONE aggregate-everything pass over
    the fact table (count per column — map-side partials, one 1-row
    result); the unpivot itself is a zero-cost projection of that
    single row, so profiling N columns costs one scan, not N. The
    null_frac is one IEEE division of exact integers, NULL over an
    empty table (the twin's `x / 0`)."""
    ev = load_table(spark, sf_dir, "events")
    n = F.count(F.lit(1))
    counts = ev.agg(
        n.alias("n_total"),
        (n - F.count("user_id")).alias("user_id"),
        (n - F.count("event_type")).alias("event_type"),
        (n - F.count("value")).alias("value"),
        (n - F.count("props")).alias("props"),
    )
    long = counts.unpivot(
        ["n_total"],
        ["user_id", "event_type", "value", "props"],
        "col_name",
        "n_null",
    )
    return long.select(
        "col_name",
        F.col("n_null").cast("bigint").alias("n_null"),
        F.col("n_total").cast("bigint").alias("n_total"),
        F.try_divide(F.col("n_null").cast("double"), "n_total").alias(
            "null_frac"
        ),
    )


@query(
    "dq_table_digest",
    oracle="""
    WITH rh AS (
      SELECT CAST(('0x' || substr(md5('digest:'
                 || CAST(doc_id AS VARCHAR) || '|' || text), 1, 15))
                 AS BIGINT) AS h,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 16 AS bucket
      FROM read_parquet('{sf}/documents.parquet')
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(h) AS BIGINT) AS xor_digest
    FROM rh GROUP BY bucket
    """,
    tags=("quality", "reconciliation", "ops"),
)
def dq_table_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table content digests, bucketed — the
    replica-reconciliation primitive: two clusters each compute 16
    (count, xor, sum) digests over row hashes and compare 16 ROWS
    instead of 100 TB of rows (xor of row hashes + row count per
    bucket; xor never overflows and a dropped+added row pair that
    xor-cancels still trips the count); a mismatched bucket localizes divergence
    to 1/16 of the keyspace for a drill-down (recurse with a finer
    bucket hash — a Merkle descent without materializing a tree). XOR
    and modular SUM are both commutative/associative, so the digest is
    identical under ANY partitioning, ordering, or incremental
    accumulation — and map-side partials mean the whole audit is one
    vocabulary-of-buckets aggregate over a pure scan. Portable md5 row
    hash here (15 hex chars = 60 bits of md5);
    production flips to xxhash64 like the dedup family."""
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.dedup import hash32

    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("digest:"),
                    F.col("doc_id").cast("string"),
                    F.lit("|"),
                    F.col("text"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    bucket = hash32(F.col("doc_id").cast("string")) % 16
    rh = docs.select(h.alias("h"), bucket.alias("bucket"))
    return rh.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.bit_xor("h").cast("bigint").alias("xor_digest"),
    )


@query(
    "dq_benford_first_digit",
    oracle="""
    WITH cents AS (
      SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
      FROM read_parquet('{sf}/orders.parquet')
      WHERE o_totalprice > 0
    ), digits AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS first_digit
      FROM cents
    )
    SELECT first_digit,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) AS DOUBLE)
             / (SELECT count(*) FROM digits) AS frac
    FROM digits GROUP BY first_digit
    """,
    tags=("quality", "benford", "fraud"),
)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order amounts — the
    Benford's-law audit that flags fabricated or truncated monetary
    data (organic multi-scale amounts lean hard toward leading 1s and
    2s; a uniform first-digit profile is the classic fraud/synthetic
    tell). Digit extraction is cross-engine exact WITHOUT log10():
    amounts become integer cents (round of a 2-decimal double — both
    engines round identical doubles identically), and the first digit
    is character one of the integer's decimal string — int→string is
    exact everywhere, unlike floor(log10(double)) whose libm rounding
    is engine-specific. One scan + a 9-key groupBy (map-side partial,
    tiny exchange) + the total as a scalar subquery for the fraction: the
    cheapest possible shape, which is the point — this audit should be
    free enough to run on every ingest batch."""
    o = load_table(spark, sf_dir, "orders")
    cents = o.filter(F.col("o_totalprice") > 0).select(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("c")
    )
    digits = cents.select(
        F.substring(F.col("c").cast("string"), 1, 1)
        .cast("bigint")
        .alias("first_digit")
    )
    total = digits.agg(F.count(F.lit(1))).scalar()
    return (
        digits.groupBy("first_digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            "first_digit",
            "n",
            (F.col("n").cast("double") / total).alias("frac"),
        )
    )


@query(
    "dq_id_gap_audit",
    oracle="""
    WITH ids AS (
      SELECT DISTINCT event_id AS id
      FROM read_parquet('{sf}/events.parquet')
    ), bounds AS (
      SELECT CAST(min(id) AS BIGINT) AS lo, CAST(max(id) AS BIGINT) AS hi,
             CAST(count(*) AS BIGINT) AS n_ids
      FROM ids
    ), run_starts AS (
      SELECT CAST(count(*) AS BIGINT) AS n_gaps
      FROM ids a, bounds
      WHERE a.id < bounds.hi
        AND NOT EXISTS (SELECT 1 FROM ids b WHERE b.id = a.id + 1)
    )
    SELECT bounds.lo, bounds.hi, bounds.n_ids,
           CAST(bounds.hi - bounds.lo + 1 - bounds.n_ids AS BIGINT)
             AS n_missing,
           run_starts.n_gaps
    FROM bounds, run_starts
    """,
    tags=("quality", "ingestion", "gap-audit"),
)
def dq_id_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-gap audit over the event id space — the ingestion
    monitor that catches DROPPED BATCHES (an upstream emitting
    monotonically increasing ids leaves a contiguous hole exactly
    where a lost file's rows were). The classic formulation sorts all
    ids and LAGs — a corpus-wide ordering. This one needs NO ordering
    anywhere: missing_total is pure arithmetic over (min, max, count),
    and the NUMBER of contiguous gap runs equals the number of present
    ids whose successor id+1 is absent (excluding the max) — ONE
    self anti-join on a uniform integer key, embarrassingly scalable.
    A monitor alerting on n_gaps > 0 then drills into WHICH ranges via
    the same join restricted to the suspect id window. All exact
    int64; the oracle states the same set logic with NOT EXISTS."""
    ev = load_table(spark, sf_dir, "events")
    ids = ev.select(F.col("event_id").alias("id")).distinct()
    ids = materialize(ids, "dq_id_gap_audit.ids")
    bounds = ids.agg(
        F.min("id").cast("bigint").alias("lo"),
        F.max("id").cast("bigint").alias("hi"),
        F.count(F.lit(1)).cast("bigint").alias("n_ids"),
    )
    succ = ids.select((F.col("id") - 1).alias("id"))
    n_gaps = (
        ids.join(succ, "id", "left_anti")
        .filter(F.col("id") < bounds.select("hi").scalar())
        .agg(F.count(F.lit(1)).cast("bigint"))
        .scalar()
    )
    return bounds.select(
        "lo",
        "hi",
        "n_ids",
        (F.col("hi") - F.col("lo") + 1 - F.col("n_ids"))
        .cast("bigint")
        .alias("n_missing"),
        n_gaps.alias("n_gaps"),
    )


@query(
    "dq_weekday_seasonal_anomaly",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
      FROM read_parquet('{sf}/events.parquet') GROUP BY day
    ), base AS (
      SELECT day, n, dayofweek(day) AS dow,
             CAST(sum(n) OVER (PARTITION BY dayofweek(day) ORDER BY day
                               ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING)
                  AS BIGINT) AS base_sum,
             CAST(count(n) OVER (PARTITION BY dayofweek(day) ORDER BY day
                                 ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING)
                  AS BIGINT) AS base_k
      FROM daily
    )
    SELECT day, n, CAST(dow + 1 AS BIGINT) AS dow, base_sum, base_k,
           (base_k > 0 AND (n * base_k > 2 * base_sum
                            OR 2 * n * base_k < base_sum))
             AS is_anomaly
    FROM base
    """,
    tags=("quality", "anomaly", "seasonality"),
)
def dq_weekday_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume anomaly against the SAME-WEEKDAY trailing baseline — the
    seasonality-aware monitor day-over-day comparison (dq_volume_anomaly)
    cannot be: a quiet Sunday after a busy Friday is normal, a quiet
    Sunday after four busy Sundays is an incident. Each day compares to
    the sum/count of its previous ≤4 same-weekday observations (one
    window PARTITIONED BY weekday over the calendar-bounded daily
    table — ≤7 partitions of day-count/7 rows, never corpus-sized) and
    flags ±2× deviations with INTEGER CROSS-MULTIPLICATION
    (n·k > 2·Σ, 2·n·k < Σ — no mean division, no float), so verdicts
    are engine-exact. Warm-up days (no prior same-weekday history)
    report base_k = 0 and never alarm. Engine quirk: Spark dayofweek
    is 1-based (Sunday=1), DuckDB's is 0-based — the oracle emits
    dayofweek+1; the PARTITION key only needs self-consistency."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = (
        W.partitionBy(F.dayofweek("day"))
        .orderBy("day")
        .rowsBetween(-4, -1)
    )
    base = daily.select(
        "day",
        "n",
        F.dayofweek("day").cast("bigint").alias("dow"),
        F.sum("n").over(w).cast("bigint").alias("base_sum"),
        F.count("n").over(w).cast("bigint").alias("base_k"),
    )
    return base.select(
        "day",
        "n",
        "dow",
        "base_sum",
        "base_k",
        (
            (F.col("base_k") > 0)
            & (
                (F.col("n") * F.col("base_k") > 2 * F.col("base_sum"))
                | (2 * F.col("n") * F.col("base_k") < F.col("base_sum"))
            )
        ).alias("is_anomaly"),
    )


@query(
    "dq_ks_two_sample",
    oracle="""
    WITH docs AS (
      SELECT source, n_chars
      FROM read_parquet('{sf}/documents.parquet')
    ), vals AS (
      SELECT DISTINCT n_chars FROM docs
    ), srcs AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM docs
      GROUP BY source
    ), cnt AS (
      SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c FROM docs
      GROUP BY source, n_chars
    ), grid AS (
      SELECT s.source, s.n_s, v.n_chars, coalesce(c.c, 0) AS c
      FROM srcs s CROSS JOIN vals v
      LEFT JOIN cnt c ON c.source = s.source AND c.n_chars = v.n_chars
    ), tot AS (
      SELECT n_chars, CAST(sum(c) AS BIGINT) AS call FROM grid
      GROUP BY n_chars
    ), ecdf AS (
      SELECT g.source, g.n_s,
             CAST(sum(g.c) OVER (PARTITION BY g.source ORDER BY g.n_chars)
                  AS BIGINT) AS cum_s,
             CAST(sum(t.call) OVER (PARTITION BY g.source ORDER BY g.n_chars)
                  AS BIGINT) AS cum_all
      FROM grid g JOIN tot t ON t.n_chars = g.n_chars
    ), stat AS (
      SELECT source, n_s,
             max(abs(cum_s * ((SELECT CAST(count(*) AS BIGINT) FROM docs)
                              - n_s)
                     - (cum_all - cum_s) * n_s)) AS d_num
      FROM ecdf GROUP BY source, n_s
    )
    SELECT source, n_s,
           CAST((SELECT count(*) FROM docs) - n_s AS BIGINT) AS n_rest,
           CAST(d_num AS BIGINT) AS d_num,
           CAST(d_num AS DOUBLE)
             / (n_s * ((SELECT CAST(count(*) AS BIGINT) FROM docs) - n_s))
             AS ks_stat
    FROM stat
    """,
    tags=("dq", "distribution", "ks-test", "monitoring"),
)
def dq_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic per source vs the
    rest of the corpus — the nonparametric distribution-drift monitor
    (did src7's document-length distribution shift away from everyone
    else's?). KS needs the SUP over both step ECDFs, so the statistic
    is evaluated on the union value grid (source grid alone misses
    complement jumps): distinct lengths × sources (domain-bounded, the
    ev_interarrival_median histogram-ECDF discipline — cumsums run
    over the tiny value grid, never the corpus), with the sup kept as
    an exact cross-multiplied integer |cumS·N_rest − cumRest·N_S| and
    divided into a double exactly once at the end. At 100 TB the
    per-source histogram is the only corpus-sized aggregate; everything
    after is value-domain-sized."""
    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    n_total = docs.agg(F.count(F.lit(1)).cast("bigint")).scalar()
    vals = docs.select("n_chars").distinct()
    srcs = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_s")
    )
    cnt = docs.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    grid = (
        srcs.crossJoin(vals)
        .join(cnt, ["source", "n_chars"], "left")
        .select(
            "source", "n_s", "n_chars", F.coalesce("c", F.lit(0)).alias("c")
        )
    )
    tot = grid.groupBy("n_chars").agg(F.sum("c").cast("bigint").alias("call"))
    w = W.partitionBy("source").orderBy("n_chars")
    ecdf = grid.join(tot, "n_chars").select(
        "source",
        "n_s",
        F.sum("c").over(w).cast("bigint").alias("cum_s"),
        F.sum("call").over(w).cast("bigint").alias("cum_all"),
    )
    stat = (
        ecdf.withColumn("n_total", n_total)
        .groupBy("source", "n_s", "n_total")
        .agg(
            F.max(
                F.abs(
                    F.col("cum_s") * (F.col("n_total") - F.col("n_s"))
                    - (F.col("cum_all") - F.col("cum_s")) * F.col("n_s")
                )
            )
            .cast("bigint")
            .alias("d_num")
        )
    )
    return stat.select(
        "source",
        "n_s",
        (F.col("n_total") - F.col("n_s")).cast("bigint").alias("n_rest"),
        "d_num",
        (
            F.col("d_num").cast("double")
            / (F.col("n_s") * (F.col("n_total") - F.col("n_s")))
        ).alias("ks_stat"),
    )


@query(
    "dq_metadata_consistency",
    oracle="""
    WITH m AS (
      SELECT source, n_chars, length(text) AS true_chars
      FROM read_parquet('{sf}/documents.parquet')
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_chars <> true_chars THEN 1 ELSE 0 END)
                AS BIGINT) AS n_mismatch,
           CAST(sum(CASE WHEN n_chars <> true_chars THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*) AS mismatch_rate,
           CAST(max(abs(n_chars - true_chars)) AS BIGINT) AS max_abs_dev
    FROM m GROUP BY source
    """,
    tags=("quality", "metadata", "reconciliation"),
)
def dq_metadata_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATERIALIZED-COLUMN drift audit: documents carry a precomputed
    n_chars; this recomputes length(text) and reports, per source, how
    often and how badly the stored metadata disagrees with the data it
    summarizes. Every warehouse accumulates these derived columns
    (lengths, token counts, checksums written at ingest) and every one
    of them silently rots when an upstream cleaner changes — this is
    the audit that catches it BEFORE a length-based quality gate or
    packing stage trusts a stale number. One scan, one low-cardinality
    groupBy with map-side partials; the rate is a single IEEE division
    of exact ints, the deviation an integer max."""
    docs = load_table(spark, sf_dir, "documents")
    mism = F.when(F.col("n_chars") != F.length("text"), 1).otherwise(0)
    return docs.select(
        "source",
        mism.alias("mm"),
        F.abs(F.col("n_chars") - F.length("text")).alias("dev"),
    ).groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("mm").cast("bigint").alias("n_mismatch"),
        (F.sum("mm").cast("double") / F.count(F.lit(1))).alias(
            "mismatch_rate"
        ),
        F.max("dev").cast("bigint").alias("max_abs_dev"),
    )


@query(
    "dq_join_size_estimate",
    oracle="""
    WITH r AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS c
      FROM read_parquet('{sf}/events.parquet')
      WHERE event_type = 'purchase' GROUP BY user_id
    ), s AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS c
      FROM read_parquet('{sf}/events.parquet')
      WHERE event_type = 'view' GROUP BY user_id
    ), exact AS (
      SELECT CAST(coalesce(sum(r.c * s.c), 0) AS BIGINT) AS exact_rows
      FROM r JOIN s ON s.user_id = r.user_id
    ), depths AS (
      SELECT j FROM (VALUES (0), (1), (2), (3)) AS t(j)
    ), rc AS (
      SELECT j,
             CAST(('0x' || substr(md5('cms' || CAST(j AS VARCHAR) || ':'
                                  || CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 512 AS bucket,
             CAST(sum(c) AS BIGINT) AS cell
      FROM r CROSS JOIN depths GROUP BY 1, 2
    ), sc AS (
      SELECT j,
             CAST(('0x' || substr(md5('cms' || CAST(j AS VARCHAR) || ':'
                                  || CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 512 AS bucket,
             CAST(sum(c) AS BIGINT) AS cell
      FROM s CROSS JOIN depths GROUP BY 1, 2
    ), per_depth AS (
      SELECT rc.j, CAST(sum(rc.cell * sc.cell) AS BIGINT) AS dot
      FROM rc JOIN sc ON sc.j = rc.j AND sc.bucket = rc.bucket
      GROUP BY rc.j
    )
    SELECT exact.exact_rows,
           CAST(min(per_depth.dot) AS BIGINT) AS cms_upper_bound,
           CAST(min(per_depth.dot) - exact.exact_rows AS BIGINT)
             AS overestimate
    FROM per_depth, exact
    GROUP BY exact.exact_rows
    """,
    tags=("sketch", "count-min", "join-cardinality", "optimizer"),
)
def dq_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-CARDINALITY estimation from sketches — the optimizer
    question ("how many rows will purchases ⋈ views on user_id
    produce?") answered WITHOUT running the join: the true size is the
    inner product of the two per-key count vectors, and the CMS
    inner-product estimate Σ_b cellR(j,b)·cellS(j,b), minimized over
    depths, is a GUARANTEED upper bound that is exact when no keys
    collide (AGMS/Count-Min inner-product estimation, Alon-Matias-
    Szegedy '96 / Cormode-Muthukrishnan '05). Both the exact inner
    product and the sketch dot products are integer arithmetic on the
    shared md5 cells (operators/sketches.cms_cells — the SAME cells the
    batch audit and streaming drain build, which is the point: a
    streamed sketch of each side prices the join before it runs). The
    driver hash pins exact size, bound, and signed overestimate.

    Scale: each side is one per-key aggregate + a 2048-cell sketch; the
    estimate is a 2048-row join — the whole point vs materializing a
    corpus-sized join to count it. Upper-bound property (overestimate
    ≥ 0) and the no-collision-exactness are pinned in tests."""
    from ..operators.sketches import cms_cells

    ev = load_table(spark, sf_dir, "events")

    def side(event_type: str):
        return (
            ev.filter(F.col("event_type") == event_type)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )

    r, s = side("purchase"), side("view")
    exact = (
        r.join(s.select(F.col("user_id"), F.col("c").alias("cs")), "user_id")
        .agg(
            F.coalesce(F.sum(F.col("c") * F.col("cs")), F.lit(0))
            .cast("bigint")
            .alias("exact_rows")
        )
    )
    rc = cms_cells(r, F.col("user_id"), weight="c")
    sc = cms_cells(s, F.col("user_id"), weight="c")
    per_depth = (
        rc.join(
            sc.select("j", "bucket", F.col("cell").alias("cell_s")),
            ["j", "bucket"],
        )
        .groupBy("j")
        .agg(F.sum(F.col("cell") * F.col("cell_s")).cast("bigint").alias("dot"))
    )
    bound = per_depth.agg(F.min("dot").cast("bigint")).scalar()
    return exact.withColumn("cms_upper_bound", bound).select(
        "exact_rows",
        "cms_upper_bound",
        (F.col("cms_upper_bound") - F.col("exact_rows"))
        .cast("bigint")
        .alias("overestimate"),
    )


@query(
    "dq_watermark_lateness",
    oracle="""
    WITH arr AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS hwm_us
      FROM read_parquet('{sf}/events.parquet')
    ), lat AS (
      SELECT CASE
               WHEN hwm_us - ts_us = 0 THEN 'a_in_order'
               WHEN hwm_us - ts_us <= 3600000000 THEN 'b_lt_1h'
               WHEN hwm_us - ts_us <= 21600000000 THEN 'c_lt_6h'
               WHEN hwm_us - ts_us <= 86400000000 THEN 'd_lt_24h'
               ELSE 'e_ge_24h' END AS bucket,
             hwm_us - ts_us AS late_us
      FROM arr
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(late_us) AS BIGINT) AS max_late_us
    FROM lat GROUP BY bucket
    """,
    tags=("quality", "streaming-design", "watermark"),
)
def dq_watermark_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK-LATENESS audit: how late do events actually arrive
    relative to the per-user event-time high-water mark, in arrival
    (event_id) order — the measurement that SIZES a streaming
    watermark before deploying it (the streaming operators here use
    30-min-to-1-hour watermarks; this query shows what fraction of
    real traffic such a choice would drop as too-late vs buffer
    unnecessarily). Lateness = running max of event time so far minus
    this event's time, bucketed into the decision bands; exact integer
    microseconds throughout (the epoch_us floor-math rail).

    Scale: ONE window pass partitioned by user_id — the same keying a
    per-key stateful stream uses, so the audit parallelizes exactly
    like the pipeline it calibrates; the output is the 5-band
    histogram. The cummax/lateness definition is pinned against a
    pure-Python replay in tests."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    arr = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
    ).withColumn("hwm_us", F.max("ts_us").over(w))
    late = arr.select(
        (F.col("hwm_us") - F.col("ts_us")).alias("late_us")
    ).select(
        F.when(F.col("late_us") == 0, "a_in_order")
        .when(F.col("late_us") <= 3600000000, "b_lt_1h")
        .when(F.col("late_us") <= 21600000000, "c_lt_6h")
        .when(F.col("late_us") <= 86400000000, "d_lt_24h")
        .otherwise("e_ge_24h")
        .alias("bucket"),
        "late_us",
    )
    return late.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max("late_us").cast("bigint").alias("max_late_us"),
    )


@query(
    "dq_theil_sen_slope",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS c
      FROM read_parquet('{sf}/events.parquet')
      GROUP BY event_type, CAST(ts AS DATE)
    ), pairs AS (
      SELECT a.event_type,
             CAST(b.c - a.c AS DOUBLE)
               / CAST(b.day - a.day AS BIGINT) AS slope
      FROM daily a
      JOIN daily b
        ON a.event_type = b.event_type AND b.day > a.day
    ), ranked AS (
      SELECT event_type, slope,
             row_number() OVER (
               PARTITION BY event_type ORDER BY slope) AS rn,
             count(*) OVER (PARTITION BY event_type) AS m
      FROM pairs
    )
    SELECT event_type,
           CAST(min(m) AS BIGINT) AS n_pairs,
           CAST(round(sum(slope) / count(*) * 1000000) AS BIGINT)
             AS slope_e6
    FROM ranked
    WHERE rn IN ((m + 1) // 2, (m + 2) // 2)
    GROUP BY event_type
    """,
    tags=("quality", "trend", "robust-stats", "theil-sen"),
)
def dq_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend slope of daily event volume per type —
    the median of all pairwise slopes (c_j - c_i)/(day_j - day_i),
    the breakdown-point-29% companion to agro_mann_kendall's trend
    TEST (Sen, JASA 1968): Mann-Kendall says WHETHER volume trends,
    Theil-Sen says HOW FAST, unpolluted by outlier days that wreck an
    OLS fit. All-pairs runs on the (type, day) AGGREGATE — calendar-
    bounded, so the quadratic is over days, never events — and the
    median is exact: each slope is ONE IEEE division of exact ints
    (bit-identical cross-engine), the middle element(s) are selected
    by rank, and for even m the two middles average with a single
    commutative add — no float accumulation beyond 2 terms anywhere.
    e6 quantization (round-half-up on both engines) makes the output
    hash-comparable.

    Scale: corpus-sized work is one groupBy; the pairs frame is
    days^2 x types (bounded by the calendar window), its window is
    partitioned by type."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    b = daily.select(
        F.col("event_type").alias("b_type"),
        F.col("day").alias("b_day"),
        F.col("c").alias("b_c"),
    )
    pairs = daily.join(
        b,
        (F.col("event_type") == F.col("b_type"))
        & (F.col("b_day") > F.col("day")),
    ).select(
        "event_type",
        (
            (F.col("b_c") - F.col("c")).cast("double")
            / F.datediff("b_day", "day").cast("bigint")
        ).alias("slope"),
    )
    wr = W.partitionBy("event_type").orderBy("slope")
    wm = W.partitionBy("event_type")
    ranked = pairs.select(
        "event_type",
        "slope",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wm).alias("m"),
    )
    return (
        ranked.filter(
            (F.col("rn") == F.expr("(m + 1) div 2"))
            | (F.col("rn") == F.expr("(m + 2) div 2"))
        )
        .groupBy("event_type")
        .agg(
            F.min("m").cast("bigint").alias("n_pairs"),
            F.expr(
                "cast(round(sum(slope) / count(*) * 1000000) as bigint)"
            ).alias("slope_e6"),
        )
    )


@query(
    "dq_psi_drift",
    oracle="""
    WITH bounds AS (
      SELECT min(CAST(ts AS DATE)) AS d0
      FROM read_parquet('{sf}/events.parquet')
    ), bucketed AS (
      SELECT least(9, CAST(floor(CAST(round(value * 100) AS BIGINT)
                                 / 5000) AS BIGINT)) AS bucket,
             CASE WHEN CAST(ts AS DATE) < d0 + INTERVAL 15 DAY
                  THEN 0 ELSE 1 END AS period
      FROM read_parquet('{sf}/events.parquet'), bounds
      WHERE value IS NOT NULL
    ), spine AS (
      SELECT unnest(generate_series(0, 9)) AS bucket
    ), h AS (
      SELECT s.bucket,
             CAST(1 + COALESCE(sum(CASE WHEN b.period = 0
                                   THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS c_ref,
             CAST(1 + COALESCE(sum(CASE WHEN b.period = 1
                                   THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS c_cur
      FROM spine s LEFT JOIN bucketed b ON b.bucket = s.bucket
      GROUP BY s.bucket
    ), tot AS (
      SELECT CAST(sum(c_ref) AS BIGINT) AS n_ref,
             CAST(sum(c_cur) AS BIGINT) AS n_cur
      FROM h
    ), terms AS (
      SELECT bucket,
             CAST((1000000 * c_ref) // n_ref AS BIGINT) AS p_e6,
             CAST((1000000 * c_cur) // n_cur AS BIGINT) AS q_e6
      FROM h, tot
    ), q AS (
      SELECT bucket, p_e6, q_e6,
             CAST(round(ln(CAST(greatest(p_e6, 1) AS DOUBLE)
                           / CAST(greatest(q_e6, 1) AS DOUBLE))
                        * 1048576) AS BIGINT) AS lnq
      FROM terms
    )
    SELECT bucket, p_e6, q_e6,
           CAST(CASE WHEN (p_e6 - q_e6) * lnq >= 0
                     THEN ((p_e6 - q_e6) * lnq) // 1048576
                     ELSE -((-((p_e6 - q_e6) * lnq)) // 1048576) END
                AS BIGINT) AS psi_term_e6
    FROM q
    """,
    tags=("quality", "drift", "psi", "ln-grid"),
)
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per value bucket — the industry
    drift score (credit-risk monitoring standard; PSI > 0.25 =
    retrain) between the first 15 observed days and the rest:
    psi = Sigma (p_i - q_i) * ln(p_i / q_i) over 10 fixed-width value
    buckets, Laplace +1 smoothed so empty buckets stay finite — the
    multiplicative complement to dq_mix_drift_chi2 (additive) and
    dq_ks_two_sample (sup-norm). Emitted per bucket (the actionable
    form: WHICH band drifted) with e6 shares; the ln rides the tfidf
    2^20 grid over already-quantized integer shares and the one
    possibly-negative division is sign-split. Each term is
    nonnegative in exact math ((p-q) and ln(p/q) share sign); the
    e6-share quantization can make a near-zero term round to either
    side, so the sign-split guard stays. Buckets band the shared
    cents grid (least(9, floor(cents/5000)), cents = round(value*100)
    — the r11 fold onto the shared readout moved banding from raw
    value onto the grid every sibling statistic uses, mirrored in the
    oracle).

    Scale: one scan -> two (cents, n) histograms, 10-row bucket
    pools; every downstream frame is bucket-bounded. Histogram split
    + readout are the SHARED operators/quality.py psi_between — one
    definition with the streaming monitor (streaming/wasserstein.py),
    which serves PSI as a second readout of the SAME drained
    vhist_merge state as W1 (r10-verdict item 6)."""
    from ..operators.quality import psi_between

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    # ONE corpus scan (was two: a 1-row min-date aggregate + a second
    # full scan cross-joined against it): the (cents, day) histogram is
    # value-domain x day-domain bounded, d0 is a probe of ITS checkpoint,
    # and the period split happens histogram-side.
    hist2, probe = materialize(
        ev.select(
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
            F.col("ts").cast("date").alias("day"),
        )
        .groupBy("cents", "day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n")),
        "dq_psi_drift.hist2",
        F.min("day").alias("d0"),
    )
    d0 = probe["d0"]
    # no per-cents re-aggregation: psi_between's bucket pool sums the
    # (cents, n) rows anyway, so the period sides are plain filters of
    # the checkpointed histogram (two exchanges fewer)
    cut = F.date_add(F.lit(d0), 15)
    ref = hist2.filter(F.col("day") < cut).select("cents", "n")
    live = hist2.filter(F.col("day") >= cut).select("cents", "n")
    return psi_between(ref, live)


@query(
    "dq_fano_burstiness",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS c
      FROM read_parquet('{sf}/events.parquet')
      GROUP BY event_type, CAST(ts AS DATE)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(c) AS BIGINT) AS total,
           CAST((10000 * (count(*) * sum(c * c) - sum(c) * sum(c)))
                // (count(*) * sum(c)) AS BIGINT) AS fano_e4
    FROM daily GROUP BY event_type
    """,
    tags=("quality", "burstiness", "fano"),
)
def dq_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (index of dispersion, variance/mean) of daily event
    volume per type — the burstiness monitor: a Poisson-stable feed
    sits at ~1.0 (10000 in e4); crawler bursts, backfills, or retry
    storms push it far above, while a rate-limited/quantized feed sits
    below. Closed form over exact integer moments —
    fano = (n*Sum(c^2) - (Sum c)^2) / (n * Sum c) — so the whole
    readout is two int64 sums and one truncating e4 division
    (numerator nonnegative by Cauchy-Schwarz, no sign split needed).
    Complements dq_volume_anomaly (pointwise z-scores) with a single
    per-type dispersion number.

    Scale: one groupBy to the (type, day) frame, then a type-bounded
    aggregate."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("c").cast("bigint").alias("total"),
        F.expr(
            "cast((10000 * (count(*) * sum(c * c) - sum(c) * sum(c)))"
            " div (count(*) * sum(c)) as bigint)"
        ).alias("fano_e4"),
    )


@query(
    "dq_k_anonymity",
    oracle="""
    WITH qi AS (
      SELECT c_mktsegment AS seg, c_nationkey AS nat,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band
      FROM read_parquet('{sf}/customer.parquet')
    ), grp AS (
      SELECT GROUPING(seg) * 4 + GROUPING(nat) * 2 + GROUPING(band) AS gid,
             count(*) AS n
      FROM qi GROUP BY ROLLUP (seg, nat, band)
    )
    SELECT CASE gid WHEN 0 THEN 0 WHEN 1 THEN 1 ELSE 2 END AS gen_level,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(count(CASE WHEN n < 5 THEN 1 END) AS BIGINT)
             AS n_small_groups,
           CAST(coalesce(sum(CASE WHEN n < 5 THEN n END), 0) AS BIGINT)
             AS n_rows_suppressed,
           CAST(min(n) AS BIGINT) AS k_anonymity
    FROM grp WHERE gid < 7 GROUP BY gid
    """,
    tags=("quality", "privacy", "k-anonymity"),
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY audit over a quasi-identifier generalization ladder —
    the PII-risk readout a training-data release gate runs before
    publishing user-derived records (Sweeney 2002; the suppression
    numbers are what a k=5 release policy would redact). QI at full
    precision = (segment, nation, account-balance band); each ROLLUP
    level generalizes away the most-identifying attribute (band, then
    nation). The whole ladder is ONE Expand pass + one hash aggregation
    (no per-level rescans — the same plan shape as a11_grouping_sets),
    then a 3-group reduction: per level, the group count, the number of
    groups smaller than k=5, the row mass those groups hold (what
    suppression would delete), and the k the data actually satisfies
    (min group size). Banding uses floor(x/1000.0) — double floor, not
    integer div — so negative balances land identically in both
    engines. At 100 TB this is two map-side-combining aggregations over
    a 3x-expanded scan; group cardinality is bounded by the QI domain,
    not the row count."""
    cust = load_table(spark, sf_dir, "customer")
    qi = cust.select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
        F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("bigint").alias("band"),
    )
    grp = (
        qi.rollup("seg", "nat", "band")
        .agg(F.count(F.lit(1)).alias("n"), F.grouping_id().alias("gid"))
        .filter(F.col("gid") < 7)
    )
    small = F.when(F.col("n") < 5, F.col("n"))
    return (
        grp.groupBy(
            F.when(F.col("gid") == 0, 0)
            .when(F.col("gid") == 1, 1)
            .otherwise(2)
            .alias("gen_level")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.count(small).cast("bigint").alias("n_small_groups"),
            F.coalesce(F.sum(small), F.lit(0)).cast("bigint")
            .alias("n_rows_suppressed"),
            F.min("n").cast("bigint").alias("k_anonymity"),
        )
    )


@query(
    "dq_fdr_bh",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM read_parquet('{sf}/events.parquet')
      GROUP BY 1, 2
    ), stats AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS m,
             CAST(sum(x) AS BIGINT) AS s1,
             CAST(sum(x * x) AS BIGINT) AS s2
      FROM daily GROUP BY event_type
    ), pvals AS (
      SELECT d.event_type, d.day, s.m,
             CAST(CASE WHEN (CAST(s.m AS HUGEINT) * d.x - s.s1)
                            * (CAST(s.m AS HUGEINT) * d.x - s.s1)
                       <= CAST(s.m AS HUGEINT) * s.s2
                          - CAST(s.s1 AS HUGEINT) * s.s1
                  THEN CAST(1048576 AS HUGEINT)
                  ELSE ((CAST(s.m AS HUGEINT) * s.s2
                         - CAST(s.s1 AS HUGEINT) * s.s1) * 1048576)
                       // ((CAST(s.m AS HUGEINT) * d.x - s.s1)
                           * (CAST(s.m AS HUGEINT) * d.x - s.s1))
             END AS BIGINT) AS p_q
      FROM daily d JOIN stats s USING (event_type)
    ), ranked AS (
      SELECT event_type, day, m, p_q,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY p_q, day) AS rk
      FROM pvals
    ), cut AS (
      SELECT event_type, m, p_q, rk,
             max(CASE WHEN p_q * m * 20 <= rk * 1048576
                      THEN rk END)
               OVER (PARTITION BY event_type) AS cutoff
      FROM ranked
    )
    SELECT event_type, CAST(any_value(m) AS BIGINT) AS m,
           CAST(coalesce(any_value(cutoff), 0) AS BIGINT) AS n_reject,
           CAST(min(p_q) AS BIGINT) AS min_p_q,
           CAST(count(*) FILTER (WHERE p_q * 20 <= 1048576) AS BIGINT)
             AS n_sig_raw
    FROM cut GROUP BY event_type
    """,
    tags=("quality", "fdr", "benjamini-hochberg", "stats"),
)
def dq_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR step-up (JRSS-B 1995) over per-day volume
    anomalies — the multiple-testing correction every monitoring suite
    needs once it fires hundreds of per-cell tests a day: without it,
    alpha=0.05 on types*days cells yields a steady stream of false
    alarms (n_sig_raw is shipped alongside as the uncorrected
    contrast). P-values are CHEBYSHEV-conservative and therefore EXACT
    rationals of integer moments: p = min(1, var/(x-mean)^2) =
    min(1, (m*s2-s1^2)/(m*x-s1)^2), staged on the 2^20 grid with an
    all-nonnegative truncating division — no erf/gamma tails, so the
    oracle replays bit-for-bit. The moment products ride on
    decimal(38,0) (HUGEINT in the twin): int64 wraps once a type's
    daily-count stddev passes ~7e3 at a year of days, decimal headroom
    holds to ~1e16 — effectively unbounded at 100 TB (distribution-free conservatism is the
    standard trade for exactness in monitoring). The BH step-up is pure
    integer comparison: reject ranks <= max{i: p_(i)*m*20 <= i*2^20}
    via ONE per-type rank window + ONE per-type max window (the
    cutoff IS the reject count, since ranks below the argmax are
    rejected wholesale by step-up). Plan: daily groupBy [exchange 1,
    map-side partial], type-level moment re-agg [exchange 2, handful
    of keys], windows partitioned by event_type on bounded
    types-times-days frames, final per-type collapse exchange-free on
    the window's partitioning."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("s2"),
    )
    # moment products staged on decimal(38,0) (DuckDB twin: HUGEINT):
    # m^2*var*2^20 exceeds int64 once a type's daily-count stddev passes
    # ~7e3 at m~400 days — real at 100 TB — and Spark's non-ANSI int64
    # would wrap silently where DuckDB raises (r8 ADVICE). 38 digits
    # give headroom to ~1e16 stddev; the quotient itself is <= 2^20 by
    # the case guard, so `div`'s bigint result is exact.
    pvals = daily.join(stats, "event_type").withColumn(
        "p_q",
        F.expr(
            "case when (cast(m as decimal(38,0)) * x - s1)"
            " * (cast(m as decimal(38,0)) * x - s1)"
            " <= cast(m as decimal(38,0)) * s2"
            " - cast(s1 as decimal(38,0)) * s1"
            " then cast(1048576 as bigint)"
            " else (cast(m as decimal(38,0)) * s2"
            " - cast(s1 as decimal(38,0)) * s1) * 1048576"
            " div ((cast(m as decimal(38,0)) * x - s1)"
            " * (cast(m as decimal(38,0)) * x - s1)) end"
        ),
    )
    rk_w = W.partitionBy("event_type").orderBy("p_q", "day")
    cut_w = W.partitionBy("event_type")
    cut = pvals.withColumn("rk", F.row_number().over(rk_w)).withColumn(
        "cutoff",
        F.max(
            F.when(
                F.col("p_q") * F.col("m") * 20 <= F.col("rk") * 1048576,
                F.col("rk"),
            )
        ).over(cut_w),
    )
    return cut.groupBy("event_type").agg(
        F.first("m").cast("bigint").alias("m"),
        F.coalesce(F.first("cutoff"), F.lit(0)).cast("bigint").alias(
            "n_reject"
        ),
        F.min("p_q").cast("bigint").alias("min_p_q"),
        F.sum(
            F.when(F.col("p_q") * 20 <= 1048576, 1).otherwise(0)
        ).cast("bigint").alias("n_sig_raw"),
    )


@query(
    "dq_capture_recapture",
    oracle="""
    WITH marks AS (
      SELECT doc_id, source,
             (CAST(('0x' || substr(md5('cap1:' || CAST(doc_id AS VARCHAR)),
                                   1, 8)) AS BIGINT) % 100 < 30) AS in1,
             (CAST(('0x' || substr(md5('cap2:' || CAST(doc_id AS VARCHAR)),
                                   1, 8)) AS BIGINT) % 100 < 30) AS in2
      FROM read_parquet('{sf}/documents.parquet')
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_true,
           CAST(count(*) FILTER (WHERE in1) AS BIGINT) AS n1,
           CAST(count(*) FILTER (WHERE in2) AS BIGINT) AS n2,
           CAST(count(*) FILTER (WHERE in1 AND in2) AS BIGINT) AS m,
           CAST((count(*) FILTER (WHERE in1) + 1)
                * (count(*) FILTER (WHERE in2) + 1)
                // (count(*) FILTER (WHERE in1 AND in2) + 1) - 1
                AS BIGINT) AS est_chapman
    FROM marks GROUP BY source
    """,
    tags=("quality", "capture-recapture", "completeness"),
)
def dq_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture population estimate (Lincoln-Petersen with the
    Chapman 1951 small-sample correction) per source — the ecology
    estimator data-quality teams reuse to answer 'how many records does
    this feed REALLY have?' when no census is possible: two independent
    'captures' (here: two decorrelated 30% hash samples, seeds cap1/
    cap2 — in production, two independent crawlers or dedup passes)
    estimate N = (n1+1)(n2+1)/(m+1) - 1 from their overlap m; the true
    per-source count rides along as the audit ground truth, which the
    test uses to pin the estimator's relative error. Chapman's +1
    staging keeps the whole estimate one EXACT truncating division of
    positive integers — no smoothing heuristics, no division-by-zero
    guard needed (m=0 is well-defined). Plan: a single narrow map
    (two md5 gates) + ONE map-side-combinable groupBy(source) — the
    cheapest possible audit at 100 TB, and the two captures replay
    identically on re-run like the whole hash-sampling family. The 30%
    gate is the SHARED capture_gate (operators/quality.py) — one
    definition with the streaming monitor's capture legs
    (streaming/capture_recapture.py) so batch and stream can't drift."""
    from ..operators.quality import capture_gate

    def gate(seed: str):
        return capture_gate(F.col("doc_id"), seed)

    docs = load_table(spark, sf_dir, "documents").select(
        "source", gate("cap1").alias("in1"), gate("cap2").alias("in2")
    )
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true"),
        F.sum(F.col("in1").cast("int")).cast("bigint").alias("n1"),
        F.sum(F.col("in2").cast("int")).cast("bigint").alias("n2"),
        F.sum((F.col("in1") & F.col("in2")).cast("int"))
        .cast("bigint")
        .alias("m"),
        F.expr(
            "cast((sum(cast(in1 as int)) + 1) * (sum(cast(in2 as int)) + 1)"
            " div (sum(cast(in1 and in2 as int)) + 1) - 1 as bigint)"
        ).alias("est_chapman"),
    )


@query(
    "dq_page_hinkley",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x
      FROM read_parquet('{sf}/events.parquet')
      GROUP BY 1, 2
    ), seq AS (
      SELECT event_type, day, x,
             CAST(row_number() OVER w AS BIGINT) AS i,
             CAST(sum(x) OVER w AS BIGINT) AS s
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ), dev AS (
      SELECT event_type, day, i,
             CAST(CASE WHEN x * i - s >= 0
                  THEN ((x * i - s) * 1048576) // i
                  ELSE -(((s - x * i) * 1048576) // i)
             END AS BIGINT) AS d_q
      FROM seq
    ), walk AS (
      SELECT event_type, day,
             CAST(sum(d_q - 524288)
                  OVER (PARTITION BY event_type ORDER BY day)
                  AS BIGINT) AS m
      FROM dev
    ), ph AS (
      SELECT event_type, day,
             m - CAST(least(0, min(m) OVER (PARTITION BY event_type
                                            ORDER BY day))
                      AS BIGINT) AS ph_q
      FROM walk
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(max(ph_q) AS BIGINT) AS max_ph_q,
           CAST(count(*) FILTER (WHERE ph_q > 20971520) AS BIGINT)
             AS n_alarm_days,
           min(CASE WHEN ph_q > 20971520 THEN day END) AS first_alarm_day
    FROM ph GROUP BY event_type
    """,
    tags=("quality", "drift", "page-hinkley", "anomaly"),
)
def dq_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley upward-drift detector (Page, Biometrika 1954;
    the streaming-drift form in Gama et al., "A survey on concept
    drift adaptation", CSUR 2014) per event type — the sequential test
    that fires on a SUSTAINED rise of a daily metric above its own
    RUNNING mean, where dq_cusum_shift tests against one fixed global
    reference: PH adapts its baseline as it walks, so a slow ramp that
    drags the mean up still alarms while a permanently-higher-but-
    stable series re-anchors and goes quiet. Exact integer staging:
    the deviation x_i - mean_i rides the 2^20 grid as
    ((x*i - S_i)*2^20) div i with the sign-split truncating division
    (int64 headroom to ~1e9 events/type/day at a year of days), the
    walk m_t = sum(d_q - delta_q) and the readout
    PH_t = m_t - min(0, min_{j<=t} m_j) are exact cumulative windows
    (the explicit 0 term is the m_0 = 0 anchor), delta_q = 2^19 (half
    an event of daily tolerance) and lambda_q = 20*2^20 (20 events of
    cumulative excess) are documented grid constants. Plan: ONE daily
    groupBy [map-side combinable] then four windows ALL partitioned by
    event_type on the calendar-bounded daily frame, final per-type
    collapse exchange-free on the window partitioning."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    wseq = W.partitionBy("event_type").orderBy("day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    seq = daily.select(
        "event_type",
        "day",
        "x",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("day"))
        .cast("bigint")
        .alias("i"),
        F.sum("x").over(wseq).cast("bigint").alias("s"),
    )
    dev = seq.select(
        "event_type",
        "day",
        F.expr(
            "cast(case when x * i - s >= 0"
            " then ((x * i - s) * 1048576) div i"
            " else -(((s - x * i) * 1048576) div i) end as bigint)"
        ).alias("d_q"),
    )
    walk = dev.select(
        "event_type",
        "day",
        F.sum(F.col("d_q") - F.lit(524288))
        .over(wseq)
        .cast("bigint")
        .alias("m"),
    )
    ph = walk.select(
        "event_type",
        "day",
        (
            F.col("m")
            - F.least(F.lit(0).cast("bigint"), F.min("m").over(wseq))
        ).alias("ph_q"),
    )
    return ph.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.max("ph_q").cast("bigint").alias("max_ph_q"),
        F.sum((F.col("ph_q") > F.lit(20971520)).cast("int"))
        .cast("bigint")
        .alias("n_alarm_days"),
        F.min(
            F.when(F.col("ph_q") > F.lit(20971520), F.col("day"))
        ).alias("first_alarm_day"),
    )


@query(
    "dq_wasserstein_drift",
    oracle="""
    WITH ev AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS cents,
             epoch_us(ts) AS us
      FROM read_parquet('{sf}/events.parquet')
      WHERE value IS NOT NULL
    ), bounds AS (
      SELECT (min(us) + max(us)) // 2 AS mid FROM ev
    ), hist AS (
      SELECT event_type, cents,
             CAST(sum(CASE WHEN us <= bounds.mid THEN 1 ELSE 0 END)
                  AS BIGINT) AS c1,
             CAST(sum(CASE WHEN us > bounds.mid THEN 1 ELSE 0 END)
                  AS BIGINT) AS c2
      FROM ev, bounds GROUP BY event_type, cents
    ), tot AS (
      SELECT event_type,
             CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(c2) AS BIGINT) AS n2
      FROM hist GROUP BY event_type
    ), steps AS (
      SELECT h.event_type,
             CAST(sum(h.c1) OVER w AS BIGINT) AS cum1,
             CAST(sum(h.c2) OVER w AS BIGINT) AS cum2,
             lead(h.cents) OVER w - h.cents AS gap,
             t.n1, t.n2
      FROM hist h JOIN tot t ON t.event_type = h.event_type
      WINDOW w AS (PARTITION BY h.event_type ORDER BY h.cents)
    ), num AS (
      SELECT event_type, n1, n2,
             sum(CAST(abs(CAST(cum1 AS HUGEINT) * n2
                          - CAST(cum2 AS HUGEINT) * n1) AS HUGEINT)
                 * gap) AS w1_num
      FROM steps WHERE gap IS NOT NULL
      GROUP BY event_type, n1, n2
    )
    SELECT event_type, n1, n2,
           CAST(coalesce(w1_num, 0) * 1000000
                // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS w1_e6
    FROM num WHERE n1 > 0 AND n2 > 0
    """,
    tags=("quality", "drift", "wasserstein", "emd"),
)
def dq_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type 1-D Wasserstein-1 (earth-mover) distance between the
    early-half and late-half value distributions — the drift metric
    that, unlike dq_psi_drift's binned likelihood ratio and
    dq_ks_two_sample's max-gap, weighs HOW FAR the mass moved in
    value units (Ramdas et al., Entropy 2017: for 1-D distributions
    W1 = integral |F1 - F2|), so a 1-cent systematic shift and a
    fat-tail blowout are distinguishable. Discrete exact form on the
    per-type value histogram: W1 = sum_i |F1(v_i) - F2(v_i)| *
    (v_{i+1} - v_i), staged as the exact integer sum of
    |cum1*n2 - cum2*n1| * gap on HUGEINT/decimal(38,0) (cum*n passes
    int64 only to n1*n2 ~ 9e18 — real at 100 TB), divided once at the
    end: w1_e6 = (num * 1e6) div (n1*n2), i.e. W1 in cents on the e6
    grid. The early/late split point is the corpus time midpoint (one
    scalar subquery — deterministic, no sampling). Plan: one
    map-side-combinable groupBy(type, cents), per-type cumsum windows
    on the VALUE-DOMAIN histogram (partitioned by type — bounded,
    never corpus-sized), one k-row reduction. The readout is the
    SHARED operators/quality.py::w1_readout — one definition with the
    streaming monitor (streaming/wasserstein.py), whose frozen-
    reference-vs-drained-live form is the production shape: the
    midpoint split here is the batch emulation of 'the reference
    window vs everything since'."""
    from ..operators.quality import w1_readout

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
            F.unix_micros("ts").alias("us"),
        )
    )
    mid = ev.agg(F.expr("(min(us) + max(us)) div 2")).scalar()
    hist = (
        ev.withColumn("mid", mid)
        .groupBy("event_type", "cents")
        .agg(
            F.sum(F.when(F.col("us") <= F.col("mid"), 1).otherwise(0))
            .cast("bigint")
            .alias("c1"),
            F.sum(F.when(F.col("us") > F.col("mid"), 1).otherwise(0))
            .cast("bigint")
            .alias("c2"),
        )
    )
    return w1_readout(hist)


@query(
    "dq_cramers_v",
    oracle="""
    WITH ev AS (
      SELECT event_type,
             CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                  % 7 AS BIGINT) AS dow
      FROM read_parquet('{sf}/events.parquet')
    ), cells AS (
      SELECT event_type, dow, CAST(count(*) AS BIGINT) AS o
      FROM ev GROUP BY event_type, dow
    ), grid AS (
      SELECT t.event_type, d.dow, coalesce(c.o, 0) AS o
      FROM (SELECT DISTINCT event_type FROM cells) t
      CROSS JOIN (SELECT DISTINCT dow FROM cells) d
      LEFT JOIN cells c
        ON c.event_type = t.event_type AND c.dow = d.dow
    ), rowt AS (
      SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM grid GROUP BY 1
    ), colt AS (
      SELECT dow, CAST(sum(o) AS BIGINT) AS c FROM grid GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(o) AS BIGINT) AS n,
             CAST(count(DISTINCT event_type) AS BIGINT) AS k_r,
             CAST(count(DISTINCT dow) AS BIGINT) AS k_c
      FROM grid
    ), terms AS (
      SELECT (CAST(g.o AS HUGEINT) * tot.n - CAST(rowt.r AS HUGEINT)
              * colt.c) AS dev,
             CAST(rowt.r AS HUGEINT) * colt.c AS rc
      FROM grid g
      JOIN rowt ON rowt.event_type = g.event_type
      JOIN colt ON colt.dow = g.dow
      CROSS JOIN tot
    ), chi AS (
      SELECT CAST(sum(dev * dev * 1000000 // rc) AS HUGEINT) AS s_q
      FROM terms WHERE rc > 0
    )
    SELECT tot.n, tot.k_r, tot.k_c,
           CAST(chi.s_q // CAST(tot.n AS HUGEINT)
                AS BIGINT) AS chi2_e6,
           CASE WHEN tot.n > 0 AND least(tot.k_r, tot.k_c) > 1 THEN
           sqrt(CAST(chi.s_q // CAST(tot.n AS HUGEINT)
                     AS DOUBLE) / 1000000.0
                / CAST(tot.n * (least(tot.k_r, tot.k_c) - 1)
                       AS DOUBLE))
           ELSE NULL END AS cramers_v
    FROM tot, chi
    """,
    tags=("quality", "association", "cramers-v", "chi-square"),
)
def dq_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association between event type and weekday — the
    0..1-normalized effect size the raw chi-square (dq_mix_drift_chi2
    readout family) can't give across tables of different size: V =
    sqrt(chi2 / (N * (min(r,c)-1))) (Cramér 1946), so 'is the weekly
    mix shape type-dependent, and HOW MUCH' is one number comparable
    across feeds. Exact integer staging end-to-end: the full r x c
    grid INCLUDING empty cells (expected counts are positive wherever
    the margins are — dropping absent cells understates chi2), dev =
    O*N - r*c and dev^2*1e6 div (r*c) per cell on
    HUGEINT/decimal(38,0) (dev^2 ~ N^4 passes int64 only to N~5e4),
    chi2_e6 = sum div N ((O-E)^2/E = dev^2/(N*rc), so chi2 =
    (1/N) * sum dev^2/rc); V mirrors ONE IEEE sqrt over the staged
    integer. Weekday is epoch-day mod 7 (the ev_stl trick — native
    dayofweek disagrees on week origin across engines). Plan: one
    map-side-combinable groupBy onto a 35-cell grid; everything after
    is broadcast arithmetic on margin frames. Cell merge + readout are
    the SHARED operators/quality.py ct_merge/cramers_v_readout — one
    definition with the streaming monitor (streaming/cramers_v.py),
    whose additive cell-counter state drains to this same readout."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "cast(datediff(cast(ts as date), date '1970-01-01') % 7"
            " as bigint)"
        ).alias("dow"),
    )
    from ..operators.quality import ct_merge, cramers_v_readout

    return cramers_v_readout(ct_merge(ev, None))


@query(
    "dq_ljung_box",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
      FROM read_parquet('{sf}/events.parquet')
      WHERE ts IS NOT NULL
      GROUP BY day
    ), d AS (
      SELECT day,
             CAST(count(*) OVER () AS BIGINT) AS n,
             CAST(CAST(count(*) OVER () AS BIGINT) * x
                  - CAST(sum(x) OVER () AS BIGINT) AS BIGINT) AS dd
      FROM daily
    ), ld AS (
      SELECT n, dd,
             lead(dd, 1) OVER (ORDER BY day) AS l1,
             lead(dd, 2) OVER (ORDER BY day) AS l2,
             lead(dd, 3) OVER (ORDER BY day) AS l3,
             lead(dd, 4) OVER (ORDER BY day) AS l4,
             lead(dd, 5) OVER (ORDER BY day) AS l5,
             lead(dd, 6) OVER (ORDER BY day) AS l6,
             lead(dd, 7) OVER (ORDER BY day) AS l7
      FROM d
    ), agg AS (
      SELECT CAST(max(n) AS BIGINT) AS n,
             sum(CAST(dd AS HUGEINT) * dd) AS den_q,
             sum(CAST(dd AS HUGEINT) * l1) AS m1,
             sum(CAST(dd AS HUGEINT) * l2) AS m2,
             sum(CAST(dd AS HUGEINT) * l3) AS m3,
             sum(CAST(dd AS HUGEINT) * l4) AS m4,
             sum(CAST(dd AS HUGEINT) * l5) AS m5,
             sum(CAST(dd AS HUGEINT) * l6) AS m6,
             sum(CAST(dd AS HUGEINT) * l7) AS m7
      FROM ld
    ), lr AS (
      SELECT n, den_q, 1 AS lag_k, m1 AS num FROM agg
      UNION ALL SELECT n, den_q, 2, m2 FROM agg
      UNION ALL SELECT n, den_q, 3, m3 FROM agg
      UNION ALL SELECT n, den_q, 4, m4 FROM agg
      UNION ALL SELECT n, den_q, 5, m5 FROM agg
      UNION ALL SELECT n, den_q, 6, m6 FROM agg
      UNION ALL SELECT n, den_q, 7, m7 FROM agg
    ), base AS (
      SELECT CAST(lag_k AS BIGINT) AS lag_k, n,
             CASE WHEN den_q > 0 THEN
               CAST(num AS DOUBLE) / CAST(den_q AS DOUBLE)
             ELSE NULL END AS r_k
      FROM lr
      WHERE lag_k < n
    )
    SELECT lag_k, n, r_k,
           (CAST(n AS DOUBLE) * (n + 2))
             * sum(r_k * r_k / (n - lag_k))
               OVER (ORDER BY lag_k
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS q_cum
    FROM base
    """,
    tags=("quality", "ljung-box", "autocorrelation", "drift"),
)
def dq_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau whiteness test (Ljung & Box, Biometrika
    1978) on the daily event-volume series at lags 1..7 — the
    is-there-ANY-serial-structure gate that complements the
    POINT-anomaly monitors (dq_volume_anomaly z-scores a single day,
    dq_cusum_shift finds one level shift, dq_weekday_seasonal_anomaly
    assumes the weekly period): autocorrelated residuals mean the
    volume model is wrong at SOME lag, and Q accumulates all seven.
    Exactness: with x_t integer daily counts, mean-centering rides the
    n-scaled grid d_t = n*x_t - S (exact int64 — a 10-year calendar
    times 1e12 daily rows stays under 4e15), so the lag-k
    autocorrelation r_k = sum_t d_t d_{t+k} / sum_t d_t^2 has EXACT
    integer numerator and denominator (HUGEINT/decimal(38,0) — d^2
    sums pass int64 only to d~3e9); r_k and the running
    Q_k = n(n+2) * sum_{j<=k} r_j^2/(n-j) are mirrored IEEE
    expressions of those exact integers, accumulated in lag order on
    both engines. The series is the OBSERVED-day sequence ordered by
    day (at warehouse scale the daily frame is dense; a gap would
    shift higher lags, the standard missing-data caveat). Degenerate
    guard: a constant series (den = 0) reads NULL r_k/q_cum, and lags
    >= n drop out. Plan: ONE corpus scan, ONE map-side-combinable
    groupBy(day) — the ONLY corpus-sized stage — then n and S ride
    whole-frame window aggregates ON the calendar-bounded daily frame
    (<= 3650 rows at 10 years) instead of separate aggregation
    branches (the naive stats/den/nums-branch form re-planned the
    daily subtree per branch and executed SEVEN corpus scans in the
    AQE plan — measured before this shape shipped); the 7 leads and
    the 1-row reduction share that same single-partition pass, the
    KS/MW bounded-window justification. Counter merge + readout are
    the SHARED operators/quality.py lb_daily_merge/lb_readout — one
    definition with the streaming monitor (streaming/ljung_box.py),
    whose additive calendar-bounded state drains to this same
    readout: serial structure is precisely the alarm worth firing
    WHILE ingest runs."""
    from ..operators.quality import lb_daily_merge, lb_readout

    obs = (
        load_table(spark, sf_dir, "events")
        # NULL ts would inject a NULL day whose ORDER BY position
        # differs across engines (Spark NULLS FIRST, DuckDB NULLS
        # LAST) and silently re-pair every lag — drop it before the
        # ordered fold, mirrored in the oracle's WHERE
        .filter(F.col("ts").isNotNull())
        .select(F.col("ts").cast("date").alias("day"))
    )
    return lb_readout(lb_daily_merge(obs, None))


@query(
    "dq_cochran_armitage",
    oracle="""
    WITH dosed AS (
      SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS dose,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS hit
      FROM read_parquet('{sf}/orders.parquet')
      WHERE substr(o_orderpriority, 1, 1) BETWEEN '1' AND '5'
    ), g AS (
      SELECT dose, CAST(count(*) AS BIGINT) AS n_i,
             CAST(sum(hit) AS BIGINT) AS r_i
      FROM dosed GROUP BY dose
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(n_i) AS BIGINT) AS n,
             CAST(sum(r_i) AS BIGINT) AS r,
             CAST(sum(dose * n_i) AS BIGINT) AS sum_sn,
             CAST(sum(dose * dose * n_i) AS BIGINT) AS sum_s2n,
             CAST(sum(dose * r_i) AS BIGINT) AS sum_sr
      FROM g
    )
    SELECT k, n, r, sum_sn, sum_s2n, sum_sr,
      CASE WHEN r > 0 AND r < n
             AND (CAST(n AS DOUBLE) * sum_s2n
                  - CAST(sum_sn AS DOUBLE) * sum_sn) > 0 THEN
        (CAST(n AS DOUBLE)
         * ((CAST(n AS DOUBLE) * sum_sr
             - CAST(r AS DOUBLE) * sum_sn)
            * (CAST(n AS DOUBLE) * sum_sr
               - CAST(r AS DOUBLE) * sum_sn)))
        / ((CAST(r AS DOUBLE) * (n - r))
           * (CAST(n AS DOUBLE) * sum_s2n
              - CAST(sum_sn AS DOUBLE) * sum_sn))
      ELSE NULL END AS z2_trend
    FROM m
    """,
    tags=("quality", "cochran-armitage", "trend-test", "inference"),
)
def dq_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend-in-proportions test (Cochran 1954,
    Armitage 1955) across the five ORDERED order-priority doses
    (scores s_i = 1-URGENT .. 5-LOW) against the fulfilled-rate
    outcome (o_orderstatus = 'F') — the monotone-alternative drill
    the omnibus chi-square family (dq_mix_drift_chi2, dq_cramers_v)
    cannot express: an independence chi-square spends k-1 df noticing
    ANY deviation, while the 1-df trend statistic
    Z^2 = N (N*sum s_i r_i - R*sum s_i n_i)^2
          / (R (N-R) (N*sum s_i^2 n_i - (sum s_i n_i)^2))
    asks specifically does-fulfilment-rate-RISE-with-priority, the
    shape a priority-aware scheduler should produce and a data-quality
    audit should verify. Exactness: the six sufficient statistics
    (k, N, R, sum s n, sum s^2 n, sum s r) are exact int64 off a
    5-row group frame (score products bounded by 25N); Z^2 is ONE
    mirrored IEEE expression of those exact integers — the staged
    cross-products pass int64 only to N~6e8 and decimal(38,0) only to
    N~3e12 once squared, so at 100 TB the double-precision readout
    (relative error 1e-16 on a test statistic) is the correct trade,
    the graph_degree_assortativity contract. Degenerate guard:
    all-hit, no-hit, or single-dose inputs (score variance 0) read
    NULL, never Inf/NaN. Plan: ONE map-side-combinable
    groupBy(dose) onto 5 cells over a 2-column projected scan, then
    5-row arithmetic — the cheapest inference query in the registry
    after ev_srm_check."""
    dosed = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.substring("o_orderpriority", 1, 1).alias("d1"),
            F.when(F.col("o_orderstatus") == "F", 1)
            .otherwise(0)
            .alias("hit"),
        )
        .filter(F.col("d1").between("1", "5"))
        .select(
            F.col("d1").cast("bigint").alias("dose"), "hit"
        )
    )
    g = dosed.groupBy("dose").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.sum("hit").cast("bigint").alias("r_i"),
    )
    m = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_i").cast("bigint").alias("n"),
        F.sum("r_i").cast("bigint").alias("r"),
        F.sum(F.col("dose") * F.col("n_i"))
        .cast("bigint")
        .alias("sum_sn"),
        F.sum(F.col("dose") * F.col("dose") * F.col("n_i"))
        .cast("bigint")
        .alias("sum_s2n"),
        F.sum(F.col("dose") * F.col("r_i"))
        .cast("bigint")
        .alias("sum_sr"),
    )
    return m.select(
        "k",
        "n",
        "r",
        "sum_sn",
        "sum_s2n",
        "sum_sr",
        F.expr(
            "case when r > 0 and r < n"
            " and (cast(n as double) * sum_s2n"
            "      - cast(sum_sn as double) * sum_sn) > 0 then"
            " (cast(n as double)"
            "  * ((cast(n as double) * sum_sr"
            "      - cast(r as double) * sum_sn)"
            "     * (cast(n as double) * sum_sr"
            "        - cast(r as double) * sum_sn)))"
            " / ((cast(r as double) * (n - r))"
            "    * (cast(n as double) * sum_s2n"
            "       - cast(sum_sn as double) * sum_sn))"
            " else null end"
        ).alias("z2_trend"),
    )
