"""Declarative data-quality rule compiler (SURVEY §7.2 step 7 — the
reference's most distinctive capability).

The reference declares its quality corpus in YAML
(.github/workflows/data-quality.yml:50-324: ranges, regex/enum formats,
not-null, cross-field rules, anomaly windows, referential integrity,
completeness, freshness) and executes each rule as SQL. Here each rule
compiles to a Column aggregate; all rules on the same table fuse into ONE
scan of that table (a single agg projecting one violation-counter per
rule), then the per-table results unpivot into (rule_name, violation_count)
rows. At 100 TB that's one pass per table instead of one query per rule —
the difference between 10 scans and 300.

RI rules need a join and are computed per-rule (anti-join counts).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def capture_gate(id_col: Column, seed: str) -> Column:
    """The capture-recapture family's deterministic capture gate: a
    seeded md5 hash admits 30% of ids, replay-identically on
    re-run. ONE definition shared by the batch query
    (dq_capture_recapture) and the streaming monitor
    (streaming/capture_recapture.py) so the two capture samples can
    never drift apart — the wres_state single-definition pattern.
    DuckDB twin: (CAST('0x' || substr(md5('<seed>:' || CAST(id AS
    VARCHAR)), 1, 8) AS BIGINT) % 100 < 30)."""
    from .dedup import hash32

    return (
        hash32(F.concat(F.lit(f"{seed}:"), id_col.cast("string"))) % 100 < 30
    )


@dataclass(frozen=True)
class Rule:
    """One declarative check. `kind` ∈ range|not_null|regex|enum|cross|
    unique|freshness|completeness|ri."""

    name: str
    table: str
    kind: str
    params: dict = field(default_factory=dict)


def _violation_expr(rule: Rule) -> Column:
    """Compile a single-table rule to a violation-count aggregate."""
    p = rule.params
    if rule.kind == "range":
        c = F.col(p["column"])
        return F.count(F.when(~c.between(p["min"], p["max"]), 1))
    if rule.kind == "not_null":
        return F.count(F.when(F.col(p["column"]).isNull(), 1))
    if rule.kind == "regex":
        c = F.col(p["column"])
        return F.count(F.when(~c.rlike(p["pattern"]) | c.isNull(), 1))
    if rule.kind == "enum":
        c = F.col(p["column"])
        return F.count(F.when(~c.isin(*p["values"]) | c.isNull(), 1))
    if rule.kind == "cross":
        # violation predicate given directly as a SQL expression string
        return F.count(F.when(F.expr(p["violation"]), 1))
    if rule.kind == "freshness":
        c = F.col(p["column"])
        return F.count(F.when(c > F.lit(p["max_value"]), 1))
    if rule.kind == "completeness":
        # violations = rows missing the column beyond the allowed ratio →
        # emit the shortfall in rows (0 if ratio satisfied)
        c = F.col(p["column"])
        need = F.ceil(F.count(F.lit(1)) * F.lit(float(p["min_ratio"])))
        return F.greatest(F.lit(0).cast("long"), (need - F.count(c)).cast("long"))
    raise ValueError(f"unsupported rule kind: {rule.kind}")


def run_rules(
    spark: SparkSession, rules: list[Rule], tables: dict[str, DataFrame]
) -> DataFrame:
    """Execute a rule corpus → DataFrame(rule_name, violation_count).

    Single-table rules fuse into one agg per table; `unique` compiles to a
    groupBy-count; `ri` to an anti-join count.
    """
    results: list[DataFrame] = []

    by_table: dict[str, list[Rule]] = {}
    for r in rules:
        if r.kind in ("unique", "ri"):
            continue
        by_table.setdefault(r.table, []).append(r)

    for table, trules in by_table.items():
        agg = tables[table].agg(
            *[_violation_expr(r).alias(r.name) for r in trules]
        )
        stack = ", ".join(f"'{r.name}', `{r.name}`" for r in trules)
        results.append(
            agg.selectExpr(
                f"stack({len(trules)}, {stack}) AS (rule_name, violation_count)"
            )
        )

    for r in rules:
        if r.kind == "unique":
            cols = r.params["columns"]
            dup = (
                tables[r.table]
                .groupBy(*cols)
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") > 1)
                .agg(F.coalesce(F.sum(F.col("__n") - 1), F.lit(0)).alias("v"))
                .select(
                    F.lit(r.name).alias("rule_name"),
                    F.col("v").cast("long").alias("violation_count"),
                )
            )
            results.append(dup)
        elif r.kind == "ri":
            p = r.params
            orphans = (
                tables[r.table]
                .join(
                    tables[p["dim_table"]].select(
                        F.col(p["dim_key"]).alias(p["fk"])
                    ),
                    [p["fk"]],
                    "left_anti",
                )
                .agg(F.count(F.lit(1)).alias("v"))
                .select(
                    F.lit(r.name).alias("rule_name"),
                    F.col("v").cast("long").alias("violation_count"),
                )
            )
            results.append(orphans)

    out = results[0]
    for df in results[1:]:
        out = out.unionByName(df)
    return out


# Default corpus over the testdata star schema — the reference's YAML
# rulebook rephrased (ranges data-quality.yml:60-229, formats :71-74/:106-109,
# RI :246-265, completeness :288-296, freshness :232-243).
DEFAULT_RULES = [
    Rule("lineitem_quantity_range", "lineitem", "range",
         {"column": "l_quantity", "min": 1, "max": 50}),
    Rule("lineitem_discount_range", "lineitem", "range",
         {"column": "l_discount", "min": 0.0, "max": 0.1}),
    Rule("lineitem_price_positive", "lineitem", "range",
         {"column": "l_extendedprice", "min": 0.0, "max": 1e9}),
    Rule("lineitem_flag_enum", "lineitem", "enum",
         {"column": "l_returnflag", "values": ["A", "N", "R"]}),
    Rule("lineitem_shipdate_not_null", "lineitem", "not_null",
         {"column": "l_shipdate"}),
    Rule("lineitem_tax_le_discount_capped", "lineitem", "cross",
         {"violation": "l_tax > 0.08 AND l_discount > 0.1"}),
    Rule("orders_status_enum", "orders", "enum",
         {"column": "o_orderstatus", "values": ["O", "F", "P"]}),
    Rule("orders_price_range", "orders", "range",
         {"column": "o_totalprice", "min": 0.0, "max": 1e7}),
    Rule("orders_no_future_dates", "orders", "freshness",
         {"column": "o_orderdate", "max_value": "2002-01-01 00:00:00"}),
    Rule("orders_priority_format", "orders", "regex",
         {"column": "o_orderpriority", "pattern": "^[1-5]-[A-Z ]+$"}),
    Rule("customer_name_format", "customer", "regex",
         {"column": "c_name", "pattern": "^Customer#[0-9]+$"}),
    Rule("customer_acctbal_completeness", "customer", "completeness",
         {"column": "c_acctbal", "min_ratio": 0.99}),
    Rule("customer_key_unique", "customer", "unique",
         {"columns": ["c_custkey"]}),
    Rule("events_value_range", "events", "range",
         {"column": "value", "min": -1000.0, "max": 10000.0}),
    Rule("events_type_enum", "events", "enum",
         {"column": "event_type",
          "values": ["click", "view", "purchase", "signup", "error"]}),
    Rule("lineitem_orders_ri", "lineitem", "ri",
         {"fk": "l_orderkey", "dim_table": "orders", "dim_key": "o_orderkey"}),
    Rule("orders_customer_ri", "orders", "ri",
         {"fk": "o_custkey", "dim_table": "customer", "dim_key": "c_custkey"}),
    Rule("customer_nation_ri", "customer", "ri",
         {"fk": "c_nationkey", "dim_table": "nation", "dim_key": "n_nationkey"}),
]


def observed_quality_counters(
    df: DataFrame, counters: dict[str, Column]
):
    """Attach IN-FLIGHT data-quality counters to a DataFrame via
    Spark's `observe()` API: the metrics accumulate on the executors
    DURING whatever action the caller runs next (a parquet write, an
    aggregation), costing zero extra passes — the production
    alternative to running the quality suite as a second scan of
    100 TB. Returns (observed_df, observation); after an action on
    observed_df, `observation.get` yields the counter dict.

    Counters must be aggregate expressions (count/sum/min/max of
    whens) per observe()'s contract. Parity note: metrics surface
    driver-side only, so this is an ingestion/write-path concern
    verified by pytest against the same counters computed as a direct
    aggregation (tests/test_round6_ops.py) — not a driver-gate query.
    """
    from pyspark.sql import Observation

    obs = Observation()
    named = [expr.alias(name) for name, expr in counters.items()]
    return df.observe(obs, *named), obs


def add_counts(state: DataFrame, prev: DataFrame | None, *keys: str) -> DataFrame:
    """One additive monitor step: this batch's counters `state` added
    onto the persisted state `prev` per `keys`, every other column
    summed as bigint (the first batch's state is its own counters).

    Exact under any micro-batch split: the counters are int64 sums, and
    integer addition is commutative and associative, so every
    partitioning of the stream into batches reaches the bit-identical
    state the batch query computes in one aggregation."""
    if prev is None:
        return state
    return (
        state.unionByName(prev)
        .groupBy(*keys)
        .agg(
            *(
                F.sum(c).cast("bigint").alias(c)
                for c in state.columns
                if c not in keys
            )
        )
    )


def anova_moments_merge(obs: DataFrame, prev: DataFrame | None) -> DataFrame:
    """One additive step of the ANOVA moment state: per-group exact
    int64 (n, s1, s2) summed onto the persisted state (add_counts).
    Input rows are observations (group string, x bigint)."""
    b = obs.groupBy("group").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("s2"),
    )
    return add_counts(b, prev, "group")


def anova_f_readout(grp: DataFrame) -> DataFrame:
    """One-way ANOVA F readout over the per-group moment state (group,
    n, s1, s2): A = sum_g s1_g^2/n_g on the e3 grid (one truncating
    decimal(38,0) division per group), SSB = A - S1^2/N, SSW = S2*1e3
    - A, F as the mirrored IEEE expression of exact integers — the
    ev_anova_f arithmetic, shared so the batch query and the streaming
    monitor are one definition."""
    agg = grp.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n"),
        F.sum("s1").cast("bigint").alias("s1"),
        F.sum("s2").cast("bigint").alias("s2"),
        F.sum(
            F.expr("(cast(s1 as decimal(38,0)) * s1 * 1000) div n")
        ).cast("bigint").alias("a_q"),
    )
    return agg.select(
        "k",
        "n",
        F.expr(
            "cast(a_q - (cast(s1 as decimal(38,0)) * s1 * 1000) div n"
            " as bigint)"
        ).alias("ssb_q"),
        F.expr(
            "cast(cast(s2 as decimal(38,0)) * 1000 - a_q as bigint)"
        ).alias("ssw_q"),
        F.expr(
            "(cast(a_q - (cast(s1 as decimal(38,0)) * s1 * 1000) div n"
            " as double) / (k - 1))"
            " / (cast(cast(s2 as decimal(38,0)) * 1000 - a_q as double)"
            " / (n - k))"
        ).alias("f_stat"),
    )


def welch_readout(
    grp: DataFrame, group_a: str, group_b: str
) -> DataFrame:
    """Welch's unequal-variance two-sample t readout over the SAME
    per-group moment state (group, n, s1, s2) that anova_f_readout
    drains — one state, two readouts (the na_curve/KM and W1/PSI
    pattern), so the streaming ANOVA monitor's additive moments can
    serve a pairwise Welch drill without new state. The centered sum
    of squares nss_g = n_g*s2_g - s1_g^2 stages EXACTLY on
    decimal(38,0)/HUGEINT (n*s2 passes int64 only to ~1e18 — a
    100-TB arm's cents-squared sum alone reaches ~1e17); every
    downstream quantity — se2_g = nss_g/(n_g^2 (n_g-1)), the t
    statistic, and the Welch–Satterthwaite df
    (se2_a+se2_b)^2 / (se2_a^2/(n_a-1) + se2_b^2/(n_b-1)) — is ONE
    mirrored IEEE expression of those exact integers, identical
    token-for-token on Spark and the DuckDB twin. Degenerate guards
    (the r10 NULL-not-Inf contract): an arm with n < 2 or a zero
    pooled standard error reads NULL t and df, never Inf/NaN."""
    p = grp.agg(
        *[
            F.sum(
                F.when(F.col("group") == g, F.col(c)).otherwise(0)
            )
            .cast("bigint")
            .alias(f"{c}_{tag}")
            for tag, g in (("a", group_a), ("b", group_b))
            for c in ("n", "s1", "s2")
        ]
    )
    nss = (
        "(cast(n_{t} as decimal(38,0)) * s2_{t}"
        " - cast(s1_{t} as decimal(38,0)) * s1_{t})"
    )
    se2 = (
        f"(cast({nss} as double)"
        " / (cast(n_{t} as double) * n_{t} * (n_{t} - 1)))"
    )
    se2_a, se2_b = se2.format(t="a"), se2.format(t="b")
    guard = (
        "n_a >= 2 and n_b >= 2"
        f" and ({nss.format(t='a')} > 0 or {nss.format(t='b')} > 0)"
    )
    t_expr = (
        "(cast(s1_a as double) / n_a - cast(s1_b as double) / n_b)"
        f" / sqrt({se2_a} + {se2_b})"
    )
    df_expr = (
        f"(({se2_a} + {se2_b}) * ({se2_a} + {se2_b}))"
        f" / ({se2_a} * {se2_a} / (n_a - 1)"
        f" + {se2_b} * {se2_b} / (n_b - 1))"
    )
    return p.select(
        "n_a",
        "n_b",
        F.expr(
            "case when n_a > 0 then cast(s1_a as double) / n_a"
            " else null end"
        ).alias("mean_a_cents"),
        F.expr(
            "case when n_b > 0 then cast(s1_b as double) / n_b"
            " else null end"
        ).alias("mean_b_cents"),
        F.expr(
            f"case when {guard} then {t_expr} else null end"
        ).alias("t_welch"),
        F.expr(
            f"case when {guard} then {df_expr} else null end"
        ).alias("df_welch"),
    )


def lb_daily_merge(obs: DataFrame, prev: DataFrame | None) -> DataFrame:
    """One additive step of the daily-volume state: exact int64 event
    counts per day summed onto the persisted state — calendar-bounded
    (<= 3650 rows at 10 years). Input rows are observations (day
    date)."""
    b = obs.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    return add_counts(b, prev, "day")


def lb_readout(daily: DataFrame) -> DataFrame:
    """Ljung-Box readout at lags 1..7 over the daily-volume state (day, x): n and
    S ride whole-frame window aggregates on the calendar-bounded
    frame, mean-centering on the n-scaled integer grid d_t = n*x_t -
    S (exact int64), lag-k autocorrelation numerators and the
    deviation-mass denominator staged exactly on decimal(38,0), and
    r_k plus the running Q_k = n(n+2) * sum_{j<=k} r_j^2/(n-j) as
    mirrored IEEE expressions accumulated in lag order — the
    dq_ljung_box arithmetic, shared so the batch query and the
    streaming monitor are one definition. A constant series (den = 0)
    reads NULL r_k/q_cum; lags >= n drop out."""
    lags = range(1, 8)
    wg = W.partitionBy()
    d = daily.select(
        "day",
        F.count(F.lit(1)).over(wg).cast("bigint").alias("n"),
        (
            F.count(F.lit(1)).over(wg).cast("bigint") * F.col("x")
            - F.sum("x").over(wg).cast("bigint")
        )
        .cast("bigint")
        .alias("dd"),
    )
    w = W.orderBy("day")
    ld = d.select(
        "n",
        "dd",
        *[
            F.lead("dd", k).over(w).alias(f"l{k}")
            for k in lags
        ],
    )
    agg = ld.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum(F.expr("cast(dd as decimal(38,0)) * dd")).alias("den_q"),
        *[
            F.sum(F.expr(f"cast(dd as decimal(38,0)) * l{k}")).alias(
                f"m{k}"
            )
            for k in lags
        ],
    )
    stack_args = ", ".join(
        f"{k}, m{k}" for k in lags
    )
    stacked = agg.selectExpr(
        "n",
        "den_q",
        f"stack(7, {stack_args}) as (lag_k, num)",
    )
    base = stacked.filter(F.col("lag_k") < F.col("n")).select(
        F.col("lag_k").cast("bigint").alias("lag_k"),
        "n",
        F.expr(
            "case when den_q > 0 then"
            " cast(num as double) / cast(den_q as double)"
            " else null end"
        ).alias("r_k"),
    )
    wc = W.orderBy("lag_k").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return base.select(
        "lag_k",
        "n",
        "r_k",
        (
            F.expr("cast(n as double) * (n + 2)")
            * F.sum(F.expr("r_k * r_k / (n - lag_k)")).over(wc)
        ).alias("q_cum"),
    )


def ct_merge(obs: DataFrame, prev: DataFrame | None) -> DataFrame:
    """One additive step of the contingency-table state: exact int64
    cell counts per (event_type, dow) summed onto the persisted state
    — bounded by |types| x 7 cells. Input rows are observations
    (event_type string, dow bigint)."""
    b = obs.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    return add_counts(b, prev, "event_type", "dow")


def cramers_v_readout(cells: DataFrame) -> DataFrame:
    """Cramér's V readout over the contingency-cell state (event_type,
    dow, o): densify to the full r x c grid INCLUDING empty cells
    (expected counts are positive wherever the margins are), dev =
    O*N - r*c and dev^2*1e6 div (r*c) per cell staged on
    decimal(38,0), chi2_e6 = sum div N (chi2 = (1/N) * sum dev^2/rc,
    since (O-E)^2/E = dev^2/(N*rc)), V one mirrored IEEE sqrt —
    the dq_cramers_v arithmetic, shared so the batch query and the
    streaming monitor are one definition."""
    types = cells.select("event_type").distinct()
    dows = cells.select("dow").distinct()
    grid = (
        types.crossJoin(F.broadcast(dows))
        .join(cells, ["event_type", "dow"], "left")
        .select(
            "event_type", "dow", F.coalesce(F.col("o"), F.lit(0)).alias("o")
        )
    )
    rowt = grid.groupBy("event_type").agg(
        F.sum("o").cast("bigint").alias("r")
    )
    colt = grid.groupBy("dow").agg(F.sum("o").cast("bigint").alias("c"))
    tot = grid.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.countDistinct("event_type").cast("bigint").alias("k_r"),
        F.countDistinct("dow").cast("bigint").alias("k_c"),
    ).select(F.struct("*")).scalar()
    terms = (
        grid.join(F.broadcast(rowt), "event_type")
        .join(F.broadcast(colt), "dow")
        .withColumn("n", tot["n"])
        .select(
            F.expr(
                "cast(o as decimal(38,0)) * n"
                " - cast(r as decimal(38,0)) * c"
            ).alias("dev"),
            F.expr("cast(r as decimal(38,0)) * c").alias("rc"),
        )
    )
    chi = terms.filter(F.col("rc") > 0).agg(
        F.sum(F.expr("dev * dev * 1000000 div rc")).alias("s_q")
    )
    return chi.withColumn("tot", tot).select("s_q", "tot.*").select(
        "n",
        "k_r",
        "k_c",
        F.expr(
            "cast(s_q div cast(n as decimal(38,0)) as bigint)"
        ).alias("chi2_e6"),
        F.expr(
            "case when n > 0 and least(k_r, k_c) > 1 then"
            " sqrt(cast(cast(s_q div cast(n as decimal(38,0))"
            " as bigint) as double) / 1000000.0"
            " / cast(n * (least(k_r, k_c) - 1) as double))"
            " else null end"
        ).alias("cramers_v"),
    )


def vhist_merge(obs: DataFrame, prev: DataFrame | None) -> DataFrame:
    """One additive step of a per-type value-histogram state: exact
    int64 counts per (event_type, cents) summed onto the persisted
    state — the live side of the streaming Wasserstein monitor. Input
    rows are observations (event_type string, cents bigint)."""
    b = obs.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return add_counts(b, prev, "event_type", "cents")


def w1_readout(hist: DataFrame) -> DataFrame:
    """Wasserstein-1 readout over a paired per-type value histogram
    (event_type, cents, c1, c2): W1 = sum_i |F1(v_i) - F2(v_i)| *
    (v_{i+1} - v_i), staged as the exact integer sum of
    |cum1*n2 - cum2*n1| * gap on decimal(38,0), divided once at the
    end — w1_e6 is W1 in cents on the e6 grid. The
    dq_wasserstein_drift arithmetic, shared so the batch query
    (early-vs-late halves of one corpus) and the streaming monitor
    (frozen reference vs drained live histogram) are one definition.
    Windows are per-type and value-domain-sized."""
    tot = hist.groupBy("event_type").agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    w = W.partitionBy("event_type").orderBy("cents")
    wcum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    steps = hist.join(tot, "event_type").select(
        "event_type",
        "n1",
        "n2",
        F.sum("c1").over(wcum).cast("bigint").alias("cum1"),
        F.sum("c2").over(wcum).cast("bigint").alias("cum2"),
        (F.lead("cents").over(w) - F.col("cents")).alias("gap"),
    )
    num = (
        steps.filter(F.col("gap").isNotNull())
        .groupBy("event_type", "n1", "n2")
        .agg(
            F.sum(
                F.expr(
                    "abs(cast(cum1 as decimal(38,0)) * n2"
                    " - cast(cum2 as decimal(38,0)) * n1) * gap"
                )
            ).alias("w1_num")
        )
    )
    return num.filter((F.col("n1") > 0) & (F.col("n2") > 0)).select(
        "event_type",
        "n1",
        "n2",
        F.expr(
            "cast(coalesce(w1_num, 0) * 1000000"
            " div (cast(n1 as decimal(38,0)) * n2) as bigint)"
        ).alias("w1_e6"),
    )


def w1_between(ref: DataFrame, live: DataFrame) -> DataFrame:
    """W1 between a FROZEN reference histogram and a live histogram
    (both (event_type, cents, n) frames, e.g. vhist_merge states):
    full-outer align on (type, cents) with zero-fill — a value seen
    on only one side still steps that side's ECDF — then the shared
    w1_readout. Unlike the batch query, a MONITOR must never go
    silently blind (r10 review finding), so this emits a row for
    EVERY type in either histogram: one-sided types (present in only
    the reference, or — the dangerous case — a brand-new type present
    only in the live feed) read out w1_e6 = NULL, the
    drift-is-undefined-and-maximal sentinel a consumer must treat as
    an alarm, never as zero; a two-sided type whose support is a
    single shared value reads out 0 (genuinely no drift)."""
    r = ref.select(
        "event_type", "cents", F.col("n").alias("c1")
    )
    c = live.select(
        "event_type", "cents", F.col("n").alias("c2")
    )
    hist = r.join(c, ["event_type", "cents"], "full_outer").select(
        "event_type",
        "cents",
        F.coalesce(F.col("c1"), F.lit(0)).cast("bigint").alias("c1"),
        F.coalesce(F.col("c2"), F.lit(0)).cast("bigint").alias("c2"),
    )
    tot = hist.groupBy("event_type").agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    scored = w1_readout(hist).select("event_type", "w1_e6")
    return tot.join(scored, "event_type", "left").select(
        "event_type",
        "n1",
        "n2",
        F.when(
            (F.col("n1") > 0) & (F.col("n2") > 0),
            F.coalesce(F.col("w1_e6"), F.lit(0)),
        )
        .otherwise(F.lit(None))
        .cast("bigint")
        .alias("w1_e6"),
    )


def psi_between(ref: DataFrame, live: DataFrame) -> DataFrame:
    """Population-Stability-Index readout between a frozen reference
    histogram and a live histogram — a SECOND readout of the same
    vhist_merge state the streaming Wasserstein monitor drains
    (r10-verdict item 6; any frame carrying (cents, n) works, extra
    key columns are pooled away): both sides collapse to the 10 fixed
    5000-cent value bands (least(9, floor(cents/5000)) — the
    dq_psi_drift buckets on the cents grid), a 10-row spine keeps
    absent buckets present, Laplace +1 keeps them finite, shares
    quantize to e6 by integer division, the ln rides the 2^20 grid
    over already-quantized integer shares and the one
    possibly-negative division is sign-split — the dq_psi_drift
    arithmetic, shared so the batch query (first-15-observed-days vs
    rest of one corpus) and the streaming monitor (frozen
    blessed-window reference vs drained live state) are one
    definition. Emits (bucket, p_e6, q_e6, psi_term_e6); every frame
    past the two bucket pools is 10 rows."""
    spark = ref.sparkSession

    def banded(h: DataFrame, side: int) -> DataFrame:
        return h.select(
            F.least(
                F.lit(9),
                F.expr("cast(floor(cents / 5000) as bigint)"),
            ).alias("bucket"),
            F.lit(side).alias("__side"),
            "n",
        )

    # ONE tagged-union aggregation pools both sides (was: two separate
    # bucket pools + two spine joins — one exchange and one join more
    # for identical integers)
    pooled = (
        banded(ref, 0)
        .unionByName(banded(live, 1))
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("__side") == 0, F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("r"),
            F.sum(F.when(F.col("__side") == 1, F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("c"),
        )
    )
    spine = spark.range(0, 10).select(F.col("id").alias("bucket"))
    h = spine.join(pooled, "bucket", "left").select(
        "bucket",
        (F.lit(1) + F.coalesce(F.col("r"), F.lit(0)))
        .cast("bigint")
        .alias("c_ref"),
        (F.lit(1) + F.coalesce(F.col("c"), F.lit(0)))
        .cast("bigint")
        .alias("c_cur"),
    )
    # totals as a single-partition window over the 10-row spine frame —
    # spine-bounded at any corpus scale, and one job fewer than the
    # 1-row aggregate + broadcast crossJoin (the r11 eigensolve pattern)
    wall = W.partitionBy()
    terms = h.select(
        "bucket",
        "c_ref",
        "c_cur",
        F.sum("c_ref").over(wall).cast("bigint").alias("n_ref"),
        F.sum("c_cur").over(wall).cast("bigint").alias("n_cur"),
    ).select(
        "bucket",
        F.expr("cast((1000000 * c_ref) div n_ref as bigint)").alias(
            "p_e6"
        ),
        F.expr("cast((1000000 * c_cur) div n_cur as bigint)").alias(
            "q_e6"
        ),
    )
    q = terms.select(
        "bucket",
        "p_e6",
        "q_e6",
        F.expr(
            "cast(round(ln(cast(greatest(p_e6, 1) as double)"
            " / cast(greatest(q_e6, 1) as double)) * 1048576) as bigint)"
        ).alias("lnq"),
    )
    return q.select(
        "bucket",
        "p_e6",
        "q_e6",
        F.expr(
            "cast(case when (p_e6 - q_e6) * lnq >= 0"
            " then ((p_e6 - q_e6) * lnq) div 1048576"
            " else -((-((p_e6 - q_e6) * lnq)) div 1048576) end"
            " as bigint)"
        ).alias("psi_term_e6"),
    )


def kw_histogram_merge(obs: DataFrame, prev: DataFrame | None) -> DataFrame:
    """One additive step of the Kruskal-Wallis state: per (group,
    value) exact int64 counts summed onto the persisted state — the
    k-sample generalization of mw_histogram_merge's (t, t1) pair
    (which is this state pre-pivoted for k=2). State size is
    |groups| x |value domain| rows, never corpus rows. Input rows are
    observations (grp string, cents bigint)."""
    b = obs.groupBy("grp", "cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("tg")
    )
    return add_counts(b, prev, "grp", "cents")


def kw_readout(gh: DataFrame) -> DataFrame:
    """Kruskal-Wallis H readout over the (grp, cents, tg) state: the
    per-value totals t come from ONE histogram-sized re-aggregation of
    the state (so the corpus is scanned once, by the merge), doubled
    midranks 2*c_lt + t + 1 keep ties exact, per-group doubled rank
    sums are int64, H = 3*sum_g(R_x2^2/n_g)/(N(N+1)) - 3(N+1), h_adj
    divides out the tie correction — the ev_kruskal_wallis
    arithmetic, shared so the batch query and the streaming monitor
    are one definition. The one ordered window is value-domain-sized.

    Each quotient R_x2^2/n_g splits into its EXACT integer part
    (decimal(38,0) div — R_x2^2 ~ 4N^4 holds to N ~ 1e9) plus the
    remainder staged on the 2^-30 grid (rem < n_g <= N, so rem * 2^30
    fits int64): total truncation <= k * 2^-30 in s_q units, i.e.
    3k/(2^30 N(N+1)) in H. The r11 sweep's independent float-rank
    differential caught the previous UNIT-resolution truncation
    ((r_x2^2) div n_g alone, mirrored on both engines) deviating from
    textbook H at small N — the dq_cramers_v mirrored-bug class; the
    fixture tests/test_property_round11.py::
    test_kw_readout_matches_textbook_ranks now pins the grid form to
    1e-9 of scipy-convention H."""
    vh = gh.groupBy("cents").agg(F.sum("tg").cast("bigint").alias("t"))
    wlt = W.orderBy("cents").rowsBetween(W.unboundedPreceding, -1)
    ranked = vh.select(
        "cents",
        "t",
        F.coalesce(F.sum("t").over(wlt), F.lit(0))
        .cast("bigint")
        .alias("c_lt"),
    )
    per_grp = (
        gh.join(ranked, "cents")
        .groupBy("grp")
        .agg(
            F.sum("tg").cast("bigint").alias("n_g"),
            F.sum(
                F.col("tg") * (2 * F.col("c_lt") + F.col("t") + 1)
            ).cast("bigint").alias("r_x2"),
        )
    )
    agg = per_grp.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum(
            F.expr("(cast(r_x2 as decimal(38,0)) * r_x2) div n_g")
        ).alias("s_q"),
        F.sum(
            F.expr(
                "(cast((cast(r_x2 as decimal(38,0)) * r_x2) % n_g"
                " as bigint) * 1073741824) div n_g"
            )
        ).cast("bigint").alias("s_r"),
    )
    tie = vh.agg(
        F.sum(
            F.col("t") * F.col("t") * F.col("t") - F.col("t")
        ).cast("bigint").alias("tie_term")
    )
    h_stat = (
        "(cast(s_q as double) * 3.0"
        " + cast(s_r as double) * 3.0 / 1073741824.0)"
        " / cast(cast(n as decimal(38,0)) * (n + 1) as double)"
        " - 3.0 * (n + 1)"
    )
    return agg.withColumn("tie_term", tie.scalar()).select(
        "k",
        "n",
        "tie_term",
        F.expr(h_stat).alias("h_stat"),
        F.expr(
            "case when n > 1 and tie_term <"
            " cast(n as decimal(38,0)) * n * n - n then"
            f" ({h_stat})"
            " / (1.0 - cast(tie_term as double)"
            " / cast(cast(n as decimal(38,0)) * n * n - n as double))"
            " else null end"
        ).alias("h_adj"),
    )


def srm_daily_merge(obs: DataFrame, prev: DataFrame | None) -> DataFrame:
    """One additive step of the SRM guardrail state: per-day exact
    int64 arm counters (n_a, n_b) summed onto the persisted state —
    calendar-bounded, the cheapest monitor state in the family. Input
    rows are assignments (day date, in_a int)."""
    b = obs.groupBy("day").agg(
        F.sum("in_a").cast("bigint").alias("n_a"),
        (F.count(F.lit(1)) - F.sum("in_a")).cast("bigint").alias("n_b"),
    )
    return add_counts(b, prev, "day")


def srm_readout(daily: DataFrame) -> DataFrame:
    """Per-day SRM chi-square readout over the (day, n_a, n_b) state:
    chi2_e6 = ((n_a-n_b)^2 * 1e6) div (n_a+n_b) staged on
    decimal(38,0), flag at the 95% critical value as a pure integer
    compare — the ev_srm_check arithmetic, one definition with the
    streaming monitor."""
    chi2 = (
        "cast(cast(n_a - n_b as decimal(38,0)) * (n_a - n_b) * 1000000"
        " div (n_a + n_b) as bigint)"
    )
    return daily.select(
        "day",
        "n_a",
        "n_b",
        F.expr(chi2).alias("chi2_e6"),
        F.expr(f"cast({chi2} >= 3841459 as int)").alias("srm_flag"),
    )


def mw_histogram_merge(obs: DataFrame, prev: DataFrame | None) -> DataFrame:
    """One additive step of the Mann-Whitney value-domain state: per
    distinct value (cents) the exact int64 pair (t = rows at that
    value, t1 = group-1 rows at that value) summed onto the persisted
    state — |value domain| rows, never corpus rows. Input rows are
    observations (cents bigint, g1 int)."""
    b = obs.groupBy("cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("t"),
        F.sum("g1").cast("bigint").alias("t1"),
    )
    return add_counts(b, prev, "cents")


def mw_readout(hist: DataFrame) -> DataFrame:
    """Mann-Whitney U readout over the value-domain histogram state
    (cents, t, t1): doubled midranks 2*midrank = 2*c_lt + t + 1 keep
    every rank integer under ties, so R1_x2, U1_x2 = R1_x2 - n1(n1+1)
    and the tie correction sum(t^3 - t) are exact int64; z is one
    mirrored IEEE expression over the staged integers with the
    variance products on decimal(38,0) — the ev_mann_whitney
    arithmetic, shared so the batch query and the streaming monitor
    are one definition. Degenerate prefixes (one-armed, or every
    value tied -> zero variance) read out z = NULL, never Inf/NaN.
    The one ordered window is histogram-sized (value-domain-bounded),
    not corpus-sized."""
    wlt = W.orderBy("cents").rowsBetween(W.unboundedPreceding, -1)
    ranked = hist.select(
        "t",
        "t1",
        F.coalesce(F.sum("t").over(wlt), F.lit(0))
        .cast("bigint")
        .alias("c_lt"),
    )
    agg = ranked.agg(
        F.sum("t1").cast("bigint").alias("n1"),
        F.sum(F.col("t") - F.col("t1")).cast("bigint").alias("n2"),
        F.sum(
            F.col("t1") * (2 * F.col("c_lt") + F.col("t") + 1)
        ).cast("bigint").alias("r1_x2"),
        F.sum(
            F.col("t") * F.col("t") * F.col("t") - F.col("t")
        ).cast("bigint").alias("tie_term"),
    )
    return agg.select(
        "n1",
        "n2",
        F.expr("cast(r1_x2 - n1 * (n1 + 1) as bigint)").alias("u1_x2"),
        F.expr("cast(n1 * n2 as bigint)").alias("mu_x2"),
        "tie_term",
        F.expr(
            "case when cast(n1 as decimal(38,0)) * n2"
            " * ((n1 + n2) * (cast(n1 as decimal(38,0)) + n2 - 1)"
            " * (n1 + n2 + 1) - tie_term) > 0 then"
            " cast(r1_x2 - n1 * (n1 + 1) - n1 * n2 as double)"
            " / (2.0 * sqrt("
            "cast(cast(n1 as decimal(38,0)) * n2"
            " * ((n1 + n2) * (cast(n1 as decimal(38,0)) + n2 - 1)"
            " * (n1 + n2 + 1) - tie_term) as double)"
            " / cast(12 * cast(n1 + n2 as decimal(38,0))"
            " * (n1 + n2 - 1) as double)))"
            " else null end"
        ).alias("z_score"),
    )
