"""Distributed EXACT ntile — global quantile bucketing without the
single-partition global-window sort.

`ntile(n) OVER (ORDER BY value, id)` is the one analytic whose naive
plan is an instant 100 TB killer: Spark moves every row to ONE task to
sort it. The exact decomposition used here (first proven out by
w7_ntile_deciles, plans/analytics_queries.py) splits the global rank
into

    rank(row) = (# rows with a strictly smaller value)
              + (row_number among the row's value-ties, ordered by id)

The first term computes on the VALUE-AGGREGATED frame (one count per
distinct value), whose size is bounded by the value domain, not the
corpus; the second is a window partitioned by value (tie groups, never
whole-table). Cumulative offsets over the distinct-value frame are
themselves computed scalably: a cumsum window PARTITIONED by a coarse
value bucket plus an O(buckets²) broadcast self-join for bucket-level
offsets — zero unpartitioned windows anywhere (pinned in
tests/test_plans.py for every consumer).

The ntile bucket then follows from the rank in exact integer
arithmetic — the first n_total % n tiles get one extra row — matching
ANSI ntile bit-for-bit, which is what lets a DuckDB `ntile(n) OVER
(ORDER BY value, id)` serve as the oracle.

GROUPED form: pass `part_cols` and every stage keys on
(partition, value) instead of value — the result is
`ntile(n) OVER (PARTITION BY part ORDER BY value, id)`, per-group
quantile bucketing with the same no-global-sort guarantee (groups
never concentrate on one task regardless of group count or size).

Applicability: the value domain must be materially smaller than the
corpus (discrete grids — integer counts, day ages, cent amounts,
2-decimal balances). For truly continuous high-cardinality doubles the
honest scale path is approx_percentile thresholds, not exact ntile.

Skew caveat: the tie row_number window partitions by value, so ONE
value carrying a macroscopic fraction of all rows (a default/sentinel
amount) becomes a single hot window partition. The fix at that point
is not deeper rank machinery — it is recognizing the query as ntile
over a WEIGHTED value histogram: pre-aggregate to (value, count),
tile the histogram (domain-bounded by construction), and fan tile
boundaries back. Callers with sentinel-heavy metrics should take that
path; the registry's consumers (day ages, activity counts, cent sums,
unique-keyed amounts) have no such class.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def exact_ntile(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n: int,
    out_col: str,
    bucket: Column | None = None,
    broadcast_offsets: bool = True,
    part_cols: list[str] | None = None,
) -> DataFrame:
    """Append `out_col` = ntile(`n`) over (PARTITION BY part_cols
    ORDER BY value_col, id_col) to `df`, computed with the distributed
    rank decomposition above (global ntile when `part_cols` is empty).

    `id_col` must be unique per row within its partition (the
    deterministic tie-break).
    PRECONDITION: `value_col` and every `part_cols` entry must be
    NON-NULL on every row — the decomposition joins rows back to their
    value-group offsets, and a NULL key row silently drops from the
    output instead of ranking NULLS LAST like ANSI ntile. Callers with
    nullable metrics must coalesce/filter first (every registry
    consumer feeds exact non-null integers).
    `bucket` optionally overrides the coarse value-bucket expression
    used for the offset cumsum (default: value div 100 on the raw
    value) — pick ~100-10k buckets over the value domain.
    PRECONDITION: a `bucket` override must be a MONOTONE NON-DECREASING
    function of `value_col` (and of the value only — no other columns):
    the decomposition orders buckets first and values within a bucket
    second, so a non-monotone bucket expression reorders the global rank
    and silently produces wrong tiles. Integer `div` by a positive
    constant (what every in-repo caller uses) is safe; anything hashed,
    modular, or sign-flipping is not.
    `broadcast_offsets=False` joins the per-value offsets back by
    shuffle instead of broadcast — required when the value domain is
    wide (mostly-unique values make the offsets frame row-sized, and
    broadcasting a row-sized frame is its own scale hazard); the
    bucket cumsum/offset machinery stays domain-bounded either way.
    """
    part = list(part_cols or [])
    v = F.col(value_col)
    vbkt = bucket if bucket is not None else F.floor(v / 100.0)
    cnts = (
        df.groupBy(*part, value_col)
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn("_vbkt", vbkt)
    )
    w_in_bkt = (
        W.partitionBy(*part, "_vbkt")
        .orderBy(value_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cnts = cnts.withColumn(
        "_cum_in_bkt", F.coalesce(F.sum("_cnt").over(w_in_bkt), F.lit(0))
    )
    btot = cnts.groupBy(*part, "_vbkt").agg(F.sum("_cnt").alias("_bcnt"))
    bcond = F.col("b._vbkt") < F.col("a._vbkt")
    for p in part:
        bcond = bcond & (F.col(f"b.{p}") == F.col(f"a.{p}"))
    bcum = (
        btot.alias("a")
        .join(F.broadcast(btot.alias("b")), bcond, "left")
        .groupBy(
            *[F.col(f"a.{p}").alias(p) for p in part],
            F.col("a._vbkt").alias("_vbkt"),
        )
        .agg(F.coalesce(F.sum("b._bcnt"), F.lit(0)).alias("_bkt_before"))
    )
    offsets = cnts.join(F.broadcast(bcum), [*part, "_vbkt"]).select(
        *part,
        value_col,
        (F.col("_bkt_before") + F.col("_cum_in_bkt")).alias("_cum_before"),
    )
    if broadcast_offsets:
        offsets = F.broadcast(offsets)
    w_ties = W.partitionBy(*part, value_col).orderBy(id_col)
    ranked = df.withColumn("_rk_in", F.row_number().over(w_ties)).join(
        offsets, [*part, value_col]
    )
    if part:
        n_df = df.groupBy(*part).agg(F.count(F.lit(1)).alias("_n_total"))
        ranked = ranked.join(F.broadcast(n_df), part)
    else:
        ranked = ranked.withColumn("_n_total", df.agg(F.count(F.lit(1))).scalar())
    ranked = (
        ranked.withColumn("_rank", F.col("_cum_before") + F.col("_rk_in"))
        .withColumn("_q", F.expr(f"_n_total div {n}"))
        .withColumn("_rem", F.col("_n_total") % n)
        .withColumn(
            out_col,
            F.expr(
                "CASE WHEN _rank <= _rem * (_q + 1) "
                "THEN (_rank + _q) div (_q + 1) "
                "ELSE _rem + (_rank - _rem * (_q + 1) + _q - 1) "
                "     div greatest(_q, 1) END"
            ).cast("bigint"),
        )
    )
    drop = ["_cnt", "_vbkt", "_cum_in_bkt", "_cum_before", "_rk_in",
            "_rank", "_q", "_rem", "_n_total"]
    return ranked.drop(*[c for c in drop if c in ranked.columns])


def weighted_ntile_histogram(
    df: DataFrame,
    value_col: str,
    n: int,
    bucket: Column | None = None,
) -> DataFrame:
    """Per-(value, tile) row counts of ntile(`n`) OVER (ORDER BY
    value_col, <any tie order>) computed ENTIRELY on the value
    histogram — the skew-proof form for massively-tied columns (the
    tie-class caveat above): per-row work is one map-side count; the
    closed-form tile rank ranges then intersect each value's global
    rank interval on the domain-bounded (value, count) frame, and
    `explode(sequence(first_tile, last_tile))` emits the counts.
    Tile counts are invariant to tie permutation, so the result equals
    ANSI ntile for ANY deterministic tie-break (pinned both against
    native ntile in tests/test_property_round5.py and against DuckDB
    in w14_weighted_ntile_histogram's oracle).

    Returns (value_col, tile, n_rows). `bucket` optionally overrides
    the coarse cumsum bucket for very wide value domains; by default
    the cumulative offsets window orders the WHOLE histogram frame —
    callers must ensure the value domain is materially smaller than
    the corpus (that is the operator's applicability condition)."""
    hist = df.groupBy(value_col).agg(F.count(F.lit(1)).alias("_cnt"))
    if bucket is None:
        wcum = W.orderBy(value_col).rowsBetween(W.unboundedPreceding, -1)
        hist = hist.withColumn(
            "_c0", F.coalesce(F.sum("_cnt").over(wcum), F.lit(0))
        )
    else:
        hist = hist.withColumn("_vbkt", bucket)
        w_in = (
            W.partitionBy("_vbkt")
            .orderBy(value_col)
            .rowsBetween(W.unboundedPreceding, -1)
        )
        hist = hist.withColumn(
            "_cin", F.coalesce(F.sum("_cnt").over(w_in), F.lit(0))
        )
        btot = hist.groupBy("_vbkt").agg(F.sum("_cnt").alias("_bcnt"))
        bcum = (
            btot.alias("a")
            .join(
                F.broadcast(btot.alias("b")),
                F.col("b._vbkt") < F.col("a._vbkt"),
                "left",
            )
            .groupBy(F.col("a._vbkt").alias("_vbkt"))
            .agg(F.coalesce(F.sum("b._bcnt"), F.lit(0)).alias("_bb"))
        )
        hist = hist.join(F.broadcast(bcum), "_vbkt").withColumn(
            "_c0", F.col("_bb") + F.col("_cin")
        )
    tile_of = (
        "CASE WHEN {r} <= _rem * (_q + 1) "
        "THEN ({r} + _q) div (_q + 1) "
        "ELSE _rem + ({r} - _rem * (_q + 1) + _q - 1) "
        "     div greatest(_q, 1) END"
    )
    staged = (
        hist.withColumn("_nt", df.agg(F.count(F.lit(1))).scalar())
        .withColumn("_q", F.expr(f"_nt div {n}"))
        .withColumn("_rem", F.col("_nt") % n)
        .withColumn("_t_lo", F.expr(tile_of.format(r="_c0 + 1")))
        .withColumn("_t_hi", F.expr(tile_of.format(r="_c0 + _cnt")))
    )
    tiled = staged.select(
        value_col,
        "_cnt",
        "_c0",
        "_q",
        "_rem",
        F.explode(F.sequence("_t_lo", "_t_hi")).alias("tile"),
    )
    start = F.expr("(tile - 1) * _q + least(tile - 1, CAST(_rem AS BIGINT))")
    end = F.expr("tile * _q + least(tile, CAST(_rem AS BIGINT))")
    return tiled.select(
        value_col,
        F.col("tile").cast("bigint").alias("tile"),
        (
            F.least(end, F.col("_c0") + F.col("_cnt"))
            - F.greatest(start, F.col("_c0"))
        )
        .cast("bigint")
        .alias("n_rows"),
    )


def interleave_rank(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    out_col: str = "interleave_rank",
    leg_bucket_rows: int = 65536,
) -> DataFrame:
    """Exact GLOBAL round-robin rank without a global sort.

    Within each group, rows rank by `order_cols` (the "leg": 1 =
    group's first row). Globally, rows read leg by leg, groups in
    lexicographic order within a leg — the balanced interleave of a
    curriculum/source-mix order. The naive form is `row_number() OVER
    (ORDER BY leg, group)`: a single-partition whole-corpus sort. This
    decomposition reproduces it exactly (property-pinned against the
    naive form in tests/test_property_round6.py):

        rank = Σ_{k<leg} c(k)           -- rows on earlier legs
             + |{g' ≤ g : n_g' ≥ leg}|  -- earlier groups on my leg

    The second term is row_number() OVER (PARTITION BY leg ORDER BY
    group) computed directly on the ranked corpus — each leg holds at
    most one row per group, so window partitions are ≤ G rows and the
    leg key spreads the corpus over max-group-size partitions (never a
    hot key unless the group count itself is the corpus). The first
    term needs c(k) = per-leg row counts (a max-group-size frame, NOT
    broadcastable in general) cumulated exclusively; the cumsum uses
    exact_ntile's coarse-bucket decomposition — in-bucket windows of
    `leg_bucket_rows` legs plus an O(buckets²) broadcast self-join for
    bucket offsets — so no unpartitioned window and no corpus- or
    leg-frame-sized broadcast appears anywhere. The final `_off` join
    keys on the same leg column the in-leg window partitioned by, so
    the exchange is reusable; AQE may still elect a broadcast when the
    leg frame is measured tiny, which is then a runtime fact, not a
    plan-time assumption.

    PRECONDITION: `order_cols` must make rows unique within a group
    (include a unique id as the last key) — row_number ties would
    otherwise be nondeterministic.
    """
    w_g = W.partitionBy(group_col).orderBy(*order_cols)
    ranked = df.withColumn("leg", F.row_number().over(w_g).cast("bigint"))
    w_leg = W.partitionBy("leg").orderBy(group_col)
    ranked = ranked.withColumn(
        "_ril", F.row_number().over(w_leg).cast("bigint")
    )
    leg_counts = ranked.groupBy("leg").agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")
    )
    leg_counts = leg_counts.withColumn(
        "_lbkt", ((F.col("leg") - 1) / F.lit(leg_bucket_rows))
        .cast("bigint"),
    )
    w_in = (
        W.partitionBy("_lbkt")
        .orderBy("leg")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    leg_counts = leg_counts.withColumn(
        "_cin", F.coalesce(F.sum("_c").over(w_in), F.lit(0))
    )
    btot = leg_counts.groupBy("_lbkt").agg(F.sum("_c").alias("_bcnt"))
    bcum = (
        btot.alias("a")
        .join(
            F.broadcast(btot.alias("b")),
            F.col("b._lbkt") < F.col("a._lbkt"),
            "left",
        )
        .groupBy(F.col("a._lbkt").alias("_lbkt"))
        .agg(F.coalesce(F.sum("b._bcnt"), F.lit(0)).alias("_bb"))
    )
    off = leg_counts.join(F.broadcast(bcum), "_lbkt").select(
        "leg", (F.col("_bb") + F.col("_cin")).cast("bigint").alias("_off")
    )
    return (
        ranked.join(off, "leg")
        .withColumn(out_col, F.col("_off") + F.col("_ril"))
        .drop("_off", "_ril")
    )


def pareto_skyline_2d(
    df: DataFrame,
    part_col: str,
    min_col: str,
    max_col: str,
) -> DataFrame:
    """2-D Pareto skyline per partition: rows no other same-partition
    row dominates (lower-or-equal ``min_col``, higher-or-equal
    ``max_col``, strict somewhere). The all-pairs dominance join is
    collapsed to TWO value-range window maxima over the min_col-ordered
    frame: a row is dominated iff some strictly-smaller-min row has
    max ≥ mine, or some smaller-or-equal-min row has max > mine.
    ``min_col`` must be an exact-integer column (RANGE frame semantics;
    callers quantize money to cents first). Returns the input columns
    unchanged, skyline rows only — equality with brute force is pinned
    in the fixed-corpus and hypothesis tests.

    Scale: one shuffle on the partition key, per-partition ordered
    window pass — never a global sort, never a pair join."""
    strict = (
        W.partitionBy(part_col)
        .orderBy(min_col)
        .rangeBetween(W.unboundedPreceding, -1)
    )
    incl = (
        W.partitionBy(part_col)
        .orderBy(min_col)
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    flagged = df.withColumn(
        "__m_strict", F.coalesce(F.max(max_col).over(strict), F.lit(-1))
    ).withColumn("__m_incl", F.max(max_col).over(incl))
    return flagged.filter(
        (F.col("__m_strict") < F.col(max_col))
        & (F.col("__m_incl") <= F.col(max_col))
    ).drop("__m_strict", "__m_incl")


def largest_remainder_quota(
    counts: DataFrame,
    key_col: str,
    cnt_col: str,
    budget: int,
) -> DataFrame:
    """Hamilton (largest-remainder) apportionment: integer quotas
    proportional to ``cnt_col`` that sum EXACTLY to ``budget``. All
    integer arithmetic — base = (B·cnt) div total, remainders compared
    by exact modulus (never a float share), the floor residue goes to
    the largest remainders with a deterministic key tie-break. The
    ranking window runs over the key-cardinality frame (an aggregate,
    catalog-bounded — callers aggregate to key grain first). Output:
    (key_col, cnt_col, base_quota, rem_num, quota); Σquota = budget
    and quota ∈ {base, base+1} are pinned in tests."""
    total = counts.agg(F.sum(cnt_col).cast("bigint")).scalar()
    base = counts.withColumn("total", total).select(
        key_col,
        cnt_col,
        F.expr(f"({budget} * {cnt_col}) div total").alias("base_quota"),
        F.expr(f"({budget} * {cnt_col}) % total").alias("rem_num"),
    )
    leftover = base.agg(
        (F.lit(budget) - F.sum("base_quota")).cast("bigint")
    ).scalar()
    ranked = base.withColumn(
        "rk",
        F.row_number().over(W.orderBy(F.desc("rem_num"), F.asc(key_col))),
    )
    return ranked.select(
        key_col,
        cnt_col,
        F.col("base_quota").cast("bigint").alias("base_quota"),
        F.col("rem_num").cast("bigint").alias("rem_num"),
        (
            F.col("base_quota")
            + F.when(F.col("rk") <= leftover, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("quota"),
    )
