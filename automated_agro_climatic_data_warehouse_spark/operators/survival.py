"""Kaplan-Meier survival primitives, shared by the batch query
(ev_survival_km, plans/events_queries.py) and the streaming monitor
(streaming/survival_km.py) so "the estimator" is ONE definition — the
capture_gate / wres_state single-definition pattern.

Factoring (the shape that streams): a sessionizer emits SUBJECT records
(dur, censored); the monitor state is the per-duration histogram of
exact int64 (churned, censored_n) counters — an additive merge
(commutative + associative), so any file→micro-batch partitioning
reaches the bit-identical state and the committed-state chain absorbs
replays. The KM curve is a pure readout over that bounded histogram
(duration-domain-sized, NOT corpus-sized): reverse-cumsum risk set,
per-step ln legs on the 2^20 grid, one exp at the end. Censoring is
decided by the subject producer (here: session still open at the corpus
edge), which is where that knowledge lives in a real pipeline too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .quality import add_counts

SESSION_GAP_US = 30 * 60 * 1_000_000


def km_subjects(ev: DataFrame) -> DataFrame:
    """Sessionize events into KM subjects: one row per 30-min-gap
    session with its whole-minute lifetime and the right-censoring
    flag (session still open within one gap of the global max
    timestamp). Returns (dur bigint, censored int). The one
    corpus-sized stage of the family: the user-keyed sessionization
    window + a (user, sid) groupBy."""
    ev = ev.filter(F.col("user_id").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    new_session = F.when(
        F.lag("ts").over(w).isNull()
        | (
            F.unix_micros(F.col("ts"))
            - F.unix_micros(F.lag("ts").over(w))
            > SESSION_GAP_US
        ),
        1,
    ).otherwise(0)
    flagged = ev.select(
        "user_id", "ts", "event_id", new_session.alias("new_session")
    )
    wsid = W.partitionBy("user_id").orderBy("ts")
    sess = flagged.select(
        "user_id",
        "ts",
        F.sum("new_session").over(wsid).alias("sid"),
    )
    per_sess = sess.groupBy("user_id", "sid").agg(
        F.min(F.unix_micros("ts")).alias("t0"),
        F.max(F.unix_micros("ts")).alias("t1"),
    )
    tmax = per_sess.agg(F.max("t1")).scalar()
    return per_sess.select(
        F.expr("cast((t1 - t0) div 60000000 as bigint)").alias("dur"),
        F.when(F.col("t1") >= tmax - F.lit(SESSION_GAP_US), 1)
        .otherwise(0)
        .alias("censored"),
    )


def km_histogram_merge(
    subjects: DataFrame, prev: DataFrame | None
) -> DataFrame:
    """One additive step: the batch's per-duration (churned,
    censored_n) counters summed onto the persisted state. Input rows
    are subjects (dur, censored); state rows are (dur, churned,
    censored_n) exact int64. Additive means NO retraction: each
    subject must be merged exactly once — see the producer contract
    in streaming/survival_km.py (censored rows only from discarded
    end-of-window snapshots, never merged with later closes)."""
    b = subjects.groupBy("dur").agg(
        F.sum(F.lit(1) - F.col("censored")).cast("bigint").alias("churned"),
        F.sum("censored").cast("bigint").alias("censored_n"),
    )
    return add_counts(b, prev, "dur")


def km_curve(byd: DataFrame) -> DataFrame:
    """Kaplan-Meier readout over the duration histogram state (dur,
    churned, censored_n): S(t) = prod_{u<=t} (1 − d_u/n_u), n_u one
    reverse cumulative sum, the product in log space on the 2^20
    ln-grid (exact int64 legs, quantized per value), one exp + e6
    rounding at the end; a step where every at-risk subject completes
    pins the curve to exactly 0 thereafter. Both ordered windows are
    duration-domain-sized (bounded), not corpus-sized."""
    wrev = W.orderBy(F.desc("dur")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    risk = byd.select(
        "dur",
        "churned",
        "censored_n",
        F.sum(F.col("churned") + F.col("censored_n"))
        .over(wrev)
        .cast("bigint")
        .alias("n_risk"),
    )
    lnleg = risk.select(
        "dur",
        "churned",
        "censored_n",
        "n_risk",
        F.expr(
            "case when churned = 0 then cast(0 as bigint)"
            " when churned = n_risk then null"
            " else cast(round(ln(cast(n_risk - churned as double))"
            " * 1048576) as bigint)"
            " - cast(round(ln(cast(n_risk as double)) * 1048576)"
            " as bigint) end"
        ).alias("lnq"),
    )
    wfwd = W.orderBy("dur").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = lnleg.select(
        "dur",
        "churned",
        "censored_n",
        "n_risk",
        F.sum("lnq").over(wfwd).alias("cum_lnq"),
        F.sum(F.when(F.col("lnq").isNull(), 1).otherwise(0))
        .over(wfwd)
        .cast("bigint")
        .alias("hit_zero"),
    )
    return cum.select(
        "dur",
        "n_risk",
        "churned",
        "censored_n",
        F.expr(
            "cast(case when hit_zero > 0 then 0"
            " else round(exp(cast(cum_lnq as double) / 1048576)"
            " * 1000000) end as bigint)"
        ).alias("surv_e6"),
    )


def na_curve(byd: DataFrame) -> DataFrame:
    """Nelson-Aalen cumulative-hazard readout over the SAME duration
    histogram state km_curve consumes: H(t) = sum_{u<=t} d_u/n_u with
    d/n on the 2^20 grid and the Poisson variance d/n^2 on the 2^30
    grid — direct exact rationals, no ln/exp staging. Since r10 this
    IS the ev_hazard_nelson_aalen batch plan (the query imports it),
    so one definition serves the batch query, the streaming readout,
    and the stream≡batch pin — the km_curve pattern exactly."""
    wrev = W.orderBy(F.desc("dur")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    risk = byd.select(
        "dur",
        "churned",
        "censored_n",
        F.sum(F.col("churned") + F.col("censored_n"))
        .over(wrev)
        .cast("bigint")
        .alias("n_risk"),
    )
    terms = risk.select(
        "dur",
        "churned",
        "censored_n",
        "n_risk",
        F.expr("(churned * 1048576) div n_risk").alias("h_term"),
        F.expr("(churned * 1073741824) div (n_risk * n_risk)").alias(
            "v_term"
        ),
    )
    wfwd = W.orderBy("dur").rowsBetween(W.unboundedPreceding, W.currentRow)
    return terms.select(
        "dur",
        "n_risk",
        "churned",
        "censored_n",
        F.sum("h_term").over(wfwd).cast("bigint").alias("na_q"),
        (F.sum("h_term").over(wfwd).cast("double") / F.lit(1048576.0)).alias(
            "cum_hazard"
        ),
        F.sum("v_term").over(wfwd).cast("bigint").alias("var_q"),
    )
