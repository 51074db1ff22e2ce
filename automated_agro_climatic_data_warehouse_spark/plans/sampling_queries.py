"""Deterministic sampling operators (north-star extension — the sampling
legs a training-data pipeline needs: uniform corpus downsampling,
per-source stratified rates, and train/val/test splits).

All three use HASH-based selection, not rand(): md5 of the stable row key
gives a uniform value in [0, 2^32), and `hash % 100 < rate` keeps an
exact, engine-reproducible, re-run-stable subset. That determinism is the
point at 100 TB — a re-run (or a different engine) selects the SAME rows,
so samples are idempotent, auditable, and joinable across pipeline
stages. rand()-based sampling has none of those properties (and Spark's
`sample()` is per-partition-seeded, so even its reproducibility breaks
under repartitioning).

Every operator is a narrow map + filter: no shuffle, fully pushdown-
friendly, embarrassingly parallel — the cheapest possible 100 TB shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions import dsum
from ..operators.dedup import hash32
from ..session import iterate, materialize, release
from ..sources import load_table
from .registry import query


def _pct(c: Column, salt: str) -> Column:
    """Deterministic uniform value in [0, 100) from a row key."""
    return hash32(F.concat(F.lit(salt + ":"), c.cast("string"))) % 100


def _pct_sql(expr: str, salt: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('{salt}:' || CAST({expr} AS VARCHAR)), 1, 8)) "
        "AS BIGINT) % 100"
    )


@query(
    "sample_uniform_hash",
    oracle=f"""
    SELECT doc_id, source FROM read_parquet('{{sf}}/documents.parquet')
    WHERE {_pct_sql('doc_id', 'u')} < 10
    """,
    tags=("sampling",),
)
def sample_uniform_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% deterministic uniform sample by doc_id hash."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "source").filter(
        _pct(F.col("doc_id"), "u") < 10
    )


_STRATA_SQL = """CASE WHEN source IN ('src0', 'src1') THEN 60
         WHEN source IN ('src2', 'src3', 'src4') THEN 25
         ELSE 5 END"""


def _strata_rate(source: Column) -> Column:
    return (
        F.when(source.isin("src0", "src1"), 60)
        .when(source.isin("src2", "src3", "src4"), 25)
        .otherwise(5)
    )


@query(
    "sample_stratified",
    oracle=f"""
    WITH kept AS (
      SELECT doc_id, source FROM read_parquet('{{sf}}/documents.parquet')
      WHERE {_pct_sql('doc_id', 's')} < {_STRATA_SQL}
    )
    SELECT source, count(*) AS n_kept FROM kept GROUP BY source
    """,
    tags=("sampling", "stratified"),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with per-source rates (up-weight scarce
    high-quality sources, down-weight bulk ones — the training-data mixing
    primitive). Rate lookup is a literal CASE: stays in codegen, no join.
    Emits per-source kept counts (≈ rate × stratum size)."""
    docs = load_table(spark, sf_dir, "documents")
    kept = docs.filter(
        _pct(F.col("doc_id"), "s") < _strata_rate(F.col("source"))
    )
    return kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))


@query(
    "split_train_val_test",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id,
             CASE WHEN {_pct_sql('doc_id', 'split')} < 80 THEN 'train'
                  WHEN {_pct_sql('doc_id', 'split')} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM read_parquet('{{sf}}/documents.parquet')
    )
    SELECT split, count(*) AS n_docs FROM assigned GROUP BY split
    """,
    tags=("sampling", "split"),
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by hash range.
    Hash-range (not modulo-class) splits compose: a later 'train' subsample
    re-hashes with a different salt, so split membership and subsampling
    stay independent."""
    docs = load_table(spark, sf_dir, "documents")
    p = _pct(F.col("doc_id"), "split")
    split = (
        F.when(p < 80, "train").when(p < 90, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "sample_temperature_mix",
    oracle=f"""
    WITH counts AS (
      SELECT source AS cs, count(*) AS n_s
      FROM read_parquet('{{sf}}/documents.parquet') GROUP BY cs
    ), m AS (SELECT min(n_s) AS min_n FROM counts),
    rates AS (
      SELECT cs, n_s,
             CAST(floor(sqrt(CAST(m.min_n AS DOUBLE) / n_s) * 1048576)
                  AS BIGINT) AS keep_q
      FROM counts, m
    )
    SELECT d.doc_id, d.source, r.keep_q
    FROM read_parquet('{{sf}}/documents.parquet') d
    JOIN rates r ON r.cs = d.source
    WHERE CAST(('0x' || substr(md5('t:' || CAST(d.doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 1048576 < r.keep_q
    """,
    tags=("sampling", "mixing", "pipeline"),
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source re-mixing (alpha = 0.5): keep-rate per
    source ∝ n_s^(alpha-1) = 1/sqrt(n_s), normalized so the RAREST
    source keeps 100% — the standard rebalancing that upweights
    low-resource sources/languages in a training mix without
    duplicating rows. Unlike `sample_stratified` the rates are COMPUTED
    FROM THE DATA (one vocabulary-of-sources groupBy, broadcast back),
    so the operator adapts as the corpus mix drifts. Selection is the
    same deterministic hash-threshold integer compare as every sampler
    here; the rate itself is bit-portable because sqrt is
    correctly-rounded IEEE on both engines and min_n/n_s, ·2^20, floor
    are all exact — no ln/pow in sight. Scale: two narrow passes + one
    broadcast join; no fact-sized shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy(F.col("source").alias("cs")).agg(
        F.count(F.lit(1)).alias("n_s")
    )
    min_n = counts.agg(F.min("n_s")).scalar()
    rates = counts.select(
        "cs",
        "n_s",
        F.floor(
            F.sqrt(min_n.cast("double") / F.col("n_s"))
            * F.lit(1048576)
        )
        .cast("bigint")
        .alias("keep_q"),
    )
    thresh = (
        hash32(F.concat(F.lit("t:"), F.col("doc_id").cast("string"))) % 1048576
    )
    return (
        docs.join(F.broadcast(rates), F.col("cs") == F.col("source"))
        .filter(thresh < F.col("keep_q"))
        .select("doc_id", "source", "keep_q")
    )


@query(
    "sample_importance_weighted",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang,
             CASE WHEN lang = 'en' THEN 4 WHEN lang = 'es' THEN 3
                  WHEN lang = 'de' THEN 2 ELSE 1 END AS w
      FROM read_parquet('{{sf}}/documents.parquet')
    )
    SELECT doc_id, lang, CAST(w AS BIGINT) AS w,
           CAST(w AS BIGINT) AS p_num, CAST(4 AS BIGINT) AS p_den
    FROM d
    WHERE {_pct_sql('doc_id', 'imp')} < w * 25
    """,
    tags=("sampling", "importance"),
)
def sample_importance_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weighted subsampling: inclusion probability ∝ a
    per-row importance weight (here a language prior, w/4 for w in
    1..4), with the weight's Horvitz-Thompson correction (p_num/p_den)
    emitted alongside so downstream aggregates can reweight by 1/p and
    stay unbiased — the sampler a quality-aware training mix uses when
    keep-everything is unaffordable but rare-and-valuable rows must
    survive more often. Selection is the same deterministic
    hash-threshold integer compare as every sampler in this module
    (reproducible at any parallelism, no RNG state); entirely map-side,
    zero shuffles, and the weight column is pure expression arithmetic
    so Catalyst fuses the whole thing into the scan's codegen stage."""
    docs = load_table(spark, sf_dir, "documents")
    w = (
        F.when(F.col("lang") == "en", 4)
        .when(F.col("lang") == "es", 3)
        .when(F.col("lang") == "de", 2)
        .otherwise(1)
    )
    return (
        docs.select("doc_id", "lang", w.cast("bigint").alias("w"))
        .filter(_pct(F.col("doc_id"), "imp") < F.col("w") * 25)
        .select(
            "doc_id",
            "lang",
            "w",
            F.col("w").alias("p_num"),
            F.lit(4).cast("bigint").alias("p_den"),
        )
    )


_KC_GRID = 4096  # 2^12 quantization grid: d2 <= 128 * (2*4096*2)^2 << 2^63


def _kcenter_oracle(k: int) -> str:
    """Unrolled greedy k-center (farthest-point) selection on the 2^12
    integer grid — MATERIALIZED per round (each m_i feeds both c_{i+1}
    and m_{i+1}; plain CTEs would re-inline the whole prefix)."""
    sql = f"""
    WITH q AS MATERIALIZED (
      SELECT vec_id, t.pos,
             CAST(round(CAST(embedding[t.pos] AS DOUBLE) * {_KC_GRID})
                  AS BIGINT) AS qv
      FROM read_parquet('{{sf}}/embeddings.parquet'),
           UNNEST(generate_series(1, len(embedding))) AS t(pos)
    ), c1 AS MATERIALIZED (
      SELECT min(vec_id) AS cid, CAST(0 AS BIGINT) AS sel_d2
      FROM read_parquet('{{sf}}/embeddings.parquet')
    ), m1 AS MATERIALIZED (
      SELECT v.vec_id,
             CAST(sum((v.qv - c.qv) * (v.qv - c.qv)) AS BIGINT) AS mind2
      FROM q v JOIN q c
        ON c.pos = v.pos AND c.vec_id = (SELECT cid FROM c1)
      GROUP BY v.vec_id
    )"""
    for i in range(2, k + 1):
        sql += f""", c{i} AS MATERIALIZED (
      SELECT vec_id AS cid, mind2 AS sel_d2 FROM m{i - 1}
      ORDER BY mind2 DESC, vec_id ASC LIMIT 1
    ), m{i} AS MATERIALIZED (
      SELECT v.vec_id,
             least(m.mind2,
                   CAST(sum((v.qv - c.qv) * (v.qv - c.qv)) AS BIGINT))
               AS mind2
      FROM q v
      JOIN q c ON c.pos = v.pos AND c.vec_id = (SELECT cid FROM c{i})
      JOIN m{i - 1} m ON m.vec_id = v.vec_id
      GROUP BY v.vec_id, m.mind2
    )"""
    selects = " UNION ALL ".join(
        f"SELECT {i} AS rank, cid, sel_d2 FROM c{i}" for i in range(1, k + 1)
    )
    return sql + f"""
    SELECT CAST(rank AS BIGINT) AS rank, CAST(cid AS BIGINT) AS center_id,
           sel_d2 FROM ({selects})
    """


@query(
    "sample_kcenter_coreset",
    oracle=_kcenter_oracle(8),
    tags=("sampling", "coreset", "iterative"),
)
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point) CORESET selection, k=8 — the
    geometric data-pruning pass a training pipeline runs to pick a
    maximally-diverse seed subset (the 2-approximation of the k-center
    cover problem): seed with the smallest id, then repeatedly take
    the point FARTHEST from everything chosen so far. Distances are
    squared-Euclidean on a 2^12 integer grid — exact int64, so the
    argmax (and the whole selection sequence, tie-broken by vec_id) is
    bit-identical on any engine/partitioning. Scale shape: the corpus
    frame carries a running min-distance column; each round is ONE
    broadcast join against the 1-row newest center + a TakeOrdered(1)
    argmax — no collect(), the 1-row center frame stays distributed —
    with localCheckpoint truncating the per-round lineage (the
    pagerank_loop discipline). The oracle unrolls the same 8 rounds
    into MATERIALIZED CTEs."""
    emb = load_table(spark, sf_dir, "embeddings")
    qarr = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * _KC_GRID, 0).cast("bigint"),
    )
    cur = materialize(
        emb.select("vec_id", qarr.alias("qv")),
        "sample_kcenter_coreset.cur",
    )

    def d2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda u, v: (u - v) * (u - v)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    seed = (
        cur.orderBy("vec_id")
        .limit(1)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("qv").alias("cqv"),
            F.lit(0).cast("bigint").alias("sel_d2"),
        )
    )
    selected = seed.select(
        F.lit(1).cast("bigint").alias("rank"), "cid", "sel_d2"
    )
    scored0 = materialize(
        cur.crossJoin(F.broadcast(seed.select("cqv")))
        .select("vec_id", "qv", d2(F.col("qv"), F.col("cqv")).alias("mind2")),
        "sample_kcenter_coreset.scored",
    )
    centers: list[DataFrame] = []

    def pick(scored: DataFrame) -> DataFrame:
        """Append the farthest point of `scored` as the next center;
        return its (cid, sel_d2, cqv) row."""
        nxt = (
            scored.orderBy(F.desc("mind2"), F.asc("vec_id"))
            .limit(1)
            .select(
                F.col("vec_id").alias("cid"),
                F.col("mind2").alias("sel_d2"),
            )
        )
        nxt_full = materialize(
            nxt.join(
                cur.select(F.col("vec_id").alias("cid"), F.col("qv").alias("cqv")),
                "cid",
            ),
            "sample_kcenter_coreset.nxt_full",
        )
        centers.append(
            nxt_full.select(
                F.lit(len(centers) + 2).cast("bigint").alias("rank"),
                "cid",
                "sel_d2",
            )
        )
        return nxt_full

    def step(scored: DataFrame) -> DataFrame:
        nxt_full = pick(scored)
        return scored.crossJoin(F.broadcast(nxt_full.select("cqv"))).select(
            "vec_id",
            "qv",
            F.least(F.col("mind2"), d2(F.col("qv"), F.col("cqv"))).alias("mind2"),
        )

    # 6 rounds pick centers 2-7; the 8th needs only the 6th round's
    # distances, not a 7th distance update. The result reads `cur`
    # (through the seed) and the centers only.
    last = iterate(scored0, step, "sample_kcenter_coreset.scored", 6)
    pick(last)
    release(scored0, last)
    for center in centers:
        selected = selected.unionByName(center)
    return selected.select(
        "rank", F.col("cid").cast("bigint").alias("center_id"), "sel_d2"
    )


@query(
    "sample_balanced_class_downsample",
    oracle=f"""
    WITH ev AS (
      SELECT event_id, event_type,
             CAST(('0x' || substr(md5('bal:' || CAST(event_id AS VARCHAR)),
                                  1, 8)) AS BIGINT) AS hkey
      FROM read_parquet('{{sf}}/events.parquet')
    ), counts AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_class FROM ev
      GROUP BY event_type
    ), k AS (SELECT min(n_class) AS k FROM counts),
    ranked AS (
      SELECT event_id, event_type,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY hkey, event_id) AS rn
      FROM ev
    ), sel AS (
      SELECT event_id, event_type FROM ranked
      WHERE rn <= (SELECT k FROM k)
    )
    SELECT s.event_type, c.n_class,
           CAST(count(*) AS BIGINT) AS n_selected,
           CAST(sum(s.event_id) AS BIGINT) AS selected_id_sum
    FROM sel s JOIN counts c ON c.event_type = s.event_type
    GROUP BY s.event_type, c.n_class
    """,
    tags=("sampling", "class-balance"),
)
def sample_balanced_class_downsample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CLASS-BALANCED downsampling: every event type keeps exactly
    min-class-size rows, chosen by deterministic hash order (salted
    md5 rank — the same reproducible-without-state coin as
    sample_uniform_hash, so reruns and backfills select the identical
    subset). The summary pins the selection itself: per class, the kept
    count AND the exact sum of kept ids — a different selected set
    cannot hash-match. Scale note: the per-class ranking window is the
    exact form; at 100 TB the same balance comes from a calibrated
    hash THRESHOLD per class (pure filter, no window) plus a boundary
    trim on the one hash bucket that straddles k — the window here
    doubles as that calibration's ground truth."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type"
    )
    ev = ev.withColumn(
        "hkey",
        hash32(F.concat(F.lit("bal:"), F.col("event_id").cast("string"))),
    )
    counts = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_class")
    )
    k = counts.agg(F.min("n_class")).scalar()
    w = W.partitionBy("event_type").orderBy("hkey", "event_id")
    sel = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    return (
        sel.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_selected"),
            F.sum("event_id").cast("bigint").alias("selected_id_sum"),
        )
        .join(counts, "event_type")
        .select("event_type", "n_class", "n_selected", "selected_id_sum")
    )


@query(
    "sample_epoch_mixture",
    oracle="""
    WITH m AS (
      SELECT source,
             len(regexp_split_to_array(trim(text), '\\s+')) AS wc
      FROM read_parquet('{sf}/documents.parquet')
    ), per_source AS (
      SELECT source, CAST(sum(wc) AS BIGINT) AS n_tokens,
             (CAST(substr(source, 4) AS BIGINT) % 4) + 1 AS weight
      FROM m GROUP BY source
    ), tot AS (
      SELECT CAST(sum(n_tokens) AS BIGINT) AS b,
             CAST(sum(weight) AS BIGINT) AS wsum
      FROM per_source
    )
    SELECT source, n_tokens, CAST(weight AS BIGINT) AS weight,
           CAST(weight AS DOUBLE) / wsum AS target_share,
           CAST((b * weight) // wsum AS BIGINT) AS planned_tokens,
           CAST((b * weight) // wsum AS DOUBLE) / n_tokens AS epochs
    FROM per_source, tot
    """,
    tags=("sampling", "mixture", "pipeline"),
)
def sample_epoch_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static data-MIXTURE planner — the DoReMi/Pile-style step between
    the source audit (ts_source_mix) and the sampler: given per-source
    token counts and configured mixture weights, emit each source's
    target share, its planned token budget out of one total-corpus
    epoch, and the implied repeat factor (epochs > 1 ⇒ the source is
    upsampled / re-read; < 1 ⇒ downsampled). The weight here derives
    deterministically from the source name (a stand-in for the
    configured weight table a production run would join in — the plan
    is identical: broadcast-join a tiny weights dim). Budget splits are
    exact integer floor-division against the weight sum, so shards
    planned on different engines or partitionings agree to the token;
    the two ratios are single IEEE divisions of exact ints. One
    low-cardinality groupBy + the totals as scalar subqueries — flat at any
    corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    wc = F.size(F.split(F.trim(F.col("text")), "\\s+"))
    per_source = docs.select("source", wc.alias("wc")).groupBy("source").agg(
        F.sum("wc").cast("bigint").alias("n_tokens")
    ).withColumn(
        # substring to END of string (2-arg form), matching the oracle's
        # substr(source, 4) — a length-capped variant would silently
        # diverge on numeric suffixes longer than the cap
        "weight",
        (F.expr("substring(source, 4)").cast("bigint") % 4 + 1).cast(
            "bigint"
        ),
    )
    tot = per_source.agg(
        F.sum("n_tokens").cast("bigint").alias("b"),
        F.sum("weight").cast("bigint").alias("wsum"),
    ).select(F.struct("*")).scalar()
    planned = F.expr("(b * weight) div wsum").cast("bigint")
    return per_source.withColumn("tot", tot).select("*", "tot.*").select(
        "source",
        "n_tokens",
        "weight",
        (F.col("weight").cast("double") / F.col("wsum")).alias(
            "target_share"
        ),
        planned.alias("planned_tokens"),
        (planned.cast("double") / F.col("n_tokens")).alias("epochs"),
    )


@query(
    "sample_quota_largest_remainder",
    oracle="""
    WITH src AS (
      SELECT source, CAST(count(*) AS BIGINT) AS cnt
      FROM read_parquet('{sf}/documents.parquet') GROUP BY source
    ), tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_src
      FROM src
    ), base AS (
      SELECT source, cnt,
             (10000 * cnt) // total AS base_quota,
             (10000 * cnt) % total AS rem_num
      FROM src, tot
    ), leftover AS (
      SELECT CAST(10000 - sum(base_quota) AS BIGINT) AS k FROM base
    ), ranked AS (
      SELECT source, cnt, base_quota, rem_num,
             row_number() OVER (ORDER BY rem_num DESC, source) AS rk
      FROM base
    )
    SELECT source, cnt, CAST(base_quota AS BIGINT) AS base_quota,
           CAST(rem_num AS BIGINT) AS rem_num,
           CAST(base_quota + CASE WHEN rk <= k THEN 1 ELSE 0 END
                AS BIGINT) AS quota
    FROM ranked, leftover
    """,
    tags=("sampling", "quota", "apportionment"),
)
def sample_quota_largest_remainder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LARGEST-REMAINDER quota apportionment (Hamilton's method): split
    a 10,000-row sampling budget across sources proportionally to doc
    counts so the quotas are integers AND sum EXACTLY to the budget —
    the allocator the epoch-mixture planner (sample_epoch_mixture)
    stops short of (its floor-division budgets leave the remainder
    unassigned; here the floor residue goes to the largest fractional
    remainders, deterministic source tie-break). All integer: base =
    (B·cnt) div total, remainder compared as the exact modulus (never
    a float share), bonus to the top-(B − Σbase) remainders. The
    exact-sum invariant (Σquota = B) and the quota-monotonicity
    property (quota within ±1 of the real-valued share) are pinned in
    tests.

    Scale: one groupBy to source grain; the ranking window runs over
    the SOURCE-cardinality frame (20 rows here, thousands at worst) —
    bounded by the catalog, never the corpus, same justification as
    the other allowlisted aggregate-frame windows. The allocator is
    the shared operator (operators/ranking.largest_remainder_quota —
    one definition for this query, the fixed-corpus invariant pin, and
    the hypothesis property test on random count vectors)."""
    from ..operators.ranking import largest_remainder_quota

    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    return largest_remainder_quota(src, "source", "cnt", 10000)


@query(
    "sample_systematic_pps",
    oracle="""
    WITH docs AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w
      FROM read_parquet('{sf}/documents.parquet')
    ), src AS (
      SELECT source, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(w) AS BIGINT) AS wtot
      FROM docs GROUP BY source
    ), tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS total FROM src
    ), quota AS (
      SELECT source, wtot, base_quota
             + CASE WHEN row_number() OVER (ORDER BY rem_num DESC, source)
                    <= (SELECT 1000 - sum(base_quota) FROM (
                          SELECT (1000 * cnt) // total AS base_quota
                          FROM src, tot))
                    THEN 1 ELSE 0 END AS q
      FROM (
        SELECT source, wtot,
               (1000 * cnt) // total AS base_quota,
               (1000 * cnt) % total AS rem_num
        FROM src, tot
      )
    ), cum AS (
      SELECT d.doc_id, d.source, d.w, quota.q, quota.wtot,
             sum(d.w) OVER (PARTITION BY d.source ORDER BY d.doc_id
                            ROWS UNBOUNDED PRECEDING) AS cw
      FROM docs d JOIN quota ON quota.source = d.source
    ), marked AS (
      SELECT doc_id, source, w,
             (cw * q) // wtot - ((cw - w) * q) // wtot AS multiplicity
      FROM cum
    )
    SELECT doc_id, source, w, CAST(multiplicity AS BIGINT) AS multiplicity
    FROM marked WHERE multiplicity > 0
    """,
    tags=("sampling", "pps", "systematic", "quota"),
)
def sample_systematic_pps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SYSTEMATIC PPS sampling (probability-proportional-to-size, the
    survey-statistics workhorse) composed with Hamilton quotas: a
    1000-row budget splits across sources by doc count
    (operators/ranking.largest_remainder_quota — Σ = budget exactly),
    then WITHIN each source docs are selected proportional to length
    by the deterministic systematic rule: with cumulative weight cw
    over the doc_id order, a doc's multiplicity is
    floor(cw·q/W) − floor((cw−w)·q/W) — how many of the q evenly-spaced
    selection boundaries its weight interval covers. All integer, no
    randomness, and the guarantee TELESCOPES: Σ multiplicity per
    source = q EXACTLY (the series collapses to floor(W·q/W) −
    floor(0) = q), so the global sample is exactly the budget — pinned
    in tests along with the PPS property (multiplicity ∝ weight within
    ±1 boundary). Heavy docs spanning several boundaries surface as
    multiplicity > 1 (the standard PPS-with-replacement semantics),
    rather than silently deflating the sample.

    Scale: one per-source window cumsum (partitioned by the sampling
    stratum, never global) + the catalog-bounded quota window; output
    rows ≤ budget."""
    from ..operators.ranking import largest_remainder_quota

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("bigint").alias("w")
    )
    src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("w").cast("bigint").alias("wtot"),
    )
    quota = largest_remainder_quota(src, "source", "cnt", 1000).select(
        "source", F.col("quota").alias("q")
    ).join(src.select("source", "wtot"), "source")
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = docs.join(quota, "source").withColumn(
        "cw", F.sum("w").over(w)
    )
    marked = cum.select(
        "doc_id",
        "source",
        "w",
        (
            F.expr("(cw * q) div wtot")
            - F.expr("((cw - w) * q) div wtot")
        )
        .cast("bigint")
        .alias("multiplicity"),
    )
    return marked.filter(F.col("multiplicity") > 0)


@query(
    "sample_neyman_allocation",
    oracle="""
    WITH m AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_h,
             CAST(sum(n_chars) AS BIGINT) AS sx,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
      FROM read_parquet('{sf}/documents.parquet') GROUP BY source
    ), w AS (
      SELECT source, n_h,
             CAST(round(sqrt(CAST(greatest(n_h * sxx - sx * sx, 0)
                                  AS DOUBLE))) AS BIGINT) AS wq
      FROM m
    ), tot AS (
      SELECT CAST(sum(wq) AS BIGINT) AS total FROM w
    ), base AS (
      SELECT source, n_h, wq,
             (1000 * wq) // total AS base_quota,
             (1000 * wq) % total AS rem_num
      FROM w, tot
    ), leftover AS (
      SELECT CAST(1000 - sum(base_quota) AS BIGINT) AS k FROM base
    ), ranked AS (
      SELECT source, n_h, wq, base_quota, rem_num,
             row_number() OVER (ORDER BY rem_num DESC, source) AS rk
      FROM base
    )
    SELECT source, n_h, wq,
           CAST(base_quota AS BIGINT) AS base_quota,
           CAST(rem_num AS BIGINT) AS rem_num,
           CAST(base_quota + CASE WHEN rk <= k THEN 1 ELSE 0 END
                AS BIGINT) AS quota
    FROM ranked, leftover
    """,
    tags=("sampling", "neyman", "stratified", "apportionment"),
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEYMAN optimal stratified allocation (Neyman, JRSS 1934): split
    a 1,000-row sampling budget across sources proportionally to
    N_h * S_h — stratum size times stratum standard deviation (of doc
    length) — the allocation that minimizes the estimator variance of
    a stratified mean, versus sample_quota_largest_remainder's
    proportional-to-size baseline (equal when all strata have equal
    spread; here the spread differs so the allocations do too). The
    whole weight is integer-exact up to ONE deterministic IEEE sqrt:
    N_h*Sigma(x^2) - (Sigma x)^2 = N_h^2 * sigma_h^2 exactly (int64
    moments of integer char counts), so round(sqrt(.)) IS
    round(N_h*sigma_h) with no float accumulation; a constant stratum
    gets weight 0 (its mean needs no sample, the textbook behavior).
    Integerization reuses the Hamilton largest-remainder operator —
    exact budget sum, deterministic ties.

    Scale: one groupBy to source grain for the three moments
    (map-side partials); the quota window runs on the catalog-bounded
    source frame. int64 bound: N_h * Sigma(x^2) needs
    N_h * N_h * max(x)^2 < 2^63 — holds to ~30e9 docs/stratum at 10k
    chars; beyond that, compute the moments in DECIMAL(38) (dsum) and
    keep the same sqrt."""
    from ..operators.ranking import largest_remainder_quota

    docs = load_table(spark, sf_dir, "documents")
    m = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        F.sum("n_chars").cast("bigint").alias("sx"),
        F.sum(F.col("n_chars") * F.col("n_chars"))
        .cast("bigint")
        .alias("sxx"),
    )
    w = m.select(
        "source",
        "n_h",
        F.expr(
            "cast(round(sqrt(cast(greatest(n_h * sxx - sx * sx, 0)"
            " as double))) as bigint)"
        ).alias("wq"),
    )
    quota = largest_remainder_quota(
        w.select("source", "wq"), "source", "wq", 1000
    )
    return quota.join(m.select("source", "n_h"), "source").select(
        "source", "n_h", "wq", "base_quota", "rem_num", "quota"
    )


# Poisson(1) inverse-CDF ladder on the 32-bit hash domain: thresholds
# round(cum_pmf(k) * 2^32) for k = 0..6, computed once in exact Python
# and HARDCODED so both engines compare hashes against identical
# integers (P(X > 6) ~ 8.3e-5 truncates to weight 6 — a <1e-4 tail
# bias, far below bootstrap resampling noise at any n).
_POISSON_TH = (
    1580030169,
    3160060337,
    3950075422,
    4213413783,
    4279248374,
    4292415292,
    4294609778,
)
_BOOT_R = 32


def _poisson_w_sql(h: str) -> str:
    return (
        "CASE "
        + " ".join(
            f"WHEN {h} < {t} THEN {k}"
            for k, t in enumerate(_POISSON_TH)
        )
        + " ELSE 6 END"
    )


@query(
    "sample_poisson_bootstrap",
    oracle=f"""
    WITH ev AS (
      SELECT event_id,
             CAST(round(value * 1000000) AS BIGINT) AS qv
      FROM read_parquet('{{sf}}/events.parquet')
      WHERE value IS NOT NULL
    ), w AS (
      SELECT r.r, e.qv,
             {_poisson_w_sql(
                 "CAST(('0x' || substr(md5('bs' || CAST(r.r AS VARCHAR)"
                 " || ':' || CAST(e.event_id AS VARCHAR)), 1, 8))"
                 " AS BIGINT)"
             )} AS wt
      FROM ev e, (SELECT unnest(generate_series(0, {_BOOT_R - 1})) AS r) r
    ), reps AS (
      SELECT r, CAST(sum(wt * qv) AS BIGINT) AS swv,
             CAST(sum(wt) AS BIGINT) AS sw
      FROM w GROUP BY r
    ), means AS (
      SELECT r,
             CAST(CASE WHEN swv >= 0 THEN swv // greatest(sw, 1)
                       ELSE -((-swv) // greatest(sw, 1)) END AS BIGINT)
               AS m,
             row_number() OVER (
               ORDER BY CASE WHEN swv >= 0 THEN swv // greatest(sw, 1)
                             ELSE -((-swv) // greatest(sw, 1)) END, r)
               AS rk
      FROM reps
    ), pt AS (
      SELECT CAST(count(*) AS BIGINT) AS n_events,
             CAST(CASE WHEN sum(qv) >= 0 THEN sum(qv) // count(*)
                       ELSE -((-sum(qv)) // count(*)) END AS BIGINT)
               AS mean_e6
      FROM ev
    )
    SELECT pt.n_events, pt.mean_e6,
           (SELECT m FROM means WHERE rk = 2) AS boot_lo_e6,
           (SELECT m FROM means WHERE rk = {_BOOT_R - 1}) AS boot_hi_e6
    FROM pt
    """,
    tags=("sampling", "bootstrap", "confidence-interval"),
)
def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Poisson bootstrap CI for the mean event value
    (Chamandy et al., Google 2012 'Estimating uncertainty for massive
    data streams' — the resampling scheme that needs NO row count up
    front and no per-replicate shuffle of the data): each of R=32
    replicates weights every row by an independent Poisson(1) draw,
    realized DETERMINISTICALLY by pushing a per-(replicate, row) md5
    hash through the hardcoded inverse-CDF ladder (_POISSON_TH), so
    the 'randomness' replays bit-identically on both engines and
    across partitionings. Values quantize to the e6 grid before the
    weighted sums, so every replicate mean is a ratio of exact int64
    sums; the CI is the 2nd/31st order statistic of the 32 replicate
    means (~94% nominal coverage), deterministic rank tie-break by
    replicate id.

    Scale: ONE pass emitting R weight rows per input row (linear,
    narrow — no data shuffle; the groupBy key is the replicate id, 32
    groups with map-side partials); the CI selection runs on a 32-row
    frame. At 100 TB the cost is R x scan, embarrassingly parallel."""
    from ..operators.dedup import hash32
    from ..sources import fan_out

    # fan_out: R=32 md5 draws per event row, all in the narrow stage
    # streaming off a 1-split scan — one task without the spread
    # (measured 2.5s single-task; readers.py fan_out rationale)
    ev = fan_out(
        load_table(spark, sf_dir, "events").filter(
            F.col("value").isNotNull()
        )
    ).select(
        "event_id",
        F.expr("cast(round(value * 1000000) as bigint)").alias("qv"),
    )
    reps = spark.range(0, _BOOT_R).select(F.col("id").alias("r"))
    h = hash32(
        F.concat(
            F.lit("bs"),
            F.col("r").cast("string"),
            F.lit(":"),
            F.col("event_id").cast("string"),
        )
    )
    wt = F.when(h < _POISSON_TH[0], 0)
    for k, t in enumerate(_POISSON_TH[1:], start=1):
        wt = wt.when(h < t, k)
    wt = wt.otherwise(6)
    w = ev.crossJoin(F.broadcast(reps)).select(
        "r", "qv", wt.alias("wt")
    )
    repsum = w.groupBy("r").agg(
        F.sum(F.col("wt") * F.col("qv")).cast("bigint").alias("swv"),
        F.sum("wt").cast("bigint").alias("sw"),
    )
    # sign-split divisions (the ts_zipf_fit discipline): Spark `div`
    # truncates while DuckDB `//` floors, so they agree only on
    # non-negative operands — and value (hence swv / sum(qv)) may be
    # negative in general even though this generator emits positives
    means = repsum.select(
        "r",
        F.expr(
            "cast(case when swv >= 0 then swv div greatest(sw, 1)"
            " else -((-swv) div greatest(sw, 1)) end as bigint)"
        ).alias("m"),
    ).select(
        "m",
        F.row_number()
        .over(W.orderBy(F.expr("m"), F.col("r")))
        .alias("rk"),
    )
    pt = ev.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.expr(
            "cast(case when sum(qv) >= 0 then sum(qv) div count(*)"
            " else -((-sum(qv)) div count(*)) end as bigint)"
        ).alias("mean_e6"),
    )
    lo = means.filter(F.col("rk") == 2).select(
        F.col("m").alias("boot_lo_e6")
    )
    hi = means.filter(F.col("rk") == _BOOT_R - 1).select(
        F.col("m").alias("boot_hi_e6")
    )
    return (
        pt.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select("n_events", "mean_e6", "boot_lo_e6", "boot_hi_e6")
    )


@query(
    "sample_time_series_cv",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS n
      FROM read_parquet('{sf}/events.parquet') GROUP BY day
    ), idxed AS (
      SELECT day, n,
             row_number() OVER (ORDER BY day) AS idx,
             count(*) OVER () AS d_tot
      FROM daily
    ), folds AS (
      SELECT i.k AS fold, day, n, idx,
             (d_tot * i.k) // 6 AS train_end,
             (d_tot * (i.k + 1)) // 6 AS test_end
      FROM idxed, generate_series(1, 5) i(k)
    ), tagged AS (
      SELECT fold, day, n, idx, train_end,
             CASE WHEN idx <= train_end THEN 'train'
                  WHEN idx <= test_end THEN 'test' END AS part
      FROM folds
      WHERE idx <= test_end
    )
    SELECT fold,
           CAST(count(CASE WHEN part = 'train' THEN 1 END) AS BIGINT)
             AS train_days,
           CAST(count(CASE WHEN part = 'test' THEN 1 END) AS BIGINT)
             AS test_days,
           CAST(coalesce(sum(CASE WHEN part = 'train' THEN n END), 0)
                AS BIGINT) AS n_train_events,
           CAST(coalesce(sum(CASE WHEN part = 'test' THEN n END), 0)
                AS BIGINT) AS n_test_events,
           max(CASE WHEN part = 'train' THEN day END) AS train_end_day,
           min(CASE WHEN part = 'test' THEN day END) AS test_start_day
    FROM tagged GROUP BY fold
    """,
    tags=("sampling", "time-series-cv", "splits"),
)
def sample_time_series_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING-ORIGIN cross-validation folds (the time-series CV
    discipline: train always strictly precedes test, folds expand the
    origin forward — random K-fold on temporal data leaks the future
    into training; GroupKFold (sample_group_kfold) fixes entity leakage,
    THIS fixes temporal leakage). The day axis is rank-indexed once and
    cut at (D·k)/6 boundaries: fold k trains on day ranks [1, D·k/6]
    and tests on (D·k/6, D·(k+1)/6] — five expanding-window folds whose
    per-fold day/event tallies and boundary dates this query emits
    (train_end_day < test_start_day pinned per fold, the no-leak
    invariant). Plan: the corpus collapses to the per-DAY table first
    (the scale cut), then ONE global rank window over that
    calendar-bounded frame (|days| rows — allowlisted in the
    plan-hygiene pin like w9/dq_volume_anomaly), a 5-way fold fan-out
    of that tiny frame, and a 5-group aggregation. Integer cuts use
    nonnegative div so both engines floor identically."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w_all = W.partitionBy().rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    idxed = daily.select(
        "day",
        "n",
        F.row_number().over(W.partitionBy().orderBy("day")).alias("idx"),
        F.count(F.lit(1)).over(w_all).alias("d_tot"),
    )
    folds = idxed.withColumn(
        "fold", F.explode(F.sequence(F.lit(1), F.lit(5)))
    ).select(
        "fold",
        "day",
        "n",
        "idx",
        F.expr("(d_tot * fold) div 6").alias("train_end"),
        F.expr("(d_tot * (fold + 1)) div 6").alias("test_end"),
    )
    tagged = folds.filter(F.col("idx") <= F.col("test_end")).select(
        "fold",
        "day",
        "n",
        F.when(F.col("idx") <= F.col("train_end"), "train")
        .otherwise("test")
        .alias("part"),
    )
    is_train = F.when(F.col("part") == "train", 1)
    is_test = F.when(F.col("part") == "test", 1)
    return tagged.groupBy("fold").agg(
        F.count(is_train).cast("bigint").alias("train_days"),
        F.count(is_test).cast("bigint").alias("test_days"),
        F.coalesce(F.sum(F.when(F.col("part") == "train", F.col("n"))), F.lit(0))
        .cast("bigint")
        .alias("n_train_events"),
        F.coalesce(F.sum(F.when(F.col("part") == "test", F.col("n"))), F.lit(0))
        .cast("bigint")
        .alias("n_test_events"),
        F.max(F.when(F.col("part") == "train", F.col("day"))).alias(
            "train_end_day"
        ),
        F.min(F.when(F.col("part") == "test", F.col("day"))).alias(
            "test_start_day"
        ),
    )


@query(
    "sample_ht_estimator",
    oracle="""
    WITH docs AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w,
             CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS y
      FROM read_parquet('{sf}/documents.parquet')
    ), src AS (
      SELECT source, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(w) AS BIGINT) AS wtot,
             CAST(sum(y) AS BIGINT) AS ytot
      FROM docs GROUP BY source
    ), tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS total FROM src
    ), quota AS (
      SELECT source, wtot, ytot, cnt, base_quota
             + CASE WHEN row_number() OVER (ORDER BY rem_num DESC, source)
                    <= (SELECT 1000 - sum(base_quota) FROM (
                          SELECT (1000 * cnt) // total AS base_quota
                          FROM src, tot))
                    THEN 1 ELSE 0 END AS q
      FROM (
        SELECT source, wtot, ytot, cnt,
               (1000 * cnt) // total AS base_quota,
               (1000 * cnt) % total AS rem_num
        FROM src, tot
      )
    ), cum AS (
      SELECT d.doc_id, d.source, d.w, d.y, quota.q, quota.wtot,
             quota.ytot, quota.cnt,
             sum(d.w) OVER (PARTITION BY d.source ORDER BY d.doc_id
                            ROWS UNBOUNDED PRECEDING) AS cw
      FROM docs d JOIN quota ON quota.source = d.source
    ), marked AS (
      SELECT source, q, wtot, ytot, cnt, w, y,
             (cw * q) // wtot - ((cw - w) * q) // wtot AS m
      FROM cum
    )
    SELECT source,
           CAST(max(q) AS BIGINT) AS q,
           CAST(max(cnt) AS BIGINT) AS n_true,
           CAST(sum(CAST(round(CAST(m AS DOUBLE) * wtot / w * 1048576)
                         AS BIGINT)) AS DOUBLE) / 1048576.0 / max(q)
             AS est_n,
           CAST(max(ytot) AS BIGINT) AS tok_true,
           CAST(sum(CAST(round(CAST(m AS DOUBLE) * y * wtot / w * 1048576)
                         AS BIGINT)) AS DOUBLE) / 1048576.0 / max(q)
             AS est_tok
    FROM marked WHERE m > 0 GROUP BY source
    """,
    tags=("sampling", "pps", "horvitz-thompson", "estimator-audit"),
)
def sample_ht_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HANSEN–HURWITZ / HORVITZ–THOMPSON estimator audit — the query
    that PROVES the PPS sample is usable for inference, closing the
    sampling family's loop (sample_systematic_pps selects; THIS
    measures what the selection can estimate): from the identical
    char-weighted systematic PPS sample (same quotas, same cumulative
    boundaries), each sampled doc contributes multiplicity ·
    y·(W/w)/q — the inverse-probability reweighting — yielding
    per-source estimates of (a) the population DOC COUNT (y=1: the
    hard case, weight and target uncorrelated) and (b) the population
    TOKEN TOTAL (y=whitespace tokens, strongly length-correlated: PPS'
    design case, so its error is pinned tight while the count
    estimate's tolerance is loose). Both truths ride along from the
    stratum aggregates for a self-contained audit row. Determinism:
    selection is the exact-integer systematic rule; each HT term is
    one mirrored IEEE expression quantized onto the 2^-20 integer
    grid (the NLL-grid discipline — the decimal rail's half-up vs
    half-even cast divergence bit exactly once here) and summed as
    exact int64. Plan: the PPS machinery (catalog-bounded quota
    window + per-source cumsum) + one grouped reduction over the
    ≤budget sample rows."""
    from ..operators.ranking import largest_remainder_quota

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.col("n_chars").cast("bigint").alias("w"),
        F.size(
            F.filter(
                F.split(F.lower("text"), "\\s+"), lambda x: x != F.lit("")
            )
        ).cast("bigint").alias("y"),
    )
    src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("w").cast("bigint").alias("wtot"),
        F.sum("y").cast("bigint").alias("ytot"),
    )
    quota = largest_remainder_quota(
        src.select("source", "cnt"), "source", "cnt", 1000
    ).select("source", F.col("quota").alias("q")).join(src, "source")
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = docs.join(quota, "source").withColumn("cw", F.sum("w").over(w))
    marked = cum.select(
        "source",
        "q",
        "wtot",
        "ytot",
        "cnt",
        "w",
        "y",
        (
            F.expr("(cw * q) div wtot") - F.expr("((cw - w) * q) div wtot")
        ).alias("m"),
    ).filter(F.col("m") > 0)
    grid = F.lit(1048576)
    n_term = F.round(
        F.col("m").cast("double") * F.col("wtot") / F.col("w") * grid
    ).cast("bigint")
    t_term = F.round(
        F.col("m").cast("double") * F.col("y") * F.col("wtot") / F.col("w")
        * grid
    ).cast("bigint")
    return marked.groupBy("source").agg(
        F.max("q").cast("bigint").alias("q"),
        F.max("cnt").cast("bigint").alias("n_true"),
        (
            F.sum(n_term).cast("double") / F.lit(1048576.0) / F.max("q")
        ).alias("est_n"),
        F.max("ytot").cast("bigint").alias("tok_true"),
        (
            F.sum(t_term).cast("double") / F.lit(1048576.0) / F.max("q")
        ).alias("est_tok"),
    )


@query(
    "sample_weighted_reservoir",
    oracle="""
    WITH w AS (
      SELECT event_id, event_type, value,
             (CAST(('0x' || substr(md5('wres:' || CAST(event_id AS VARCHAR)),
                                   1, 8)) AS BIGINT) % 1048576 + 1) AS u_num
      FROM read_parquet('{sf}/events.parquet')
      WHERE value > 0
    ), keyed AS (
      SELECT event_id, event_type, value,
             CAST(round(ln(u_num / 1048576.0) * 1048576) AS BIGINT) AS lnu_q
      FROM w
    )
    SELECT event_id, event_type, value AS weight, lnu_q,
           CAST(lnu_q AS DOUBLE) / value AS res_key
    FROM keyed
    ORDER BY res_key DESC, event_id
    LIMIT 256
    """,
    tags=("sampling", "weighted-reservoir", "topk", "ln-grid"),
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis-Spirakis
    A-ES reservoir (IPL 2006): each row draws u~U(0,1] and ranks by
    u^(1/w) — the top-k ranks are a distribution-exact weighted sample,
    the per-item-weighted analog of sample_uniform_hash's coin flip
    (importance sampling reweights but keeps Bernoulli inclusion; this
    yields an EXACT size-k sample biased to heavy rows). Determinism is
    hash-built like the whole sampling family: u = (md5-hash(event_id)
    mod 2^20 + 1)/2^20 replays identically on re-run and cross-engine,
    and the rank key compares as ln(u)/w — ln staged on the 2^20 grid
    (lnu_q exact bigint), then ONE IEEE division by the raw weight,
    bit-identical in both engines on identical inputs. The +1 floors u
    at 2^-20 so ln never sees 0. value>0 is enforced in-plan (A-ES is
    undefined at w<=0), not assumed from the generator. Plan: narrow
    map + filter, then TakeOrderedAndProject — every partition keeps
    its local top-256 and the driver merges k·n_partitions rows; NO
    global sort, NO shuffle of the data, the cheapest distributed
    top-k shape at 100 TB. The state machinery is the shared
    operators/sketches.wres_state — top-k under the key's total order
    is a semilattice, so streaming/weighted_reservoir.py drains the
    SAME sample bit-identically (tests/test_streaming_wres.py)."""
    from ..operators.sketches import wres_state

    ev = load_table(spark, sf_dir, "events")
    state = wres_state(
        ev, "event_id", "value", k=256, payload=("event_type",)
    )
    return state.select(
        F.col("id").alias("event_id"),
        "event_type",
        "weight",
        "lnu_q",
        "res_key",
    )


@query(
    "sample_pareto_pps",
    oracle="""
    WITH w AS (
      SELECT o_orderkey AS okey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS w_cents
      FROM read_parquet('{sf}/orders.parquet')
    ), tot AS (
      SELECT CAST(sum(w_cents) AS BIGINT) AS d FROM w
    ), keyed AS (
      SELECT okey, w_cents,
             CAST(('0x' || substr(md5('pareto:' || CAST(okey AS VARCHAR)),
                                  1, 8)) AS BIGINT) % 1048575 + 1 AS u_q
      FROM w
    ), ranked AS (
      SELECT okey, w_cents,
             CAST(CASE WHEN 500 * w_cents >= t.d THEN 0
                  ELSE (CAST(u_q AS HUGEINT)
                        * (t.d - 500 * w_cents) * 1048576)
                       // (CAST(1048576 - u_q AS HUGEINT)
                           * 500 * w_cents)
             END AS BIGINT) AS q_q
      FROM keyed, tot t
    )
    SELECT okey, w_cents, q_q FROM ranked
    ORDER BY q_q, okey LIMIT 500
    """,
    tags=("sampling", "pps", "pareto", "deterministic"),
)
def sample_pareto_pps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto probability-proportional-to-size sampling (Rosén, JSPI
    1997) of n=500 orders weighted by order value — the fixed-size πps
    design with the best variance properties of the simple rank
    schemes: each unit gets the rank key Q = (u/(1-u)) /
    (p/(1-p)) with p = n*w/D its target inclusion probability, and the
    n SMALLEST keys are the sample (units whose p >= 1 get Q = 0:
    certainty inclusions, the standard Pareto convention). Against
    sample_systematic_pps (fixed-skip πps, zero joint-inclusion
    pathologies but order-dependent) this is order-FREE and
    merge-friendly: any partition can rank locally and the global
    bottom-n is exact — TakeOrderedAndProject, the per-partition
    n-heap + n-row driver merge, never a global sort. Determinism: u
    rides the seeded md5 grid in [1, 2^20-1] (both u and 1-u nonzero),
    and Q is staged as ONE truncating division of nonnegative
    decimal(38,0)/HUGEINT products (u*(D - n*w)*2^20 passes int64 at
    corpus weight past ~8e12 cents — real at 100 TB), so the same
    sample replays on any engine, the hash-sampling family contract."""
    w = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("w_cents"),
    )
    d = w.agg(F.sum("w_cents").cast("bigint")).scalar()
    keyed = w.select(
        "okey",
        "w_cents",
        (
            hash32(F.concat(F.lit("pareto:"), F.col("okey").cast("string")))
            % 1048575
            + 1
        ).alias("u_q"),
    )
    ranked = keyed.withColumn("d", d).select(
        "okey",
        "w_cents",
        F.expr(
            "cast(case when 500 * w_cents >= d then 0"
            " else (cast(u_q as decimal(38,0))"
            " * (d - 500 * w_cents) * 1048576)"
            " div (cast(1048576 - u_q as decimal(38,0))"
            " * 500 * w_cents) end as bigint)"
        ).alias("q_q"),
    )
    return ranked.orderBy("q_q", "okey").limit(500)


@query(
    "sample_seq_poisson",
    oracle="""
    WITH w AS (
      SELECT o_orderkey AS okey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS w_cents
      FROM read_parquet('{sf}/orders.parquet')
    ), tot AS (
      SELECT CAST(sum(w_cents) AS BIGINT) AS d FROM w
    ), keyed AS (
      SELECT okey, w_cents,
             CAST(('0x' || substr(md5('pareto:' || CAST(okey AS VARCHAR)),
                                  1, 8)) AS BIGINT) % 1048575 + 1 AS u_q
      FROM w
    ), ranked AS (
      SELECT okey, w_cents,
             CAST(CASE WHEN 500 * w_cents >= t.d THEN 0
                  ELSE (CAST(u_q AS HUGEINT) * t.d)
                       // (CAST(500 AS HUGEINT) * w_cents)
             END AS BIGINT) AS xi_q
      FROM keyed, tot t
    )
    SELECT okey, w_cents, xi_q FROM ranked
    ORDER BY xi_q, okey LIMIT 500
    """,
    tags=("sampling", "pps", "sequential-poisson", "deterministic"),
)
def sample_seq_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential Poisson sampling (Ohlsson, 'Sequential Poisson
    Sampling', J. Official Statistics 1998) of n=500 orders weighted
    by order value — the third fixed-size πps design in the family
    and the one national statistics offices standardized on (Sweden's
    consumer price index): rank key ξ = u/p with p = n*w/D, keep the
    n SMALLEST (certainty units with p >= 1 get ξ = 0, as in
    sample_pareto_pps). Simpler key than Pareto's odds ratio, slightly
    more variance (Rosén's asymptotic analysis) — shipping both makes
    the trade measurable. Deliberately rides the SAME 'pareto:'
    permanent-random-number grid as sample_pareto_pps: PRN sharing is
    Ohlsson's own coordination device — two designs (or two survey
    rounds) drawing on one u stream produce maximally overlapping
    samples, which is exactly what a training-data pipeline wants when
    it re-draws a sample after a design tweak without churning the
    downstream cache (the test pins the high overlap). Order-free and
    merge-friendly like Pareto: ξ is a pure per-row expression, the
    bottom-n is TakeOrderedAndProject (per-partition n-heaps + n-row
    driver merge, never a global sort); ξ_q = (u_q * D) div (n*w) is
    ONE truncating division of nonnegative decimal(38,0)/HUGEINT
    products (u_q*D passes int64 at corpus weight past ~8e12 cents —
    real at 100 TB)."""
    w = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("w_cents"),
    )
    d = w.agg(F.sum("w_cents").cast("bigint")).scalar()
    keyed = w.select(
        "okey",
        "w_cents",
        (
            hash32(F.concat(F.lit("pareto:"), F.col("okey").cast("string")))
            % 1048575
            + 1
        ).alias("u_q"),
    )
    ranked = keyed.withColumn("d", d).select(
        "okey",
        "w_cents",
        F.expr(
            "cast(case when 500 * w_cents >= d then 0"
            " else (cast(u_q as decimal(38,0)) * d)"
            " div (cast(500 as decimal(38,0)) * w_cents) end as bigint)"
        ).alias("xi_q"),
    )
    return ranked.orderBy("xi_q", "okey").limit(500)
