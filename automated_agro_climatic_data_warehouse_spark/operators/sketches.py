"""Bounded-state frequency sketches (candidate generation for exact
heavy hitters).

The scale problem: "which tokens exceed x% of a 100 TB corpus" cannot
afford a full groupBy over the vocabulary — the shuffle carries every
distinct token, and web-scale vocabularies are corpus-sized (typos,
numbers, hashes). The classical fix is a two-phase plan: a Misra-Gries
summary per partition (k counters of bounded state, streamed in one
pass, no shuffle) emits a small candidate set with a *superset
guarantee*, and an exact count restricted to candidates (a semi-join
prefilter, so the shuffle carries only candidate occurrences) makes the
final answer exact and partitioning-independent.

Guarantee (standard MG analysis + an averaging argument over
partitions): every decrement event subtracts some m from all counters
while at least k+1 counters are >= m, so the cumulative decrement any
item can absorb in partition p is <= n_p/(k+1); an item with partition
frequency > n_p/(k+1) therefore survives partition p's sketch. If an
item's GLOBAL frequency exceeds total/(k+1), then by averaging some
partition has freq_p > n_p/(k+1), so the union of per-partition sketches
contains every global heavy hitter above that threshold.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField, StructType


def mg_candidates(df: DataFrame, col: str, k: int) -> DataFrame:
    """Per-partition Misra-Gries candidate values of ``df[col]``.

    Returns one column ``col``: the union of each partition's surviving
    counters (<= k rows per partition, so <= k * n_partitions total —
    broadcastable). Contains every value whose global frequency exceeds
    ``total/(k+1)``. The sketch contents below that threshold are
    partition-dependent — callers MUST re-verify with an exact count
    (the candidate set is a prefilter, never the answer).

    Arrow-batched: each batch folds in via a vectorized value_counts;
    the decrement step subtracts the (k+1)-th largest counter from all
    and drops the non-positive (the batched form of MG's one-at-a-time
    decrement; same invariant, since the top k+1 counters each absorb
    the full subtraction).
    """
    schema = StructType([StructField(col, StringType())])

    def sketch(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for tok, c in pdf[col].value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(c)
            if len(counters) > k:
                m = sorted(counters.values(), reverse=True)[k]
                counters = {t: c - m for t, c in counters.items() if c > m}
        yield pd.DataFrame({col: list(counters.keys())}, dtype=object)

    return df.mapInPandas(sketch, schema)


# --- Count-Min sketch (the point-frequency complement to MG) ---------
#
# CMS is LINEAR in the count vector: cells built from per-key
# aggregates equal cells built row-at-a-time, and two sketches merge by
# cell-wise addition. One definition serves the batch audit
# (plans/events_queries.ev_cms_user_counts) and the streaming drain
# (streaming/cms_state.py) so streamed and batch sketches are
# interchangeable. Hashing is the portable md5 backend
# (operators/dedup.hash32 ↔ the oracle's '0x'||substr(md5) cast).

CMS_DEPTH = 4
CMS_WIDTH = 512


def cms_bucket(key, j):
    """Depth-j bucket of a key (Column in, Column out)."""
    from pyspark.sql import functions as F

    from .dedup import hash32

    return (
        hash32(
            F.concat(
                F.lit("cms"), j.cast("string"), F.lit(":"), key.cast("string")
            )
        )
        % CMS_WIDTH
    )


def cms_cells(df: DataFrame, key, weight: str | None = None) -> DataFrame:
    """The (j, bucket, cell) table of one frame's CMS over ``key`` —
    a fixed <= DEPTH x WIDTH integer relation however large the frame.

    CMS is linear in the count vector, so a caller that already holds a
    per-key aggregate passes its count column as ``weight`` and the
    cells are built from it directly (identical cells, no second
    aggregation of the raw frame); with ``weight=None`` the frame is
    counted per key first."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    depths = spark.range(CMS_DEPTH).select(
        F.col("id").cast("int").alias("j")
    )
    if weight is None:
        per_key = df.groupBy(key.alias("key")).agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
    else:
        per_key = df.select(
            key.alias("key"), F.col(weight).cast("bigint").alias("c")
        )
    return (
        per_key.crossJoin(F.broadcast(depths))
        .select(
            "j", cms_bucket(F.col("key"), F.col("j")).alias("bucket"), "c"
        )
        .groupBy("j", "bucket")
        .agg(F.sum("c").cast("bigint").alias("cell"))
    )


def cms_estimate(cells: DataFrame, keys: DataFrame, key_col: str) -> DataFrame:
    """Point estimates for ``keys[key_col]`` against a cell table:
    min over depths of the key's bucket cells (missing cells are 0 —
    an empty cell proves count 0). The cell table broadcasts by
    construction (<= DEPTH x WIDTH rows)."""
    from pyspark.sql import functions as F

    spark = cells.sparkSession
    depths = spark.range(CMS_DEPTH).select(
        F.col("id").cast("int").alias("j")
    )
    probes = (
        keys.select(F.col(key_col).alias("key"))
        .crossJoin(F.broadcast(depths))
        .select(
            "key", "j", cms_bucket(F.col("key"), F.col("j")).alias("bucket")
        )
    )
    return (
        probes.join(F.broadcast(cells), ["j", "bucket"], "left")
        .groupBy("key")
        .agg(
            F.min(F.coalesce(F.col("cell"), F.lit(0)))
            .cast("bigint")
            .alias("cms_est")
        )
    )


BLOOM_DEPTH = 4
BLOOM_BITS = 4096


def bloom_bit(key, j):
    """Depth-j Bloom bit position of a key (Column in, Column out) —
    same portable md5 backend as cms_bucket; shared by the batch FPR
    audit (ev_bloom_fpr_audit) and its no-false-negative test so the
    filter geometry has one definition."""
    from pyspark.sql import functions as F

    from .dedup import hash32

    return (
        hash32(
            F.concat(
                F.lit("bf"), j.cast("string"), F.lit(":"), key.cast("string")
            )
        )
        % BLOOM_BITS
    )


def bloom_positions(df: DataFrame, key) -> DataFrame:
    """(key, bit) rows: every depth's bit position for each key of
    ``df`` — the relational form of inserting/probing a Bloom filter."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    depths = spark.range(BLOOM_DEPTH).select(
        F.col("id").cast("int").alias("j")
    )
    return df.crossJoin(F.broadcast(depths)).select(
        key.alias("key"), bloom_bit(key, F.col("j")).alias("bit")
    )


WINNOW_K = 8  # char k-gram length
WINNOW_W = 4  # selection window (positions per window)


def winnowing_selected(df: DataFrame, id_col: str, text_col) -> DataFrame:
    """Distinct winnowing-selected fingerprint keys per document
    (Schleimer/Wilkerson/Aiken, SIGMOD'03): hash every char k-gram of
    ``text_col`` (lowered), slide a w-position window, select each
    window's minimum with rightmost-on-ties — the tie-break folded into
    one integer key = hash40·2^16 + (2^16−1−pos), max 2^56. Returns
    (``id_col``, nk = k-gram count, key); fingerprint hash = key div
    65536. Shared by the registered census query
    (plans/textstats_queries.ts_winnowing_fingerprint — whose DuckDB
    oracle mirrors this construction) and the shared-substring
    guarantee test, so the algorithm has one definition. Documents
    shorter than k + w − 1 chars (no full window) drop; position
    encoding requires text length < 2^16."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    kk, ww = WINNOW_K, WINNOW_W
    base = df.select(
        F.col(id_col), F.lower(text_col).alias("lt")
    ).filter(F.length("lt") >= kk + ww - 1)
    keyed = base.select(
        id_col,
        (F.length("lt") - (kk - 1)).cast("bigint").alias("nk"),
        F.explode(
            F.sequence(F.lit(1), F.length("lt") - (kk - 1))
        ).alias("p"),
        F.col("lt"),
    ).select(
        id_col,
        "nk",
        "p",
        (
            F.conv(
                F.substring(
                    F.md5(F.expr(f"substring(lt, p, {kk})")), 1, 10
                ),
                16,
                10,
            ).cast("bigint")
            * 65536
            + (65535 - F.col("p"))
        ).alias("key"),
    )
    w = W.partitionBy(id_col).orderBy("p").rowsBetween(0, ww - 1)
    return (
        keyed.withColumn("k", F.min("key").over(w))
        .filter(F.col("p") <= F.col("nk") - (ww - 1))
        .select(id_col, "nk", "k")
        .distinct()
    )


def kmv_bottomk(
    df: DataFrame, hash_col: str, tiebreak: str, k: int
) -> DataFrame:
    """Deterministic bottom-k-by-hash: the k rows with the smallest
    (hash, tiebreak). This is the repo's mergeable QUANTILE/DISTINCT
    sketch state (the domain-free complement to the fixed-grid
    histogram in streaming/grid_quantiles.py): bottom-k under a total
    order is a SEMILATTICE — merge(A, B) = bottomk(A ∪ B) is
    associative, commutative and idempotent — so the sketch is
    BIT-IDENTICAL however the input was partitioned or micro-batched,
    which is what lets the streaming drain pin stream ≡ batch exactly
    and the DuckDB oracle replicate the whole sketch in SQL. (A
    KLL/t-digest compactor would need coin flips or merge-order-
    dependent state: strictly better worst-case rank error, but
    unverifiable by hash comparison; the uniform bottom-k sample's
    DKW bound — sup rank error ≤ sqrt(ln(2/δ)/2k) w.p. 1−δ — is
    pinned in tests instead.)

    Spark plans orderBy+limit as TakeOrderedAndProject: a per-partition
    k-heap plus a k-row driver merge, never a global sort — the same
    bounded-state shape at 1000 executors."""
    return df.orderBy(hash_col, tiebreak).limit(k)


def quantiles_from_sample(
    samp: DataFrame,
    percentiles: tuple[int, ...] = (1, 5, 25, 50, 75, 95, 99),
) -> DataFrame:
    """Percentile estimates from a (small, ≤k-row) uniform sample of
    `value`:
    sort the sample once into an array, then read the order statistic
    at rank max(1, ceil(p·m/100)) per requested integer percentile.
    One 1-row aggregation + a 7-way explode — no window functions, no
    extra shuffle. The emitted value is an UNTOUCHED input double
    (an order statistic, not an interpolation), so it is exactly
    reproducible by the SQL twin. Columns: p, est_value, sample_m."""
    from pyspark.sql import functions as F

    arr = samp.groupBy().agg(
        F.sort_array(F.collect_list("value")).alias("vs"),
        F.count(F.lit(1)).cast("bigint").alias("m"),
    )
    ps = F.array(*[F.lit(p) for p in percentiles])
    return (
        arr.select(F.explode(ps).alias("p"), "vs", "m")
        .select(
            F.col("p").cast("bigint").alias("p"),
            F.try_element_at(
                "vs",
                F.greatest(
                    F.lit(1), F.expr("(p * m + 99) div 100")
                ).cast("int"),
            ).alias("est_value"),
            F.col("m").alias("sample_m"),
        )
    )


def kmv_row_hash(id_col) -> "Column":
    """Portable 32-bit row-identity hash for the quantile sample,
    seeded 'q:' to decorrelate from every other hash family in the
    repo. DuckDB twin: CAST('0x' || substr(md5('q:' ||
    CAST(id AS VARCHAR)), 1, 8) AS BIGINT)."""
    from pyspark.sql import functions as F

    from .dedup import hash32

    return hash32(F.concat(F.lit("q:"), id_col.cast("string")))


def kmv_state(
    df: DataFrame, id_col: str, value_col: str, k: int
) -> DataFrame:
    """The quantile sketch's state frame: (h, id, value) bottom-k by
    the seeded portable hash of the row identity. Shared by the batch
    query (ev_quantile_sketch) and the per-micro-batch leg of the
    streaming drain (streaming/kmv_quantiles.py) so 'the sketch' is
    one definition."""
    from pyspark.sql import functions as F

    return kmv_bottomk(
        df.select(
            kmv_row_hash(F.col(id_col)).alias("h"),
            F.col(id_col).alias("id"),
            F.col(value_col).alias("value"),
        ),
        "h",
        "id",
        k,
    )


def kmv_flags_bottomk(flags: DataFrame, k: int) -> DataFrame:
    """KMV SET-OPERATION sketch state: from (hv, in_a, in_b) membership
    rows, OR-merge flags per hash then keep the k smallest hashes —
    the union-sample Jaccard estimator's state (ev_kmv_jaccard_types;
    Beyer et al. SIGMOD'07). The merge is a semilattice like the
    quantile sample's, with one extra argument for the flags: an hv in
    the FINAL bottom-k of a union is within bottom-k of every subset
    containing it (a subset has no more smaller hashes than the
    union), so no intermediate merge can drop an occurrence whose hash
    survives to the end — OR'd flags therefore accumulate exactly the
    union semantics however the input was partitioned or
    micro-batched, and the streaming drain's stream ≡ batch pin is
    exact row equality (streaming/kmv_setops.py)."""
    from pyspark.sql import functions as F

    merged = flags.groupBy("hv").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    return kmv_bottomk(merged, "hv", "hv", k)


# ---------------------------------------------------------------- digest

# Sub-buckets per dyadic band: DIGEST_DELTA in the shard-local digests,
# DIGEST_DELTA2 in the re-cluster merge. The oracle twins read both.
DIGEST_DELTA, DIGEST_DELTA2 = 16, 32


def biased_digest_local(
    df: DataFrame,
    shard_col: str,
    value_col: str,
    id_col: str,
    group_cols: tuple[str, ...] = (),
    weight_col: str | None = None,
) -> DataFrame:
    """Per-shard TAIL-BIASED RANK DIGEST — the KLL/t-digest family's
    accuracy profile (fine resolution at the distribution tails, coarse
    in the middle) built DETERMINISTICALLY, so the whole sketch is
    hash-verifiable by the DuckDB oracle, unlike classic KLL (coin-flip
    compaction) or t-digest (merge-order-dependent centroids) — see the
    kmv_bottomk docstring for why that verifiability matters here.

    Construction (all exact integer arithmetic): within each shard,
    rank rows by (value, id); let d = min(r, m+1-r) be the distance to
    the nearest tail and l = floor(log2 d) its dyadic level (computed
    as length(bin(d))-1 — no floats). Each dyadic band [2^l, 2^(l+1))
    is split into ``DIGEST_DELTA`` equal sub-buckets; a centroid keeps
    (cnt, sum, min, max) per (shard, side, l, sub) bucket.

    Accuracy: a bucket at tail-distance d spans <= 2^l/DIGEST_DELTA <= d/DIGEST_DELTA
    ranks, so the within-shard rank uncertainty at quantile q is a
    RELATIVE d/DIGEST_DELTA — the biased-quantiles guarantee (Cormode et al.
    SIGMOD'05; the same invariant t-digest's scale function encodes),
    vs the uniform bottom-k sample's ADDITIVE DKW bound. State per
    shard is <= 2 * DIGEST_DELTA * log2(m) centroids.

    Scale: ONE shuffle (the shard-partitioned rank window); shard count
    should track input partitions (thousands at 100 TB) so each sort is
    partition-local in spirit. The output frame is
    O(shards * DIGEST_DELTA * log m) — the merge input, never corpus-sized.

    ``group_cols``: optional grouping keys (e.g. event_type) — one
    independent digest per group, all windows partitioned by
    (group..., shard). This is the million-group production shape: no
    global window anywhere, per-group state stays bounded.

    ``weight_col``: optional positive int64 row weights — the digest
    then approximates the WEIGHT-quantile function (e.g. token-weighted
    document length: the length distribution as the training loss sees
    it). Ranks become weighted-midpoint cumulative ranks; the merge
    stage is already weight-native (cnt doubles as weight), so weighted
    digests flow through merge/readout unchanged. cnt then holds total
    WEIGHT per centroid (readout targets are weight ranks)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    g = list(group_cols)
    w = W.partitionBy(*g, shard_col)
    ordw = w.orderBy(F.col(value_col), F.col(id_col))
    if weight_col is None:
        ranked = df.select(
            *g,
            F.col(shard_col).alias("shard"),
            F.col(value_col).alias("qv"),
            F.lit(1).cast("bigint").alias("wt"),
            F.row_number().over(ordw).cast("bigint").alias("r"),
            F.count(F.lit(1)).over(w).cast("bigint").alias("m"),
        )
    else:
        ranked = df.select(
            *g,
            F.col(shard_col).alias("shard"),
            F.col(value_col).alias("qv"),
            F.col(weight_col).cast("bigint").alias("wt"),
            F.sum(weight_col).over(ordw).cast("bigint").alias("wend"),
            F.sum(weight_col).over(w).cast("bigint").alias("m"),
        ).select(
            *g,
            "shard",
            "qv",
            "wt",
            F.expr("wend - wt + ((wt + 1) div 2)").alias("r"),
            "m",
        )
    b = ranked.select(
        *g,
        "shard",
        "qv",
        "wt",
        F.expr("least(r, m + 1 - r)").alias("d"),
        F.expr("case when r * 2 <= m + 1 then 0 else 1 end").alias("side"),
    ).select(
        *g,
        "shard",
        "qv",
        "wt",
        "side",
        F.expr("length(bin(d)) - 1").alias("l"),
        F.col("d"),
    ).select(
        *g,
        "shard",
        "qv",
        "wt",
        "side",
        "l",
        F.expr(
            f"({DIGEST_DELTA} * (d - shiftleft(1L, cast(l as int))))"
            " div shiftleft(1L, cast(l as int))"
        ).alias("sub"),
    )
    # cnt = total weight per bucket (count when unweighted); sum_qv is
    # the WEIGHTED value sum so est = sum_qv/cnt stays the bucket's
    # weighted mean in both modes
    return b.groupBy(*g, "shard", "side", "l", "sub").agg(
        F.sum("wt").cast("bigint").alias("cnt"),
        F.sum(F.col("qv") * F.col("wt")).cast("bigint").alias("sum_qv"),
        F.min("qv").alias("min_qv"),
        F.max("qv").alias("max_qv"),
    )


def biased_digest_merge(
    centroids: DataFrame,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Re-cluster a (possibly multi-source) centroid frame into one
    digest by GLOBAL weighted tail-distance: order centroids by
    (min_qv, max_qv, tiebreak), take each centroid's weighted midpoint
    rank, and re-bucket with the same dyadic/sub-bucket rule at
    resolution ``DIGEST_DELTA2``. Adds <= d/DIGEST_DELTA2 rank uncertainty on top of
    the inputs' — error composes additively per merge, independent of
    how the data was sharded or micro-batched.

    The input needs columns (cnt, sum_qv, min_qv, max_qv, tb) with tb a
    unique tiebreak. With ``group_cols`` empty the windows are GLOBAL
    but over the centroid frame only — bounded by construction
    (O(shards * DIGEST_DELTA * log m)), never corpus-sized; with group keys
    (one digest per group) every window is partitioned by them — the
    million-group shape needs no allowlist at all."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    gc = list(group_cols)
    ordw = W.partitionBy(*gc).orderBy("min_qv", "max_qv", "tb")
    allw = W.partitionBy(*gc) if gc else W.partitionBy()
    g = centroids.select(
        *gc,
        "cnt",
        "sum_qv",
        "min_qv",
        "max_qv",
        F.sum("cnt").over(ordw).alias("wend"),
        F.sum("cnt").over(allw).alias("n"),
    ).select(
        *gc,
        "cnt",
        "sum_qv",
        "min_qv",
        "max_qv",
        "n",
        F.expr("wend - cnt + ((cnt + 1) div 2)").alias("rmid"),
    ).select(
        *gc,
        "cnt",
        "sum_qv",
        "min_qv",
        "max_qv",
        F.expr("least(rmid, n + 1 - rmid)").alias("d"),
        F.expr("case when rmid * 2 <= n + 1 then 0 else 1 end").alias(
            "side"
        ),
    ).select(
        *gc,
        "cnt",
        "sum_qv",
        "min_qv",
        "max_qv",
        "side",
        F.expr("length(bin(d)) - 1").alias("l"),
        "d",
    ).select(
        *gc,
        "cnt",
        "sum_qv",
        "min_qv",
        "max_qv",
        "side",
        "l",
        F.expr(
            f"({DIGEST_DELTA2} * (d - shiftleft(1L, cast(l as int))))"
            " div shiftleft(1L, cast(l as int))"
        ).alias("sub"),
    )
    return g.groupBy(*gc, "side", "l", "sub").agg(
        F.sum("cnt").cast("bigint").alias("cnt"),
        F.sum("sum_qv").cast("bigint").alias("sum_qv"),
        F.min("min_qv").alias("min_qv"),
        F.max("max_qv").alias("max_qv"),
    )


def biased_digest_quantiles(
    digest: DataFrame,
    permille: tuple[int, ...] = (500, 950, 990, 999),
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Quantile readout from a merged digest: order centroids by
    (min_qv, max_qv, side, l, sub), find the centroid whose cumulative
    weight first reaches the target rank t = ceil(p * n / 1000), and
    emit its exact-integer mean (sign-split div) plus its value range.
    Output: (group..., p_permille, est_e6, c_min_e6, c_max_e6, n) — one
    row per group per requested per-mille quantile. Windows are over
    the digest frame (bounded; partitioned when group_cols given)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    gc = list(group_cols)
    ordw = W.partitionBy(*gc).orderBy("min_qv", "max_qv", "side", "l", "sub")
    allw = W.partitionBy(*gc) if gc else W.partitionBy()
    cum = digest.select(
        *gc,
        "cnt",
        "sum_qv",
        "min_qv",
        "max_qv",
        F.sum("cnt").over(ordw).alias("cum"),
        F.sum("cnt").over(allw).alias("n"),
    )
    ps = F.array(*[F.lit(p) for p in permille])
    hits = cum.select(
        "*", F.explode(ps).alias("p_permille")
    ).filter(
        F.expr(
            "cum >= greatest(1, (p_permille * n + 999) div 1000)"
            " and cum - cnt < greatest(1, (p_permille * n + 999) div 1000)"
        )
    )
    return hits.select(
        *gc,
        F.col("p_permille").cast("bigint").alias("p_permille"),
        F.expr(
            "cast(case when sum_qv >= 0 then sum_qv div cnt"
            " else -((-sum_qv) div cnt) end as bigint)"
        ).alias("est_e6"),
        F.col("min_qv").alias("c_min_e6"),
        F.col("max_qv").alias("c_max_e6"),
        F.col("n").alias("n"),
    )


def wres_key(id_col) -> "Column":
    """The ln(u) half of the Efraimidis-Spirakis A-ES reservoir rank
    key: hash-derived u staged on the 2^20 ln-grid, returned as the
    exact bigint lnu_q (see sample_weighted_reservoir). The ONE IEEE
    division by the weight that completes the rank key ln(u)/w happens
    in wres_state, which keeps lnu_q alongside so the state replays.
    Seeded 'wres:' to decorrelate from the other hash families.
    DuckDB twin of THIS column: CAST(round(ln(((CAST('0x' ||
    substr(md5('wres:' || id), 1, 8) AS BIGINT) % 1048576) + 1)
    / 1048576.0) * 1048576) AS BIGINT)."""
    from pyspark.sql import functions as F

    from .dedup import hash32

    u_num = hash32(F.concat(F.lit("wres:"), id_col.cast("string"))) % 1048576 + 1
    lnu_q = (
        F.round(F.log(u_num / F.lit(1048576.0)) * F.lit(1048576))
        .cast("bigint")
    )
    return lnu_q


def wres_topk(df: DataFrame, k: int) -> DataFrame:
    """Top-k rows by (res_key DESC, id) — the A-ES weighted-reservoir
    state. Like kmv_bottomk this is a SEMILATTICE under the total order
    (merge = topk of the union: associative, commutative, idempotent),
    so the streamed state is bit-identical to the batch state under any
    micro-batching, and Spark plans it as TakeOrderedAndProject (per-
    partition k-heap + k-row driver merge, never a global sort)."""
    from pyspark.sql import functions as F

    return df.orderBy(F.desc("res_key"), F.asc("id")).limit(k)


def wres_state(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    payload: tuple[str, ...] = (),
) -> DataFrame:
    """The weighted reservoir's state frame: (res_key, id, weight, lnu_q
    [, payload...]) top-k by the A-ES key. Shared by the batch query
    (sample_weighted_reservoir) and the per-micro-batch leg of the
    streaming drain (streaming/weighted_reservoir.py) so 'the sample'
    is one definition. Rows with weight <= 0 are excluded (A-ES is
    undefined there)."""
    from pyspark.sql import functions as F

    lnu_q = wres_key(F.col(id_col))
    keyed = df.filter(F.col(weight_col) > 0).select(
        F.col(id_col).alias("id"),
        F.col(weight_col).alias("weight"),
        lnu_q.alias("lnu_q"),
        *[F.col(c) for c in payload],
    ).withColumn("res_key", F.col("lnu_q").cast("double") / F.col("weight"))
    return wres_topk(keyed, k)
