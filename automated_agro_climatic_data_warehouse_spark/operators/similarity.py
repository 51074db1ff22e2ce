"""Embedding similarity search (north-star extension — BASELINE.json:
similarity search over array<float> embedding columns).

- `cosine`: explicit double-precision fold — element-wise product summed
  left-to-right. Bit-reproducible across Spark and DuckDB (verified:
  435/435 pairs exact), unlike the engines' built-in float32
  list_cosine_similarity.
- `brute_force_topk`: queries × corpus cross join → window top-k. The
  exact baseline; quadratic, fine for ≤10^4×10^5 at one executor-batch
  each, and embarrassingly parallel (partition on query id).
- `sign_bucket` + `bucketed_topk`: IVF-style coarse quantization on sign
  bits of the leading dimensions. Candidates only within the query's
  bucket → cost drops by ~2^bits; the 100 TB path (bucket is a
  shuffle-friendly uniform key; per-bucket joins co-locate).

Ranking determinism: ties broken by neighbor id; outputs emit integer
ranks, not floats, so the driver hash never touches a rounded float.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, LongType, ShortType
from pyspark.sql.window import Window as W

from ..session import iterate, local_frame

# Scores are rounded to this many decimals before ranking so that
# near-tied-but-unequal cosines (einsum vs fold summation order differs in
# the last ulps) rank identically in Spark and the DuckDB oracle; exact
# ties then break deterministically by neighbor id.
SCORE_DECIMALS = 12

# The IVF family's fixed geometry, read by the plans and their DuckDB
# twins alike: IVF_K neighbours per query, a quantizer seeded by the
# first IVF_LISTS vectors by id, and corpus vectors spilled into their
# IVF_SPILL nearest lists.
IVF_K, IVF_LISTS, IVF_SPILL = 5, 16, 2

# numpy dtype + Spark DDL name per supported id column type
_ID_TYPES = {
    LongType(): (np.int64, "long"),
    IntegerType(): (np.int32, "int"),
    ShortType(): (np.int16, "short"),
}


def _id_dtype(corpus: DataFrame):
    """(numpy dtype, spark ddl type) for the vec_id column, or raise."""
    spark_type = corpus.schema["vec_id"].dataType
    try:
        return _ID_TYPES[spark_type]
    except KeyError:
        raise TypeError(
            f"brute_force_topk: unsupported id column type "
            f"{spark_type.simpleString()} for 'vec_id'; "
            f"expected one of {[t.simpleString() for t in _ID_TYPES]}"
        ) from None


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / F.sqrt(dot(a, a)) / F.sqrt(dot(b, b))


def l2_normalize(vec: Column) -> Column:
    """Unit-vector rescale of an array<float|double> column (map-side,
    zero shuffle). Library form returns the array; driver-checked queries
    posexplode it to scalar rows (the driver's canonicalizer cannot hash
    list cells)."""
    norm = F.sqrt(dot(vec, vec))
    return F.transform(vec, lambda x: x.cast("double") / norm)


def int8_scale(vec: Column) -> Column:
    """Per-vector absmax/127 scale of symmetric int8 quantization."""
    return F.array_max(
        F.transform(vec, lambda x: F.abs(x.cast("double")))
    ) / F.lit(127.0)


@F.pandas_udf(DoubleType())
def cosine_pandas(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-vectorized cosine: numpy einsum over the batch instead of a
    per-element higher-order-function fold (~10-100× faster; the HOF fold
    evaluates one interpreted lambda per vector element). Summation order
    differs from the left-to-right fold in the last ulps, so use this ONLY
    where the query output is rank-integers, never raw cosine doubles —
    those need the bit-reproducible `cosine` above for oracle parity."""
    ma = np.stack(a.values).astype(np.float64)
    mb = np.stack(b.values).astype(np.float64)
    num = np.einsum("ij,ij->i", ma, mb)
    den = np.sqrt(np.einsum("ij,ij->i", ma, ma)) * np.sqrt(
        np.einsum("ij,ij->i", mb, mb)
    )
    return pd.Series(num / den)


def _top_k(scored: DataFrame, k: int, *cols: str | Column) -> DataFrame:
    """The k best `neighbor_id`s per `query_id` by rounded cosine `__cos`,
    ties broken by neighbor id: `cols` plus the 1-based `rank`."""
    w = W.partitionBy("query_id").orderBy(F.desc("__cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*cols, "rank")
    )


def _join_scored(q: DataFrame, c: DataFrame, keys: list[str]) -> DataFrame:
    """Probe rows (query_id, __qv) equi-joined on `keys` to candidate rows
    (neighbor_id, __cv), self pairs dropped, scored by rounded cosine."""
    return (
        q.join(c, keys)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "__cos",
            F.round(cosine_pandas(F.col("__qv"), F.col("__cv")), SCORE_DECIMALS),
        )
    )


def brute_force_topk(
    corpus: DataFrame, query_pred: Column, k: int = 5, max_probe: int = 10_000
) -> DataFrame:
    """Exact cosine top-k for every row matching query_pred, over the whole
    corpus (self excluded).

    Plan: broadcast the (small, bounded) query matrix to every task and
    stream the corpus once through mapInPandas — each Arrow batch does one
    float64 GEMM against all queries and keeps only its local top-k per
    query, so the reduce stage sees ≤ k·partitions rows per query instead
    of the full |Q|×|C| cross join. This is the distributed exact-kNN
    shape that survives a 100× corpus scale-up: no pair materialization,
    no duplicate query-vector transfer, one narrow scan + a tiny window.
    Ties break by neighbor id both batch-locally (lexsort) and in the
    global window, so the partial top-k is exact.

    The probe set is collected to the driver before broadcast, so its size
    is capped at `max_probe` rows: a broader query_pred raises with a
    pointer to `bucketed_topk` (the probe side there stays distributed).
    An empty probe set returns an empty result frame."""
    np_id, ddl_id = _id_dtype(corpus)
    out_schema = f"query_id {ddl_id}, neighbor_id {ddl_id}, rank int"
    q_rows = (
        corpus.filter(query_pred)
        .select("vec_id", "embedding")
        .limit(max_probe + 1)  # bound the driver transfer before collect
        .collect()
    )
    if len(q_rows) > max_probe:
        raise ValueError(
            f"brute_force_topk: query_pred selected more than {max_probe} "
            f"probe rows; the probe set is broadcast from the driver, so "
            f"use bucketed_topk (distributed probe side) or raise max_probe"
        )
    spark = corpus.sparkSession
    if not q_rows:
        return local_frame(spark, [], out_schema)
    q_ids = np.array([r[0] for r in q_rows], dtype=np_id)
    q_mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    q_norm = np.sqrt(np.einsum("ij,ij->i", q_mat, q_mat))
    bq = spark.sparkContext.broadcast((q_ids, q_mat, q_norm))

    def partial_topk(batches):
        ids, qm, qn = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            nid = pdf["vec_id"].to_numpy(dtype=np_id)
            cm = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"].values]
            )
            cn = np.sqrt(np.einsum("ij,ij->i", cm, cm))
            # round before any ranking so the batch-local top-k and the
            # global window rank by the same tolerance-stable key
            cos = np.round((qm @ cm.T) / qn[:, None] / cn[None, :], SCORE_DECIMALS)
            out_q, out_n, out_c = [], [], []
            for qi in range(len(ids)):
                row = cos[qi]
                keep = nid != ids[qi]
                cand_n, cand_c = nid[keep], row[keep]
                order = np.lexsort((cand_n, -cand_c))[:k]
                out_q.append(np.full(len(order), ids[qi], dtype=np_id))
                out_n.append(cand_n[order])
                out_c.append(cand_c[order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "__cos": np.concatenate(out_c),
                }
            )

    from ..sources import fan_out

    # spread the compact (id, vec) rows before the CPU-dense GEMM: the
    # testdata parquet is single-row-group, so without it the whole
    # batch matmul runs on 1 task (measured 0.8 s/1t in the recall-eval
    # profile; the r11 fan_out class — embedding rows are compact, so
    # the round-robin shuffle is noise next to the per-row compute)
    partials = fan_out(corpus.select("vec_id", "embedding")).mapInPandas(
        partial_topk, f"query_id {ddl_id}, neighbor_id {ddl_id}, __cos double"
    )
    return _top_k(partials, k, "query_id", "neighbor_id")


def sign_bucket(vec: Column, bits: int = 3) -> Column:
    """IVF-ish coarse code: sign bits of the first `bits` dimensions."""
    code = F.lit(0)
    for i in range(bits):
        code = code + F.when(
            F.element_at(vec, i + 1).cast("double") > 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    return code


def bucketed_topk(corpus: DataFrame, query_pred: Column) -> DataFrame:
    """Approximate top-3: candidates restricted to the query's 3-bit sign
    bucket. The bucket equi-join replaces the cross join — this is the
    plan whose cost survives a 100× corpus scale-up."""
    with_bucket = corpus.withColumn("__bkt", sign_bucket(F.col("embedding"), 3))
    q = with_bucket.filter(query_pred).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv"), "__bkt"
    )
    c = with_bucket.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cv"), "__bkt"
    )
    scored = _join_scored(q, c, ["__bkt"])
    return _top_k(scored, 3, "query_id", F.col("__bkt").alias("bucket"), "neighbor_id")


def filtered_topk(
    corpus: DataFrame, query_pred: Column, filter_cols: list[str], k: int = 3
) -> DataFrame:
    """FILTERED approximate top-k: candidates must match the query on
    every `filter_cols` attribute (tenant / language / label scoping —
    the metadata-filtered vector search every serving stack needs) AND
    share its 2-bit sign bucket. The filter participates in the join KEY
    (composite equi-join on filter_cols + bucket), not as a
    post-ranking predicate — post-filtering an unfiltered top-k loses
    recall whenever fewer than k of the global neighbors satisfy the
    predicate, the classic filtered-ANN failure mode. Keying the join
    also keeps the 100 TB plan shape: candidates shuffle on
    (attributes, bucket), so per-query work is the query's own cell,
    never the corpus, and selective filters make the search CHEAPER,
    not lossier.

    Sparse-cell caveat: a query whose cell holds < k other vectors
    returns fewer than k rows (exactly the candidate set) rather than
    silently widening the search — callers wanting guaranteed k fall
    back to a (filter_cols)-only join.
    """
    with_bucket = corpus.withColumn("__bkt", sign_bucket(F.col("embedding"), 2))
    q = with_bucket.filter(query_pred).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        "__bkt",
        *filter_cols,
    )
    c = with_bucket.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cv"),
        "__bkt",
        *filter_cols,
    )
    scored = _join_scored(q, c, [*filter_cols, "__bkt"])
    return _top_k(scored, k, "query_id", *filter_cols, "neighbor_id")


def nearest_centroids(
    vectors: DataFrame, centroids: DataFrame, nprobe: int
) -> DataFrame:
    """Top-`nprobe` centroids per vector: broadcast the (tiny) centroid
    table, score with the bit-reproducible fold `cosine` (assignment flips
    would cascade into different candidate sets, so the assignment score
    must be engine-exact, not just tolerance-rounded), rank with the usual
    round + centroid-id tiebreak. Output: (vec_id, embedding, centroid_id,
    probe_rank).
    """
    c = centroids.select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("__cv")
    )
    # The probe-rank window below needs hashpartitioning(id) anyway —
    # repartitioning HERE is that same exchange pulled below the
    # centroid scoring (EnsureRequirements adds none on top), so the
    # row-expensive per-centroid cosine fold runs at cluster
    # parallelism instead of on the scan's splits (the testdata parquet
    # is single-row-group: measured 0.8 s/1-task assignment stages in
    # the IVF family profiles). Zero extra exchanges at any scale.
    vectors = vectors.repartition(
        vectors.sparkSession.sparkContext.defaultParallelism, "vec_id"
    )
    scored = vectors.join(F.broadcast(c)).select(
        "vec_id",
        "embedding",
        "centroid_id",
        F.round(cosine(F.col("embedding"), F.col("__cv")), SCORE_DECIMALS).alias("__cs"),
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("__cs"), F.asc("centroid_id"))
    return (
        scored.withColumn("probe_rank", F.row_number().over(w))
        .filter(F.col("probe_rank") <= nprobe)
        .drop("__cs")
    )


def _ivf(
    corpus: DataFrame,
    query_pred: Column,
    k: int,
    centroids: DataFrame,
    nprobe: int,
    spill: int,
) -> DataFrame:
    """IVF top-k: each corpus vector is listed under its `spill` nearest
    centroids, each query probes its `nprobe` nearest lists, and the
    candidates are the equi-join of the two on centroid_id."""
    lists = nearest_centroids(corpus, centroids, spill).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cv"),
        "centroid_id",
    )
    probes = nearest_centroids(corpus.filter(query_pred), centroids, nprobe).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        "centroid_id",
    )
    scored = _join_scored(probes, lists, ["centroid_id"])
    return _top_k(scored, k, "query_id", "neighbor_id")


def ivf_topk(
    corpus: DataFrame,
    query_pred: Column,
    k: int = IVF_K,
    n_centroids: int = IVF_LISTS,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into
    `n_centroids` inverted lists (each vector → its nearest centroid),
    then probe only the query's `nprobe` nearest lists. The candidate
    join is an equi-join on centroid_id — per-query work drops from
    O(corpus) to O(nprobe/n_centroids · corpus), and every join key is
    bounded-cardinality and uniform. This is the FAISS IVF-Flat plan as
    DataFrames.

    Without `centroids` the quantizer is the deterministic seed (the
    first `n_centroids` corpus vectors by id), which the oracle replays
    exactly; `train_centroids(...)` output plugs in with identical
    probe/list plumbing.
    """
    if centroids is None:
        centroids = corpus.filter(F.col("vec_id") < n_centroids)
    elif "vec_id" not in centroids.columns:
        # train_centroids() output names its id centroid_id
        centroids = centroids.withColumnRenamed("centroid_id", "vec_id")
    return _ivf(corpus, query_pred, k, centroids, nprobe, spill=1)


def ivf_spill_topk(corpus: DataFrame, query_pred: Column) -> DataFrame:
    """IVF top-`IVF_K` with SPILLED (replicated) corpus assignment — the
    memory-for-recall dual of ivf_topk's probe-side fan-out: each
    corpus vector is indexed under its `IVF_SPILL` nearest centroids
    (ScaNN's SOAR-style spilling: boundary vectors — the ones a
    1-probe search misses — are exactly the ones near a second
    centroid), and queries probe ONE list. Index size grows by
    `IVF_SPILL`x; query-time candidate traffic stays at one list per
    query, so at 100 TB this shifts cost from the latency-critical
    probe join to the build-once assignment pass. Same deterministic
    id-seeded quantizer as ivf_topk (the first `IVF_LISTS` vectors);
    the probed list is a set of (neighbor, centroid) rows, so no
    per-query dedup is needed — a neighbor appears at most once per
    list."""
    centroids = corpus.filter(F.col("vec_id") < IVF_LISTS)
    return _ivf(corpus, query_pred, IVF_K, centroids, nprobe=1, spill=IVF_SPILL)


def train_centroids(corpus: DataFrame, k: int, rounds: int = 2) -> DataFrame:
    """Lloyd iterations for the IVF coarse quantizer (production path —
    float-mean summation order is engine-specific, so trained centroids
    are NOT oracle-replayable; the parity queries use the seeded
    quantizer instead).

    Each round: assign every vector to its nearest centroid (broadcast
    join, fold cosine), then recompute each centroid as the element-wise
    mean of its members (posexplode → avg per (centroid, dim) →
    re-assemble ordered by dim). Per-round cost is one broadcast join +
    one groupBy on (centroid_id, dim) — both scale-safe; centroids are
    checkpointed per round to truncate the iterative lineage
    (`session.iterate`)."""
    centroids = corpus.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )

    def step(centroids: DataFrame) -> DataFrame:
        assigned = nearest_centroids(
            corpus, centroids.withColumnRenamed("centroid_id", "vec_id"), 1
        )
        return (
            assigned.select(
                "centroid_id", F.posexplode(F.col("embedding")).alias("__dim", "__val")
            )
            .groupBy("centroid_id", "__dim")
            .agg(F.avg("__val").alias("__m"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__dim", "__m"))),
                    lambda s: s["__m"].cast("float"),
                ).alias("embedding")
            )
        )

    return iterate(centroids, step, "train_centroids.centroids", rounds)
