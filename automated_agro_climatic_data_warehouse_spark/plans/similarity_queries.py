"""Embedding similarity-search queries (north-star extension).

Oracle strategy: the explicit double-precision fold is bit-identical
between Spark's `aggregate(zip_with(...))` and DuckDB's
`list_sum(list_transform(...))` (verified 435/435 exact on this corpus),
so raw cosines are emitted unrounded; ranks are integers. The ANN paths
score with einsum (different summation order), so both engines round to
SCORE_DECIMALS before ranking — near-ties collapse to the id tiebreak.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..operators.similarity import (
    IVF_K,
    IVF_LISTS,
    IVF_SPILL,
    brute_force_topk,
    bucketed_topk,
    cosine,
    filtered_topk,
    ivf_topk,
    nearest_centroids,
    sign_bucket,
)
from ..session import iterate, local_frame, materialize, release
from ..sources import fan_out, load_table
from .registry import query


def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


_COS_SQL = (
    f"{_dot_sql('a.embedding', 'b.embedding')}"
    f" / sqrt({_dot_sql('a.embedding', 'a.embedding')})"
    f" / sqrt({_dot_sql('b.embedding', 'b.embedding')})"
)

# expanded corpus: exact copies injected (negative ids — disjoint from the
# real key space at any scale factor) so near-dup pairs exist
# (the synthetic embeddings are near-orthogonal random vectors)
_EXPANDED_SQL = """
      SELECT vec_id, embedding FROM read_parquet('{sf}/embeddings.parquet')
      UNION ALL
      SELECT -(vec_id + 1), embedding
      FROM read_parquet('{sf}/embeddings.parquet') WHERE vec_id % 50 = 0
"""


def _expanded_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") % 50 == 0).select(
        (-(F.col("vec_id") + 1)).alias("vec_id"), "embedding"
    )
    # all-pairs cosine is CPU-bound; the scan is a single split
    return fan_out(emb.unionByName(copies))


@query(
    "sim_cosine_neardup",
    oracle=f"""
    WITH emb AS ({_EXPANDED_SQL}),
    p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS_SQL} AS cos
      FROM emb a JOIN emb b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cos FROM p WHERE cos >= 0.4
    """,
    tags=("dedup-embedding", "similarity"),
)
def sim_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.4 catches both the
    injected exact copies at cos=1.0 and the natural high-similarity tail).

    Scale note: the all-pairs form is the sf0.01 correctness baseline; the
    production path is ann_bucketed_topk's bucketed join."""
    emb = _expanded_df(spark, sf_dir)
    a = emb.alias("a")
    b = emb.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cosine(F.col("a.embedding"), F.col("b.embedding")).alias("cos"),
        )
        .filter(F.col("cos") >= 0.4)
    )


@query(
    "ann_brute_topk",
    oracle=f"""
    WITH emb AS (SELECT vec_id, embedding
                 FROM read_parquet('{{sf}}/embeddings.parquet')),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round({_COS_SQL}, 12) AS cos
      FROM emb a JOIN emb b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < 20
    ), ranked AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
    """,
    tags=("similarity", "ann"),
)
def ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for 20 query vectors — the ANN
    correctness baseline (brute force, quadratic).

    No fan_out here: the einsum batches are microseconds of CPU, so a
    32-way repartition only adds an exchange + AQE stage of pure
    scheduling overhead (measured: removing it cuts single-shot latency).
    At scale, parallelism comes from the input splits themselves."""
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, F.col("vec_id") < 20, k=5)


@query(
    "ann_bucketed_topk",
    oracle=f"""
    WITH emb AS (
      SELECT vec_id, embedding,
             (CASE WHEN CAST(embedding[1] AS DOUBLE) > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN CAST(embedding[2] AS DOUBLE) > 0 THEN 2 ELSE 0 END)
           + (CASE WHEN CAST(embedding[3] AS DOUBLE) > 0 THEN 4 ELSE 0 END) AS bkt
      FROM read_parquet('{{sf}}/embeddings.parquet')
    ),
    scored AS (
      SELECT a.vec_id AS query_id, a.bkt AS bucket, b.vec_id AS neighbor_id,
             round({_COS_SQL}, 12) AS cos
      FROM emb a JOIN emb b ON a.bkt = b.bkt AND a.vec_id <> b.vec_id
      WHERE a.vec_id < 50
    ), ranked AS (
      SELECT query_id, bucket, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, bucket, neighbor_id, rank FROM ranked WHERE rank <= 3
    """,
    tags=("similarity", "ann", "lsh"),
)
def ann_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-k: sign-bit coarse quantization restricts
    candidates to the query's bucket — the equi-join plan that survives a
    100× corpus scale-up (bucket key shuffles uniformly; no cross join)."""
    # no fan_out: the bucket equi-join shuffles on __bkt anyway, so a
    # prior repartition is a second exchange that redistributes nothing
    emb = load_table(spark, sf_dir, "embeddings")
    return bucketed_topk(emb, F.col("vec_id") < 50)


_CENT_COS_SQL = (
    f"{_dot_sql('e.embedding', 'c.embedding')}"
    f" / sqrt({_dot_sql('e.embedding', 'e.embedding')})"
    f" / sqrt({_dot_sql('c.embedding', 'c.embedding')})"
)


@query(
    "ann_ivf_topk",
    oracle=f"""
    WITH emb AS (SELECT vec_id, embedding
                 FROM read_parquet('{{sf}}/embeddings.parquet')),
    cent AS (SELECT vec_id AS centroid_id, embedding FROM emb
             WHERE vec_id < {IVF_LISTS}),
    assign AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY round({_CENT_COS_SQL}, 12) DESC,
                                         c.centroid_id) AS probe_rank
      FROM emb e, cent c
    ),
    lists AS (SELECT vec_id AS neighbor_id, embedding, centroid_id
              FROM assign WHERE probe_rank = 1),
    probes AS (SELECT vec_id AS query_id, embedding, centroid_id
               FROM assign WHERE probe_rank <= 2 AND vec_id < 30),
    scored AS (
      SELECT p.query_id, l.neighbor_id,
             round({_dot_sql('p.embedding', 'l.embedding')}
                   / sqrt({_dot_sql('p.embedding', 'p.embedding')})
                   / sqrt({_dot_sql('l.embedding', 'l.embedding')}), 12) AS cos
      FROM probes p JOIN lists l ON p.centroid_id = l.centroid_id
                                AND p.query_id <> l.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {IVF_K}
    """,
    tags=("similarity", "ann", "ivf"),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True IVF approximate top-k (operators/similarity.py ivf_topk):
    corpus quantized into 16 inverted lists, 30 query vectors probe their
    2 nearest lists — the FAISS IVF-Flat plan as an equi-join. The
    quantizer is the deterministic id-seeded one so the oracle replays it
    exactly; production swaps in train_centroids() (Lloyd iterations,
    not engine-replayable) with identical probe/list plumbing."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, F.col("vec_id") < 30)


@query(
    "emb_l2_normalize",
    oracle=f"""
    WITH ex AS (
      SELECT vec_id, embedding,
             sqrt({_dot_sql('embedding', 'embedding')}) AS l2_norm,
             unnest(generate_series(1, len(embedding))) AS i
      FROM read_parquet('{{sf}}/embeddings.parquet')
    )
    SELECT vec_id, l2_norm, i - 1 AS pos,
           CAST(embedding[i] AS DOUBLE) / l2_norm AS unit_component
    FROM ex
    """,
    tags=("similarity", "array-analytics"),
)
def emb_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize every embedding to a unit vector (the prep step ANN /
    cosine paths want so dot ≡ cosine). Pure map-side array math — zero
    shuffles at any scale; the left-to-right double fold is bit-identical
    to DuckDB's list_sum, so components are emitted unrounded. The library
    form (operators/similarity.py l2_normalize) returns the array; the
    driver-checked shape posexplodes to one scalar row per component
    because the driver's pandas canonicalizer cannot hash list cells."""
    from ..operators.similarity import dot, l2_normalize

    emb = load_table(spark, sf_dir, "embeddings")
    norm = F.sqrt(dot(F.col("embedding"), F.col("embedding")))
    return emb.select(
        "vec_id",
        norm.alias("l2_norm"),
        F.posexplode(l2_normalize(F.col("embedding"))).alias(
            "pos", "unit_component"
        ),
    )


@query(
    "emb_int8_quantize",
    oracle="""
    WITH ex AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding,
                      x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale,
             unnest(generate_series(1, len(embedding))) AS i
      FROM read_parquet('{sf}/embeddings.parquet')
    )
    SELECT vec_id, scale, i - 1 AS pos,
           CAST(round(CAST(embedding[i] AS DOUBLE) / scale, 0) AS BIGINT)
             AS q
    FROM ex
    """,
    tags=("similarity", "quantization"),
)
def emb_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization (per-vector absmax scale) — the 4×
    memory cut that makes billion-vector ANN serving fit in RAM. Pure
    map-side array math, zero shuffles and zero joins; the oracle
    recomputes the same scale/round chain (both engines round half away
    from zero, and the double quotients are never exact halves). The
    driver-checked shape posexplodes to scalar rows — list cells crash
    the driver's pandas canonicalizer."""
    from ..operators.similarity import int8_scale

    emb = load_table(spark, sf_dir, "embeddings")
    # explode the RAW array and quantize per scalar row: the scale is
    # computed once per vector in the projection below the Generate
    # (never inside a transform lambda, where it would re-evaluate per
    # element — the r4 bench regression), and no intermediate quantized
    # array is ever allocated.
    pre = emb.select(
        "vec_id", int8_scale(F.col("embedding")).alias("scale"), "embedding"
    )
    scaled = pre.select(
        "vec_id",
        "scale",
        F.posexplode(F.col("embedding")).alias("pos", "x"),
    )
    return scaled.select(
        "vec_id",
        "scale",
        "pos",
        F.round(F.col("x").cast("double") / F.col("scale"), 0)
        .cast("bigint")
        .alias("q"),
    )


# Component means use BINARY-grid quantization (×2^20 → round → integer
# sum), NOT a decimal cast: Spark converts double→decimal through the
# SHORTEST STRING repr (BigDecimal.valueOf) while DuckDB rounds the true
# binary value, and for float32 components those disagree whenever the
# shortest repr is an exact tie at the grid (observed once in 128k
# components at scale 10). x·2^20 is an exact double multiply, round()
# is half-away-from-zero on both engines over identical doubles, and the
# integer sum is order-insensitive — the mean is then two exact ops and
# one shared division.
_QGRID = 1 << 20


@query(
    "pipe_kmeans_step",
    oracle=f"""
    WITH emb AS (SELECT vec_id, embedding
                 FROM read_parquet('{{sf}}/embeddings.parquet')),
    cent AS (SELECT vec_id AS centroid_id, embedding FROM emb
             WHERE vec_id < 16),
    assign AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY round({{cent_cos}}, 12) DESC,
                                         c.centroid_id) AS probe_rank
      FROM emb e, cent c
    ),
    members AS (SELECT embedding, centroid_id FROM assign
                WHERE probe_rank = 1),
    ex AS (SELECT centroid_id, embedding,
                  unnest(generate_series(1, len(embedding))) AS i
           FROM members)
    SELECT centroid_id, i - 1 AS pos,
           CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * {_QGRID})
                         AS BIGINT)) AS BIGINT) AS qsum,
           CAST(CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * {_QGRID})
                              AS BIGINT)) AS BIGINT) AS DOUBLE)
             / {_QGRID}.0 / count(*) AS centroid_component,
           count(*) AS n_members
    FROM ex GROUP BY centroid_id, pos
    """.replace("{cent_cos}", _CENT_COS_SQL),
    tags=("similarity", "ann", "kmeans"),
)
def pipe_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE Lloyd iteration of k-means as a distributed query — the
    quantizer-training inner loop behind train_centroids
    (operators/similarity.py), made engine-replayable by seeding with
    the deterministic id-based centroids: assign every vector to its
    nearest centroid (16-row broadcast, bit-reproducible cosine fold),
    then recompute each centroid as the per-dimension mean of its
    members (posexplode → groupBy (centroid, pos) with binary-grid
    integer sums — see _QGRID note — so means are bit-stable across
    engines). Two shuffles total — assignment window on vec_id, mean
    aggregation on (centroid, pos) — the iteration shape that scales to
    a billion vectors; production loops it with trained centroids where
    the driver oracle can't follow (Lloyd fixpoints aren't
    SQL-replayable)."""
    from ..operators.similarity import nearest_centroids

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids = emb.filter(F.col("vec_id") < 16)
    members = nearest_centroids(emb, centroids, 1).select(
        "centroid_id", "embedding"
    )
    ex = members.select(
        "centroid_id",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * _QGRID).cast("bigint"),
            )
        ).alias("pos", "q"),
    )
    return ex.groupBy("centroid_id", "pos").agg(
        F.sum("q").alias("qsum"),
        (
            F.sum("q").cast("double") / F.lit(float(_QGRID))
            / F.count(F.lit(1))
        ).alias("centroid_component"),
        F.count(F.lit(1)).alias("n_members"),
    )



@query(
    "pipe_ann_index_build",
    oracle=f"""
    WITH emb AS (SELECT vec_id, embedding
                 FROM read_parquet('{{sf}}/embeddings.parquet')),
    cent AS (SELECT vec_id AS centroid_id, embedding FROM emb
             WHERE vec_id < 16),
    assign AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY round({{cent_cos}}, 12) DESC,
                                         c.centroid_id) AS probe_rank
      FROM emb e, cent c
    )
    SELECT centroid_id,
           count(*) AS n_vectors,
           CAST(sum(CAST(sqrt({{norm_dot}}) AS DECIMAL(28,10)))
                AS DOUBLE) AS sum_norm,
           min(vec_id) AS min_vec_id,
           max(vec_id) AS max_vec_id
    FROM assign WHERE probe_rank = 1
    GROUP BY centroid_id
    """.replace("{cent_cos}", _CENT_COS_SQL)
       .replace("{norm_dot}", _dot_sql("embedding", "embedding")),
    tags=("similarity", "ann", "pipeline"),
)
def pipe_ann_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index-BUILD pass as a composite pipeline: assign every
    corpus vector to its nearest (seeded) centroid, then reduce each
    inverted list to its size, exact-decimal norm mass, and id range —
    the artifact a serving layer loads, and the balance report that says
    whether the quantizer needs retraining (one hot list = recall
    cliff). One broadcast of 16 centroids + one shuffle on centroid_id;
    the per-vector scoring is the bit-reproducible fold, so list
    membership is engine-exact."""
    from ..operators.similarity import dot, nearest_centroids

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids = emb.filter(F.col("vec_id") < 16)
    assigned = nearest_centroids(emb, centroids, 1)
    return assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(
            F.sqrt(dot(F.col("embedding"), F.col("embedding"))).cast(
                "decimal(28,10)"
            )
        )
        .cast("double")
        .alias("sum_norm"),
        F.min("vec_id").alias("min_vec_id"),
        F.max("vec_id").alias("max_vec_id"),
    )


# Gram-column grid: 2^14. Components are float32 in (-1, 1), so
# |q| ≤ 2^14, a product ≤ 2^28, and even 2^30 (a billion) vectors sum
# to < 2^58 — inside int64 with headroom. 2^20 (the grid used for plain
# component sums) would overflow product sums at ~2^22 vectors.
_GRAM_GRID = 1 << 14


@query(
    "emb_gram_column",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             CAST(round(CAST(embedding[1] AS DOUBLE) * {_GRAM_GRID})
                  AS BIGINT) AS qx0,
             CAST(round(CAST(embedding[t.pos] AS DOUBLE) * {_GRAM_GRID})
                  AS BIGINT) AS qx,
             t.pos
      FROM read_parquet('{{sf}}/embeddings.parquet'),
           UNNEST(generate_series(1, len(embedding))) AS t(pos)
    )
    SELECT pos, CAST(sum(qx * qx0) AS BIGINT) AS gram_q,
           CAST(CAST(sum(qx * qx0) AS BIGINT) AS DOUBLE)
             / {_GRAM_GRID}.0 / {_GRAM_GRID}.0 AS gram,
           count(*) AS n_vectors
    FROM q GROUP BY pos
    """,
    tags=("similarity", "pca", "array-analytics"),
)
def emb_gram_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One column of the Gram matrix XᵀX — sum over vectors of
    x[pos]·x[0] for every dimension. This is the matvec primitive of
    PCA power iteration (XᵀX e₀ here; iterate with the previous
    estimate broadcast as literals to converge on the top principal
    component) and of covariance/whitening estimation for embedding
    QA. Plan shape at 100 TB: the per-row product needs no join (x[0]
    is projected BEFORE the posexplode), the explode is narrow, and the
    single shuffle groups on `pos` — a key space equal to the dimension
    count, uniform by construction, with map-side partial sums doing
    almost all the reduction. Components quantize to a 2^-14 binary
    grid so the cross-product sums are exact int64 arithmetic (see
    module note: 2^14·2^14·2^30 vectors < 2^63)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qx0 = F.round(
        F.element_at("embedding", 1).cast("double") * F.lit(_GRAM_GRID)
    ).cast("bigint")
    return (
        emb.select(
            qx0.alias("qx0"), F.posexplode("embedding").alias("pos0", "val")
        )
        .select(
            "qx0",
            (F.col("pos0") + 1).alias("pos"),
            F.round(F.col("val").cast("double") * F.lit(_GRAM_GRID))
            .cast("bigint")
            .alias("qx"),
        )
        .groupBy("pos")
        .agg(
            F.sum(F.col("qx") * F.col("qx0")).alias("gram_q"),
            (
                F.sum(F.col("qx") * F.col("qx0")).cast("double")
                / F.lit(float(_GRAM_GRID))
                / F.lit(float(_GRAM_GRID))
            ).alias("gram"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


# PQ grid: 2^12. Distances are sums of 8 squared q-differences:
# (2·2^12)² · 8 < 2^28, and the later per-(vec, subspace, code) group
# sums at most 8 such terms — nowhere near int64 limits at any corpus
# size (the key space carries ≤ dims terms per group, not corpus rows).
_PQ_GRID = 1 << 12
_PQ_CODES = 16


@query(
    "emb_pq_assign",
    oracle=f"""
    WITH cb AS (
      SELECT vec_id AS code, t.pos,
             CAST(round(CAST(embedding[t.pos] AS DOUBLE) * {_PQ_GRID})
                  AS BIGINT) AS qc
      FROM read_parquet('{{sf}}/embeddings.parquet'),
           UNNEST(generate_series(1, len(embedding))) AS t(pos)
      WHERE vec_id < {_PQ_CODES}
    ), vx AS (
      SELECT vec_id, t.pos,
             CAST((t.pos - 1) // 8 AS BIGINT) AS subspace,
             CAST(round(CAST(embedding[t.pos] AS DOUBLE) * {_PQ_GRID})
                  AS BIGINT) AS qx
      FROM read_parquet('{{sf}}/embeddings.parquet'),
           UNNEST(generate_series(1, len(embedding))) AS t(pos)
    ), dists AS (
      SELECT v.vec_id, v.subspace, cb.code,
             CAST(sum((v.qx - cb.qc) * (v.qx - cb.qc)) AS BIGINT) AS qdist
      FROM vx v JOIN cb ON cb.pos = v.pos
      GROUP BY v.vec_id, v.subspace, cb.code
    ), ranked AS (
      SELECT vec_id, subspace, code, qdist,
             row_number() OVER (PARTITION BY vec_id, subspace
                                ORDER BY qdist, code) AS rk
      FROM dists
    )
    SELECT vec_id, subspace, code, qdist FROM ranked WHERE rk = 1
    """,
    tags=("similarity", "quantization", "pq"),
)
def emb_pq_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization code assignment: each 64-d vector splits
    into 8 subvectors of 8 dims, each assigned to its nearest of 16
    codewords — the 8-byte-per-vector compression that lets
    billion-vector ANN serve from RAM (Jégou et al., PQ). Codebook here
    = the first 16 vectors' subvectors (deterministic donor codebook;
    production trains per-subspace k-means via
    operators/similarity.train_centroids). Plan shape: the 1024-cell
    codebook BROADCASTS onto the posexploded vectors (join on pos —
    never a corpus-sized shuffle), squared distances accumulate as
    exact int64 grid arithmetic (2^-12 grid, overflow budget in the
    module note), and the argmin is a row_number over (vec_id,
    subspace) partitions — millions of 16-row windows, no global sort.
    Ties break on the code id."""
    emb = load_table(spark, sf_dir, "embeddings")
    dists = _pq_dists(emb)
    w = W.partitionBy("vec_id", "subspace").orderBy("qdist", "code")
    return (
        dists.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "subspace", "code", "qdist")
    )


# Shared PQ plumbing for ann_pq_adc_topk: identical cb/vx/dists chain as
# emb_pq_assign, kept as one Spark helper + one SQL fragment so the two
# queries cannot drift.
_PQ_DISTS_SQL = f"""
    cb AS (
      SELECT vec_id AS code, t.pos,
             CAST(round(CAST(embedding[t.pos] AS DOUBLE) * {_PQ_GRID})
                  AS BIGINT) AS qc
      FROM read_parquet('{{sf}}/embeddings.parquet'),
           UNNEST(generate_series(1, len(embedding))) AS t(pos)
      WHERE vec_id < {_PQ_CODES}
    ), vx AS (
      SELECT vec_id, t.pos,
             CAST((t.pos - 1) // 8 AS BIGINT) AS subspace,
             CAST(round(CAST(embedding[t.pos] AS DOUBLE) * {_PQ_GRID})
                  AS BIGINT) AS qx
      FROM read_parquet('{{sf}}/embeddings.parquet'),
           UNNEST(generate_series(1, len(embedding))) AS t(pos)
    ), dists AS (
      SELECT v.vec_id, v.subspace, cb.code,
             CAST(sum((v.qx - cb.qc) * (v.qx - cb.qc)) AS BIGINT) AS qdist
      FROM vx v JOIN cb ON cb.pos = v.pos
      GROUP BY v.vec_id, v.subspace, cb.code
    )"""


def _pq_vx(emb: DataFrame) -> DataFrame:
    """(vec_id, pos, subspace, qx): every vector posexploded onto the
    exact PQ integer grid — shared by the codeword-distance chain and
    the exact-rerank stage so the two cannot drift."""
    q = lambda c: F.round(c.cast("double") * F.lit(_PQ_GRID)).cast(  # noqa: E731
        "bigint"
    )
    return emb.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "val")
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        (F.col("pos0") / 8).cast("bigint").alias("subspace"),
        q(F.col("val")).alias("qx"),
    )


def _pq_dists(emb: DataFrame) -> DataFrame:
    """(vec_id, subspace, code, qdist) for every vector × codeword."""
    q = lambda c: F.round(c.cast("double") * F.lit(_PQ_GRID)).cast(  # noqa: E731
        "bigint"
    )
    cb = (
        emb.filter(F.col("vec_id") < _PQ_CODES)
        .select(
            F.col("vec_id").alias("code"),
            F.posexplode("embedding").alias("pos0", "cval"),
        )
        .select(
            "code", (F.col("pos0") + 1).alias("cpos"), q(F.col("cval")).alias("qc")
        )
    )
    # fan_out: the vector×codeword distance fold below is CPU-dense and
    # rooted at a 1-split scan (single-row-group testdata parquet), so
    # without the spread the whole explode+join+partial-agg runs on one
    # core (measured as a 0.9-2.5s single-task stage; readers.py
    # fan_out rationale)
    vx = _pq_vx(fan_out(emb))
    d2 = (F.col("qx") - F.col("qc")) * (F.col("qx") - F.col("qc"))
    return (
        vx.join(F.broadcast(cb), F.col("cpos") == F.col("pos"))
        .groupBy("vec_id", "subspace", "code")
        .agg(F.sum(d2).alias("qdist"))
    )


@query(
    "ann_pq_adc_topk",
    oracle=f"""
    WITH {_PQ_DISTS_SQL},
    assign AS (
      SELECT vec_id, subspace, code FROM (
        SELECT vec_id, subspace, code,
               row_number() OVER (PARTITION BY vec_id, subspace
                                  ORDER BY qdist, code) AS rk
        FROM dists
      ) WHERE rk = 1
    ), lut AS (
      SELECT vec_id AS query_id, subspace, code, qdist AS qd
      FROM dists WHERE vec_id < 20
    ), adist AS (
      SELECT l.query_id, a.vec_id AS neighbor_id,
             CAST(sum(l.qd) AS BIGINT) AS adist_q
      FROM assign a
      JOIN lut l ON l.subspace = a.subspace AND l.code = a.code
      WHERE a.vec_id <> l.query_id
      GROUP BY l.query_id, neighbor_id
    )
    SELECT query_id, neighbor_id, adist_q, rank FROM (
      SELECT query_id, neighbor_id, adist_q,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adist_q, neighbor_id) AS rank
      FROM adist
    ) WHERE rank <= 5
    """,
    tags=("similarity", "ann", "pq"),
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-5 search for 20 query vectors:
    each query precomputes its 16×8 lookup table of exact subspace
    distances to every codeword, and a database vector's approximate
    distance is just the sum of 8 table lookups selected by its PQ codes
    — the memory-bandwidth trick that makes compressed billion-vector
    search fast (Jégou et al.). Plan shape at scale: codes assign as in
    emb_pq_assign (codebook broadcast, no corpus shuffle); the LUT
    (queries × subspaces × codes — KBs) BROADCASTS onto the code table;
    the only corpus-sized aggregations group on (query, vector) and
    (vector, subspace) keys. All distances are exact int64 grid
    arithmetic end-to-end, so ranks are engine-identical; ties break on
    neighbor id. Note dists is computed ONCE and reused for both the
    assignment argmin and the query LUT."""
    emb = load_table(spark, sf_dir, "embeddings")
    dists = materialize(_pq_dists(emb), "ann_pq_adc_topk.dists")
    wa = W.partitionBy("vec_id", "subspace").orderBy("qdist", "code")
    assign = (
        dists.withColumn("rk", F.row_number().over(wa))
        .filter(F.col("rk") == 1)
        .select("vec_id", "subspace", "code")
    )
    lut = dists.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("subspace").alias("l_sub"),
        F.col("code").alias("l_code"),
        F.col("qdist").alias("qd"),
    )
    adist = (
        assign.join(
            F.broadcast(lut),
            (F.col("l_sub") == F.col("subspace"))
            & (F.col("l_code") == F.col("code")),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("qd").alias("adist_q"))
    )
    wq = W.partitionBy("query_id").orderBy("adist_q", "neighbor_id")
    return (
        adist.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "adist_q", "rank")
    )


@query(
    "emb_norm_outliers",
    oracle=f"""
    WITH n AS (
      SELECT vec_id,
             CAST(round(sqrt({_dot_sql('embedding', 'embedding')})
                        * 1048576) AS BIGINT) AS qnorm
      FROM read_parquet('{{sf}}/embeddings.parquet')
    ), s AS (
      SELECT CAST(sum(qnorm) AS BIGINT) AS qsum,
             CAST(count(*) AS BIGINT) AS cnt FROM n
    )
    SELECT n.vec_id, n.qnorm,
           CAST(n.qnorm AS DOUBLE) / 1048576.0 AS norm,
           n.qnorm * 2 * s.cnt < s.qsum AS flag_low,
           n.qnorm * 2 * s.cnt > 3 * s.qsum AS flag_high
    FROM n, s
    """,
    tags=("similarity", "quality", "embedding-qa"),
)
def emb_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QA: per-vector L2 norms flagged against the corpus mean
    (low < mean/2 — near-zero/dead vectors; high > 3·mean/2 — exploded
    activations). Broken norms are the cheapest tell of an upstream
    encoder bug, checked BEFORE any similarity index trusts the
    vectors. Norms quantize to a 2^-20 binary grid and both flags are
    CROSS-MULTIPLIED integer comparisons (qnorm·2·n vs k·Σq) — no
    float thresholds, so the verdict is engine- and retry-exact. One
    map-side pass + the corpus stats as scalar subqueries; the dot
    fold is the same bit-reproducible left-to-right chain every
    similarity query uses."""
    from ..operators.similarity import dot

    emb = load_table(spark, sf_dir, "embeddings")
    qnorm = F.round(
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))) * F.lit(1048576)
    ).cast("bigint")
    n = emb.select("vec_id", qnorm.alias("qnorm"))
    s = n.agg(
        F.sum("qnorm").cast("bigint").alias("qsum"),
        F.count(F.lit(1)).alias("cnt"),
    ).select(F.struct("*")).scalar()
    return n.withColumn("s", s).select(
        "vec_id",
        "qnorm",
        (F.col("qnorm").cast("double") / F.lit(1048576.0)).alias("norm"),
        (F.col("qnorm") * 2 * F.col("s.cnt") < F.col("s.qsum")).alias("flag_low"),
        (F.col("qnorm") * 2 * F.col("s.cnt") > 3 * F.col("s.qsum")).alias(
            "flag_high"
        ),
    )


_EMB_CC_ORACLE = f"""
    WITH RECURSIVE emb AS ({_EXPANDED_SQL}),
    p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM emb a JOIN emb b ON a.vec_id < b.vec_id
      WHERE {_COS_SQL} >= 0.4
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM p
              UNION SELECT id_b, id_a FROM p),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(src, node) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.node
    )
    SELECT node AS vec_id, min(src) AS cluster_id,
           (node = min(src)) AS is_keeper
    FROM reach GROUP BY node
    """


@query(
    "emb_dup_clusters",
    oracle=_EMB_CC_ORACLE,
    tags=("dedup-embedding", "graph", "similarity"),
)
def emb_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC duplicate clusters: embedding-cosine near-dup pairs
    (≥ 0.4, the sim_cosine_neardup geometry) fed through the same
    connected-components operator the text dedup family uses — one
    keeper per cluster of semantically-equivalent items. This is the
    composition that actually dedups paraphrases: text-level MinHash
    misses them, cosine pairs alone are not transitive, clusters are.
    The all-pairs scorer is the sf0.01 correctness baseline (the
    production candidate generator is ann_bucketed_topk's bucket
    join); components propagate with per-round checkpoints exactly as
    in dedup_cc_purge. Oracle = recursive-CTE closure over the same
    edge set — a different algorithm entirely."""
    pairs = (
        _expanded_df(spark, sf_dir)
        .alias("a")
        .join(
            _expanded_df(spark, sf_dir).alias("b"),
            F.col("a.vec_id") < F.col("b.vec_id"),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cosine(F.col("a.embedding"), F.col("b.embedding")).alias("cos"),
        )
        .filter(F.col("cos") >= 0.4)
        .select("id_a", "id_b")
    )
    from ..operators.graph import connected_components

    labels = connected_components(pairs, src="id_a", dst="id_b")
    return labels.select(
        F.col("node").alias("vec_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_keeper"),
    )


_IVFPQ_CELLS = 8  # coarse quantizer: donor cells vec_id < 8, nprobe = 2


@query(
    "ann_ivfpq_topk",
    oracle=f"""
    WITH vx AS (
      SELECT vec_id, t.pos,
             CAST((t.pos - 1) // 8 AS BIGINT) AS subspace,
             CAST(round(CAST(embedding[t.pos] AS DOUBLE) * {_PQ_GRID})
                  AS BIGINT) AS qx
      FROM read_parquet('{{sf}}/embeddings.parquet'),
           UNNEST(generate_series(1, len(embedding))) AS t(pos)
    ), ccb AS (
      SELECT vec_id AS cell, pos, qx AS qcc FROM vx
      WHERE vec_id < {_IVFPQ_CELLS}
    ), cd AS (
      SELECT v.vec_id, c.cell,
             CAST(sum((v.qx - c.qcc) * (v.qx - c.qcc)) AS BIGINT) AS cdist
      FROM vx v JOIN ccb c ON c.pos = v.pos
      GROUP BY v.vec_id, c.cell
    ), cranked AS (
      SELECT vec_id, cell, cdist,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cdist, cell) AS rk
      FROM cd
    ), cassign AS (SELECT vec_id, cell FROM cranked WHERE rk = 1),
    probes AS (SELECT vec_id AS query_id, cell FROM cranked
               WHERE rk <= 2 AND vec_id < 20),
    rx AS (
      SELECT v.vec_id, a.cell, v.pos, v.subspace, v.qx - c.qcc AS r
      FROM vx v JOIN cassign a ON a.vec_id = v.vec_id
                JOIN ccb c ON c.cell = a.cell AND c.pos = v.pos
    ), rcb AS (
      SELECT vec_id AS code, pos, r AS rc FROM rx
      WHERE vec_id < {_PQ_CODES}
    ), pd AS (
      SELECT x.vec_id, x.cell, x.subspace, b.code,
             CAST(sum((x.r - b.rc) * (x.r - b.rc)) AS BIGINT) AS qd
      FROM rx x JOIN rcb b ON b.pos = x.pos
      GROUP BY x.vec_id, x.cell, x.subspace, b.code
    ), codes AS (
      SELECT vec_id, cell, subspace, code FROM (
        SELECT vec_id, cell, subspace, code,
               row_number() OVER (PARTITION BY vec_id, subspace
                                  ORDER BY qd, code) AS rk
        FROM pd
      ) WHERE rk = 1
    ), qrx AS (
      SELECT p.query_id, p.cell, v.pos, v.subspace, v.qx - c.qcc AS qr
      FROM vx v JOIN probes p ON p.query_id = v.vec_id
                JOIN ccb c ON c.cell = p.cell AND c.pos = v.pos
    ), lut AS (
      SELECT q.query_id, q.cell, q.subspace, b.code,
             CAST(sum((q.qr - b.rc) * (q.qr - b.rc)) AS BIGINT) AS qd
      FROM qrx q JOIN rcb b ON b.pos = q.pos
      GROUP BY q.query_id, q.cell, q.subspace, b.code
    ), adist AS (
      SELECT l.query_id, k.vec_id AS neighbor_id,
             CAST(sum(l.qd) AS BIGINT) AS adist_q
      FROM codes k
      JOIN lut l ON l.cell = k.cell AND l.subspace = k.subspace
                AND l.code = k.code
      WHERE k.vec_id <> l.query_id
      GROUP BY l.query_id, k.vec_id
    )
    SELECT query_id, neighbor_id, adist_q, rank FROM (
      SELECT query_id, neighbor_id, adist_q,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adist_q, neighbor_id) AS rank
      FROM adist
    ) WHERE rank <= 5
    """,
    tags=("similarity", "ann", "ivf", "pq"),
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed index search — the FAISS IVFPQ shape that serves
    billion-vector ANN: a coarse quantizer routes each vector to one of
    8 inverted cells, vectors are PQ-encoded on their RESIDUAL to the
    cell centroid (residual energy ≪ vector energy, so 8 bytes recover
    far more precision than PQ on raw vectors), and a query probes its
    2 nearest cells, scoring only those cells' members via an ADC
    lookup table built per (query, probed cell). Every per-corpus
    aggregation groups on (vec, cell|subspace) keys; the coarse and
    residual codebooks are KB-sized broadcasts (donor codebooks so the
    oracle replays them; production trains both via
    operators/similarity.train_centroids with identical plumbing); the
    LUT (20 queries × 2 cells × 8 subspaces × 16 codes) broadcasts onto
    the code table, so the candidate set is cell-restricted — the
    whole point of IVF — with no corpus×corpus anything. All distances
    are exact int64 grid arithmetic (2^-12 grid; worst case
    (2·2^12·|x|)²·64 ≈ 2^46 per vector, far inside int64), so ranks
    are engine-identical; ties break on (distance, id). Shared
    subplans (the exploded grid table's coarse ranking and the residual
    table) are eagerly checkpointed once — Spark re-executes unshared
    subtrees per consumer otherwise."""
    # fan_out: the coarse-cell distance aggregation is CPU-dense on a
    # 1-split scan (readers.py fan_out rationale) — spread first
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    q = lambda c: F.round(c.cast("double") * F.lit(_PQ_GRID)).cast(  # noqa: E731
        "bigint"
    )
    vx = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "val")
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        (F.col("pos0") / 8).cast("bigint").alias("subspace"),
        q(F.col("val")).alias("qx"),
    )
    ccb = vx.filter(F.col("vec_id") < _IVFPQ_CELLS).select(
        F.col("vec_id").alias("ccell"),
        F.col("pos").alias("cpos"),
        F.col("qx").alias("qcc"),
    )
    dc = (F.col("qx") - F.col("qcc")) * (F.col("qx") - F.col("qcc"))
    cd = (
        vx.join(F.broadcast(ccb), F.col("cpos") == F.col("pos"))
        .groupBy("vec_id", F.col("ccell").alias("cell"))
        .agg(F.sum(dc).alias("cdist"))
    )
    wc = W.partitionBy("vec_id").orderBy("cdist", "cell")
    cranked = materialize(
        cd.withColumn("rk", F.row_number().over(wc)),
        "ann_ivfpq_topk.cranked",
    )
    cassign = cranked.filter(F.col("rk") == 1).select("vec_id", "cell")
    probes = (
        cranked.filter((F.col("rk") <= 2) & (F.col("vec_id") < 20))
        .select(F.col("vec_id").alias("query_id"), "cell")
    )
    rx = materialize(
        vx.join(cassign, "vec_id")
        .join(
            F.broadcast(ccb),
            (F.col("cell") == F.col("ccell"))
            & (F.col("cpos") == F.col("pos")),
        )
        .select(
            "vec_id",
            "cell",
            "pos",
            "subspace",
            (F.col("qx") - F.col("qcc")).alias("r"),
        ),
        "ann_ivfpq_topk.rx",
    )
    rcb = rx.filter(F.col("vec_id") < _PQ_CODES).select(
        F.col("vec_id").alias("code"),
        F.col("pos").alias("bpos"),
        F.col("r").alias("rc"),
    )
    dr = (F.col("r") - F.col("rc")) * (F.col("r") - F.col("rc"))
    pd_ = (
        rx.join(F.broadcast(rcb), F.col("bpos") == F.col("pos"))
        .groupBy("vec_id", "cell", "subspace", "code")
        .agg(F.sum(dr).alias("qd"))
    )
    wp = W.partitionBy("vec_id", "subspace").orderBy("qd", "code")
    codes = (
        pd_.withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") == 1)
        .select("vec_id", "cell", "subspace", "code")
    )
    qrx = (
        vx.join(probes, F.col("query_id") == F.col("vec_id"))
        .join(
            F.broadcast(ccb),
            (F.col("cell") == F.col("ccell"))
            & (F.col("cpos") == F.col("pos")),
        )
        .select(
            "query_id",
            "cell",
            "pos",
            "subspace",
            (F.col("qx") - F.col("qcc")).alias("qr"),
        )
    )
    dq = (F.col("qr") - F.col("rc")) * (F.col("qr") - F.col("rc"))
    lut = (
        qrx.join(F.broadcast(rcb), F.col("bpos") == F.col("pos"))
        .groupBy("query_id", "cell", "subspace", "code")
        .agg(F.sum(dq).alias("qd"))
        .withColumnRenamed("cell", "l_cell")
        .withColumnRenamed("subspace", "l_sub")
        .withColumnRenamed("code", "l_code")
    )
    adist = (
        codes.join(
            F.broadcast(lut),
            (F.col("l_cell") == F.col("cell"))
            & (F.col("l_sub") == F.col("subspace"))
            & (F.col("l_code") == F.col("code")),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("qd").alias("adist_q"))
    )
    wq = W.partitionBy("query_id").orderBy("adist_q", "neighbor_id")
    return (
        adist.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "adist_q", "rank")
    )


@query(
    "emb_matryoshka_overlap",
    oracle=f"""
    WITH vx AS (
      SELECT vec_id, t.pos,
             CAST(round(CAST(embedding[t.pos] AS DOUBLE) * {_QGRID})
                  AS BIGINT) AS qx
      FROM read_parquet('{{sf}}/embeddings.parquet'),
           UNNEST(generate_series(1, len(embedding))) AS t(pos)
    ), qx2 AS (
      SELECT vec_id AS query_id, pos, qx AS qq FROM vx WHERE vec_id < 20
    ), sc AS (
      SELECT q.query_id, v.vec_id,
             CAST(sum(v.qx * q.qq) AS BIGINT) AS dot_full_q,
             CAST(sum(CASE WHEN v.pos <= 16 THEN v.qx * q.qq ELSE 0 END)
                  AS BIGINT) AS dot16_q
      FROM vx v JOIN qx2 q ON q.pos = v.pos AND v.vec_id <> q.query_id
      GROUP BY q.query_id, v.vec_id
    ), rf AS (
      SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dot_full_q DESC, vec_id) AS rk
      FROM sc
    ), r16 AS (
      SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dot16_q DESC, vec_id) AS rk
      FROM sc
    )
    SELECT rf.query_id, CAST(count(*) AS BIGINT) AS n_common,
           CAST(count(*) AS DOUBLE) / 5 AS overlap_frac
    FROM rf JOIN r16 ON r16.query_id = rf.query_id
                    AND r16.vec_id = rf.vec_id
    WHERE rf.rk <= 5 AND r16.rk <= 5
    GROUP BY rf.query_id
    """,
    tags=("similarity", "ann", "matryoshka"),
)
def emb_matryoshka_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation audit: how much retrieval agreement
    survives scoring on only the FIRST 16 of 64 dimensions (the MRL
    serving trick — coarse search on a prefix, full-dim rescoring only
    for finalists — which cuts ANN memory bandwidth 4×). One fused
    corpus pass computes BOTH similarities: the broadcast query
    components join the posexploded corpus once and a single
    aggregation emits the full dot product and the prefix dot product
    as two conditional sums — not two scans, not two shuffles. Scores
    are exact int64 grid products (2^-20 grid; |q|≤3·2^20 →
    pairwise product ≤ 1e13, ×64 dims ≪ int64), so both rankings are
    engine-identical with (score desc, id) tie-breaks; the overlap@5
    join then grades the truncation per query. The per-query windows
    partition on query_id (20 keys here, bounded by the probe set —
    never corpus-partitioned). fan_out ahead: the fused pass
    (64-way posexplode + broadcast join + partial agg) is CPU-dense
    on a 1-split scan (measured 0.94 s single-task at sf0.1)."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    q = lambda c: F.round(c.cast("double") * F.lit(_QGRID)).cast(  # noqa: E731
        "bigint"
    )
    vx = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "val")
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), q(F.col("val")).alias("qx"))
    qx2 = vx.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("pos").alias("qpos"),
        F.col("qx").alias("qq"),
    )
    sc = materialize(
        vx.join(
            F.broadcast(qx2),
            (F.col("qpos") == F.col("pos"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .groupBy("query_id", "vec_id")
        .agg(
            F.sum(F.col("qx") * F.col("qq")).alias("dot_full_q"),
            F.sum(
                F.when(F.col("pos") <= 16, F.col("qx") * F.col("qq")).otherwise(
                    F.lit(0)
                )
            ).alias("dot16_q"),
        ),
        "emb_matryoshka_overlap.sc",
    )
    wf = W.partitionBy("query_id").orderBy(F.desc("dot_full_q"), "vec_id")
    w16 = W.partitionBy("query_id").orderBy(F.desc("dot16_q"), "vec_id")
    rf = sc.withColumn("rk", F.row_number().over(wf)).filter(F.col("rk") <= 5)
    r16 = (
        sc.select("query_id", "vec_id", "dot16_q")
        .withColumn("rk", F.row_number().over(w16))
        .filter(F.col("rk") <= 5)
        .select(F.col("query_id").alias("q2"), F.col("vec_id").alias("v2"))
    )
    return (
        rf.join(
            r16,
            (F.col("q2") == F.col("query_id")) & (F.col("v2") == F.col("vec_id")),
        )
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            (F.count(F.lit(1)).cast("double") / 5).alias("overlap_frac"),
        )
    )


@query(
    "emb_kmeans_inertia",
    oracle=f"""
    WITH vx AS (
      SELECT vec_id, t.pos,
             CAST(round(CAST(embedding[t.pos] AS DOUBLE) * {_PQ_GRID})
                  AS BIGINT) AS qx
      FROM read_parquet('{{sf}}/embeddings.parquet'),
           UNNEST(generate_series(1, len(embedding))) AS t(pos)
    ), cb AS (
      SELECT vec_id AS cluster_id, pos, qx AS qc FROM vx WHERE vec_id < 16
    ), d AS (
      SELECT v.vec_id, c.cluster_id,
             CAST(sum((v.qx - c.qc) * (v.qx - c.qc)) AS BIGINT) AS qdist
      FROM vx v JOIN cb c ON c.pos = v.pos
      GROUP BY v.vec_id, c.cluster_id
    ), best AS (
      SELECT vec_id, cluster_id, qdist FROM (
        SELECT vec_id, cluster_id, qdist,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY qdist, cluster_id) AS rk
        FROM d
      ) WHERE rk = 1
    )
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(qdist) AS BIGINT) AS inertia_q,
           CAST(max(qdist) AS BIGINT) AS worst_fit_q
    FROM best GROUP BY cluster_id
    """,
    tags=("similarity", "kmeans", "eval"),
)
def emb_kmeans_inertia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality readout: per-cluster inertia (Σ squared L2 to
    the assigned centroid) and worst member fit — the convergence
    metric the k-means driver loop watches between pipe_kmeans_step
    iterations (stop when inertia's improvement stalls) and the
    diagnostic that spots degenerate clusters (tiny n_members, huge
    worst_fit). The distance chain is the IVF-PQ coarse quantizer's:
    codebook broadcasts onto the posexploded grid vectors, squared
    distances accumulate exact int64, argmin by windowed row_number on
    (vec, cluster) — so the metric replays bit-identically, which is
    what makes "did this step improve" a trustworthy comparison rather
    than float noise. One corpus-keyed aggregation; output is
    k-bounded."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = lambda c: F.round(c.cast("double") * F.lit(_PQ_GRID)).cast(  # noqa: E731
        "bigint"
    )
    vx = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "val")
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), q(F.col("val")).alias("qx"))
    cb = vx.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cluster_id"),
        F.col("pos").alias("cpos"),
        F.col("qx").alias("qc"),
    )
    dd = (F.col("qx") - F.col("qc")) * (F.col("qx") - F.col("qc"))
    d = (
        vx.join(F.broadcast(cb), F.col("cpos") == F.col("pos"))
        .groupBy("vec_id", "cluster_id")
        .agg(F.sum(dd).alias("qdist"))
    )
    w = W.partitionBy("vec_id").orderBy("qdist", "cluster_id")
    best = (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("cluster_id", "qdist")
    )
    return best.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum("qdist").cast("bigint").alias("inertia_q"),
        F.max("qdist").cast("bigint").alias("worst_fit_q"),
    )


@query(
    "emb_residual_energy",
    oracle=f"""
    WITH vx AS (
      SELECT vec_id, t.pos,
             CAST(round(CAST(embedding[t.pos] AS DOUBLE) * {_PQ_GRID})
                  AS BIGINT) AS qx
      FROM read_parquet('{{sf}}/embeddings.parquet'),
           UNNEST(generate_series(1, len(embedding))) AS t(pos)
    ), cb AS (
      SELECT vec_id AS cell, pos, qx AS qc FROM vx
      WHERE vec_id < {_IVFPQ_CELLS}
    ), cd AS (
      SELECT v.vec_id, c.cell,
             CAST(sum((v.qx - c.qc) * (v.qx - c.qc)) AS BIGINT) AS qdist
      FROM vx v JOIN cb c ON c.pos = v.pos
      GROUP BY v.vec_id, c.cell
    ), best AS (
      SELECT vec_id, cell, qdist FROM (
        SELECT vec_id, cell, qdist,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY qdist, cell) AS rk
        FROM cd
      ) WHERE rk = 1
    ), norms AS (
      SELECT vec_id, CAST(sum(qx * qx) AS BIGINT) AS qnorm2 FROM vx
      GROUP BY vec_id
    )
    SELECT b.cell,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(b.qdist) AS BIGINT) AS residual_energy_q,
           CAST(sum(n.qnorm2) AS BIGINT) AS vector_energy_q,
           CAST(sum(b.qdist) AS DOUBLE) / sum(n.qnorm2)
             AS residual_fraction
    FROM best b JOIN norms n ON n.vec_id = b.vec_id
    GROUP BY b.cell
    """,
    tags=("similarity", "pq", "eval"),
)
def emb_residual_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The empirical case for residual PQ encoding (ann_ivfpq_topk),
    per cell: how much of the members' total vector energy survives
    after subtracting the cell centroid. A low residual fraction means
    the coarse quantizer already explains most of the signal, so the
    8-byte PQ budget is spent on a SMALL residual — the reason IVF-PQ
    beats flat PQ at equal bits. Also the index-health dashboard
    metric: a cell whose fraction drifts toward 1.0 has incoherent
    members → retrain or split it. Same exact int-grid chain as the
    coarse assignment (codebook broadcast, (vec, cell) aggregation,
    windowed argmin) plus a norms aggregate over the SAME exploded
    scan; the fraction is one IEEE division of exact int64 sums."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = lambda c: F.round(c.cast("double") * F.lit(_PQ_GRID)).cast(  # noqa: E731
        "bigint"
    )
    vx = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "val")
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), q(F.col("val")).alias("qx"))
    cb = vx.filter(F.col("vec_id") < _IVFPQ_CELLS).select(
        F.col("vec_id").alias("cell"),
        F.col("pos").alias("cpos"),
        F.col("qx").alias("qc"),
    )
    dd = (F.col("qx") - F.col("qc")) * (F.col("qx") - F.col("qc"))
    cd = (
        vx.join(F.broadcast(cb), F.col("cpos") == F.col("pos"))
        .groupBy("vec_id", "cell")
        .agg(F.sum(dd).alias("qdist"))
    )
    w = W.partitionBy("vec_id").orderBy("qdist", "cell")
    best = (
        cd.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "cell", "qdist")
    )
    norms = vx.groupBy("vec_id").agg(
        F.sum(F.col("qx") * F.col("qx")).alias("qnorm2")
    )
    return (
        best.join(norms, "vec_id")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.sum("qdist").cast("bigint").alias("residual_energy_q"),
            F.sum("qnorm2").cast("bigint").alias("vector_energy_q"),
            (F.sum("qdist").cast("double") / F.sum("qnorm2")).alias(
                "residual_fraction"
            ),
        )
    )


@query(
    "ann_recall_eval",
    oracle=f"""
    WITH emb AS (
      SELECT vec_id, embedding,
             (CASE WHEN CAST(embedding[1] AS DOUBLE) > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN CAST(embedding[2] AS DOUBLE) > 0 THEN 2 ELSE 0 END)
           + (CASE WHEN CAST(embedding[3] AS DOUBLE) > 0 THEN 4 ELSE 0 END)
             AS bkt
      FROM read_parquet('{{sf}}/embeddings.parquet')
    ),
    truth_scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round({_COS_SQL}, 12) AS cos
      FROM emb a JOIN emb b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < 20
    ), truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM truth_scored) WHERE rank <= 3
    ),
    approx_scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round({_COS_SQL}, 12) AS cos
      FROM emb a JOIN emb b ON a.bkt = b.bkt AND a.vec_id <> b.vec_id
      WHERE a.vec_id < 20
    ), approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM approx_scored) WHERE rank <= 3
    ),
    hits AS (
      SELECT t.query_id, count(a.neighbor_id) AS n_hit
      FROM truth t LEFT JOIN approx a
        ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
      GROUP BY t.query_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(n_hit) AS BIGINT) AS n_hits,
           CAST(sum(n_hit) AS DOUBLE) / (count(*) * 3) AS recall_at_3
    FROM hits
    """,
    tags=("similarity", "ann", "evaluation"),
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the bucketed (sign-bit coarse-quantized) ANN against
    the brute-force ground truth — the EVALUATION harness every
    approximate index needs before it replaces exact search in a
    production pipeline (an index without a measured recall is a silent
    data-loss device). Both legs are the registry's existing operators
    (brute_force_topk / bucketed_topk, same k and query set); the
    comparison is one equi-join on (query, neighbor) + a two-level
    count — so the eval costs no more than running the two searches.
    Recall is ONE IEEE division of exact int64 operands. At 100 TB the
    same query runs against a SAMPLE of queries (the ANN-eval norm);
    the ground-truth leg is the expensive one and is the thing being
    amortized away — which is exactly why its cost must be paid once,
    here, and not per production query."""
    emb = load_table(spark, sf_dir, "embeddings")
    truth = brute_force_topk(emb, F.col("vec_id") < 20, k=3).select(
        "query_id", "neighbor_id"
    )
    approx = bucketed_topk(emb, F.col("vec_id") < 20).select(
        "query_id", "neighbor_id"
    )
    hits = (
        truth.join(
            approx.withColumn("hit", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("hit").alias("n_hit"))
    )
    return hits.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.sum("n_hit").cast("bigint").alias("n_hits"),
        (
            F.sum("n_hit").cast("double")
            / (F.count(F.lit(1)) * 3)
        ).alias("recall_at_3"),
    )


_SRP_PLANES, _SRP_DIM, _SRP_GRID = 8, 64, 4096


def _srp_weight(p: int, i: int) -> int:
    """Deterministic ±1 hyperplane weight from md5('srp:p:i') — the
    same digest DuckDB's md5() computes, so the planes are engine-
    replayable constants, not an RNG state."""
    import hashlib

    h = int(hashlib.md5(f"srp:{p}:{i}".encode()).hexdigest()[:8], 16)
    return 1 if h % 2 == 0 else -1


@query(
    "ann_srp_bucketed",
    oracle=f"""
    WITH w AS MATERIALIZED (
      SELECT p.p, i.i,
             CASE WHEN CAST(('0x' || substr(md5('srp:' || p.p || ':' || i.i),
                                            1, 8)) AS BIGINT) % 2 = 0
                  THEN 1 ELSE -1 END AS wt
      FROM UNNEST(generate_series(0, {_SRP_PLANES - 1})) p(p),
           UNNEST(generate_series(0, {_SRP_DIM - 1})) i(i)
    ), q AS MATERIALIZED (
      SELECT vec_id, t.i - 1 AS i,
             CAST(round(CAST(embedding[t.i] AS DOUBLE) * {_SRP_GRID})
                  AS BIGINT) AS qv
      FROM read_parquet('{{sf}}/embeddings.parquet'),
           UNNEST(generate_series(1, len(embedding))) AS t(i)
    ), dots AS (
      SELECT q.vec_id, w.p, CAST(sum(q.qv * w.wt) AS BIGINT) AS d
      FROM q JOIN w ON w.i = q.i GROUP BY q.vec_id, w.p
    ), bkt AS MATERIALIZED (
      SELECT vec_id,
             CAST(sum(CASE WHEN d > 0 THEN 1 << p ELSE 0 END) AS BIGINT)
               AS bucket
      FROM dots GROUP BY vec_id
    ), emb AS (
      SELECT e.vec_id, e.embedding, b.bucket
      FROM read_parquet('{{sf}}/embeddings.parquet') e
      JOIN bkt b ON b.vec_id = e.vec_id
    ), scored AS (
      SELECT a.vec_id AS query_id, a.bucket, b.vec_id AS neighbor_id,
             round({_COS_SQL}, 12) AS cos
      FROM emb a JOIN emb b
        ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
      WHERE a.vec_id < 50
    ), ranked AS (
      SELECT query_id, bucket, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, bucket, neighbor_id, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 3
    """,
    tags=("similarity", "ann", "srp", "lsh"),
)
def ann_srp_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-random-projection LSH (Charikar's cosine sketch): 8
    deterministic ±1 hyperplanes (md5-derived constants — replayable
    on any engine, no RNG state), bucket = the 8-bit sign pattern of
    the plane dot products. This is the PROPER random-hyperplane
    variant of ann_bucketed_topk's axis-aligned sign buckets: the
    planes mix ALL dimensions, so bucket occupancy stays balanced even
    when the first coordinates are uninformative (the failure mode of
    coordinate buckets on PCA-rotated or padded embeddings). Dot
    products run on the 2^12 integer grid — exact int64 sign
    decisions, so bucket assignment is bit-identical everywhere; the
    candidate stage is the same uniform equi-join on bucket (corpus
    never cross-joins), and ranking reuses the bit-reproducible fold
    cosine rounded to 12 places. Plane weights ride a broadcast
    literal array — zero extra scans."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * _SRP_GRID, 0).cast("bigint"),
    )
    staged = emb.select("vec_id", "embedding", qv.alias("qv"))
    bucket = F.lit(0).cast("bigint")
    for p in range(_SRP_PLANES):
        wts = F.array(
            *[F.lit(_srp_weight(p, i)) for i in range(_SRP_DIM)]
        )
        dot = F.aggregate(
            F.zip_with(F.col("qv"), wts, lambda a, b: a * b),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << p)).otherwise(0)
    staged = staged.select(
        "vec_id", "embedding", bucket.cast("bigint").alias("bucket")
    )
    a = staged.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("bucket"),
        F.col("embedding").alias("qe"),
    )
    b = staged.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("bucket"),
        F.col("embedding").alias("ne"),
    )
    scored = (
        a.join(b, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "bucket",
            "neighbor_id",
            F.round(cosine(F.col("qe"), F.col("ne")), 12).alias("cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id",
            "bucket",
            "neighbor_id",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


_PI_VGRID = 1 << 12   # iterate vector grid
_PI_SHIFT = 1 << 35   # norm pre-scale: s = w div 2^35 (see docstring)


def _power_iter_oracle(k: int) -> str:
    """Unrolled k-round power iteration, MATERIALIZED per round."""
    sql = f"""
    WITH q AS MATERIALIZED (
      SELECT vec_id, t.pos,
             CAST(round(CAST(embedding[t.pos] AS DOUBLE) * {_GRAM_GRID})
                  AS BIGINT) AS qx
      FROM read_parquet('{{sf}}/embeddings.parquet'),
           UNNEST(generate_series(1, len(embedding))) AS t(pos)
    ), gram AS MATERIALIZED (
      SELECT a.pos AS i, b.pos AS j,
             CAST(sum(a.qx * b.qx) AS BIGINT) AS g
      FROM q a JOIN q b ON b.vec_id = a.vec_id
      GROUP BY a.pos, b.pos
    ), v0 AS MATERIALIZED (
      SELECT DISTINCT pos, CAST({_PI_VGRID} AS BIGINT) AS v FROM q
    )"""
    for r in range(1, k + 1):
        sql += f""", w{r} AS MATERIALIZED (
      SELECT g.i AS pos, CAST(sum(g.g * v.v) AS BIGINT) AS w
      FROM gram g JOIN v{r - 1} v ON v.pos = g.j
      GROUP BY g.i
    ), n{r} AS MATERIALIZED (
      SELECT sqrt(CAST(sum((w // {_PI_SHIFT}) * (w // {_PI_SHIFT}))
                       AS DOUBLE)) AS nrm
      FROM w{r}
    ), v{r} AS MATERIALIZED (
      SELECT pos,
             CAST(round(CAST(w // {_PI_SHIFT} AS DOUBLE)
                        / (SELECT nrm FROM n{r}) * {_PI_VGRID}, 0)
                  AS BIGINT) AS v
      FROM w{r}
    )"""
    return sql + f"""
    SELECT CAST(pos AS BIGINT) AS pos, v AS v_q,
           CAST(v AS DOUBLE) / {_PI_VGRID} AS v_unit
    FROM v{k}
    """


def _power_iteration_direction(spark, sf_dir):
    """Shared eigensolve: integer Gram frame + five deterministic
    normalize(Gv) rounds (see emb_power_iteration's docstring for
    the parity argument). Returns (gram, v) — both checkpointed —
    so the direction and its readouts (emb_variance_explained)
    can never drift apart."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: F.round(x.cast("double") * _GRAM_GRID, 0).cast(
                    "bigint"
                ),
            )
        ).alias("pos0", "qx"),
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), "qx")
    gram = materialize(
        q.alias("a")
        .join(q.alias("b"), "vec_id")
        .groupBy(
            F.col("a.pos").alias("i"), F.col("b.pos").alias("j")
        )
        .agg(F.sum(F.col("a.qx") * F.col("b.qx")).cast("bigint").alias("g"))
        # dim²-bounded output (4096 cells, corpus-independent):
        # collapse to ONE partition after the parallel aggregation —
        # SinglePartition satisfies every downstream distribution, so
        # the whole iterate loop below runs as narrow exchange-free
        # plans (the coalesce sits above the agg's exchange, so the
        # corpus-sized partial aggregation keeps full parallelism)
        .coalesce(1),
        "_power_iteration_direction.gram",
    )
    v = gram.select(F.col("i").alias("pos")).distinct().select(
        "pos", F.lit(_PI_VGRID).cast("bigint").alias("v")
    )
    # The norm is a single-partition WINDOW aggregate over the
    # dim-sized iterate (64 rows, corpus-independent — single
    # partition is scale-safe here), replacing the previous 1-row
    # agg + broadcast + crossJoin per round: each round is now ONE
    # narrow plan ending in its checkpoint instead of ~4 separate
    # AQE stage jobs. Same exact arithmetic (the s·s sum is an exact
    # int64 sum either way, then one double sqrt).
    from pyspark.sql.window import Window as W

    whole = W.partitionBy()

    def step(v: DataFrame) -> DataFrame:
        w = (
            gram.join(v.withColumnRenamed("pos", "j"), "j")
            .groupBy(F.col("i").alias("pos"))
            .agg(F.sum(F.col("g") * F.col("v")).cast("bigint").alias("w"))
        )
        s = w.select("pos", F.expr(f"w div {_PI_SHIFT}").alias("s"))
        nrm = F.sqrt(
            F.sum(F.col("s") * F.col("s")).over(whole).cast("double")
        )
        return s.select(
            "pos",
            F.round(F.col("s").cast("double") / nrm * _PI_VGRID, 0)
            .cast("bigint")
            .alias("v"),
        )

    # each round has a single consumer: checkpoint only the last one
    v = iterate(v, step, "_power_iteration_direction.v", 5, final_only=True)
    return gram, v


@query(
    "emb_power_iteration",
    oracle=_power_iter_oracle(5),
    tags=("similarity", "pca", "iterative", "linear-algebra"),
)
def emb_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant PCA direction by POWER ITERATION — five rounds of
    v ← normalize(Gv) over the exact integer Gram matrix (the loop
    emb_gram_column's one-column matvec exists for). Distributed
    linear algebra with full cross-engine determinism: the Gram build
    is one (vector-id) self-join + (i, j) sum on the 2^14 grid (exact
    int64 — headroom to ~2^30 vectors in the GRAM BUILD; the matvec
    w = Σ g·v adds factors 2^12 (v) and 64 (dim), so the ROUNDS stay
    inside int64 up to ~2^17 worst-case / ~10^7 realistic vectors —
    past that, drop _GRAM_GRID to 2^12 or accumulate w in
    DECIMAL(38,0), same plan); each matvec is a 64×64 join +
    integer sum (order-free); and normalization — the step floats
    usually poison — is made deterministic by pre-scaling w by an
    integer floor (w div 2^35, identical on both engines regardless of
    precision), taking √Σs² in correctly-rounded doubles, and
    RE-QUANTIZING the unit vector back to the 2^12 grid each round
    (÷nrm is one exact-rounded division; ×2^12 is a power-of-two
    multiply, exact). The prescale is TRUNCATING integer division —
    Spark `div` and DuckDB integer `//` both round toward zero, on
    negatives too (unlike Python's flooring `//`; pinned in
    tests/test_round6_ops.py — the eigenvector does go negative on
    real data). So every round starts from integers again and
    the 5-round chain replays bit-identically — the property that lets
    a long eigensolve checkpoint/resume like pagerank_loop. The Gram
    frame is dim²-sized (4 KB here) — all per-round work after the
    one corpus pass is constant-size regardless of corpus."""
    gram, v = _power_iteration_direction(spark, sf_dir)
    return v.select(
        F.col("pos").cast("bigint").alias("pos"),
        F.col("v").alias("v_q"),
        (F.col("v").cast("double") / _PI_VGRID).alias("v_unit"),
    )


@query(
    "emb_variance_explained",
    oracle=_power_iter_oracle(5).replace(
        """
    SELECT CAST(pos AS BIGINT) AS pos, v AS v_q,
           CAST(v AS DOUBLE) / 4096 AS v_unit
    FROM v5
    """,
        """, u AS MATERIALIZED (
      SELECT pos, CAST(v // 16 AS BIGINT) AS u FROM v5
    ), quad AS (
      SELECT CAST(sum(CAST(g.g * a.u * b.u AS DECIMAL(38,0)))
                  AS DECIMAL(38,0)) AS utgu
      FROM gram g
      JOIN u a ON a.pos = g.i
      JOIN u b ON b.pos = g.j
    ), nrm AS (
      SELECT CAST(sum(u * u) AS BIGINT) AS utu FROM u
    ), tr AS (
      SELECT CAST(sum(g) AS BIGINT) AS trace_q FROM gram WHERE i = j
    )
    SELECT CAST(quad.utgu AS DOUBLE) / nrm.utu AS lambda1_q,
           CAST(tr.trace_q AS BIGINT) AS trace_q,
           CAST(quad.utgu AS DOUBLE) / nrm.utu / tr.trace_q
             AS variance_explained
    FROM quad, nrm, tr
    """,
    ),
    tags=("similarity", "pca", "evaluation"),
)
def emb_variance_explained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of total variance along the power-iteration direction —
    the Rayleigh quotient uᵀGu/uᵀu over the Gram trace, i.e. the
    λ₁/Σλ readout that tells a pipeline whether ONE principal
    direction dominates its embeddings (a collapse symptom: good
    encoders spread variance; a near-1 fraction here means the
    index/cluster stages are operating on ~rank-1 data). Composition
    of the deterministic eigensolve (emb_power_iteration's 5 rounds)
    with two exact reductions: the quadratic form accumulates
    g·uᵢ·uⱼ in DECIMAL(38,0) over the dim²-sized Gram frame (the
    direction is pre-scaled u = v div 16, a truncating integer
    division identical on both engines for either sign, keeping every
    product term inside int64 before the decimal sum — the N·B²·256²
    bound is pinned with ≥8× headroom at both SFs in
    tests/test_round6_ops.py), uᵀu and the trace are int64, and the two final
    divisions are correctly-rounded doubles of exact operands — so
    even this float summary is bit-identical. Cost beyond the
    eigensolve: three constant-size aggregates."""
    gram, v = _power_iteration_direction(spark, sf_dir)
    u = v.select("pos", F.expr("v div 16").cast("bigint").alias("u"))
    quad = (
        gram.join(u.select(F.col("pos").alias("i"), F.col("u").alias("ua")), "i")
        .join(u.select(F.col("pos").alias("j"), F.col("u").alias("ub")), "j")
        .agg(
            F.sum(
                (F.col("g") * F.col("ua") * F.col("ub")).cast(
                    "decimal(38,0)"
                )
            )
            .cast("decimal(38,0)")
            .alias("utgu")
        )
    )
    utu = u.agg(F.sum(F.col("u") * F.col("u")).cast("bigint")).scalar()
    trace_q = (
        gram.filter(F.col("i") == F.col("j")).agg(F.sum("g").cast("bigint")).scalar()
    )
    return quad.withColumns({"utu": utu, "trace_q": trace_q}).select(
        (F.col("utgu").cast("double") / F.col("utu")).alias("lambda1_q"),
        "trace_q",
        (
            F.col("utgu").cast("double") / F.col("utu") / F.col("trace_q")
        ).alias("variance_explained"),
    )


def _pca_deflation_oracle() -> str:
    """Second-direction oracle: the full first-eigensolve chain (v5),
    then five DEFLATED rounds x ← normalize((G x) − proj_v(G x)),
    every CTE materialized (DuckDB inlines plain CTEs per reference —
    an unrolled iterative chain explodes exponentially otherwise)."""
    base = _power_iter_oracle(5)
    footer = f"""
    SELECT CAST(pos AS BIGINT) AS pos, v AS v_q,
           CAST(v AS DOUBLE) / {_PI_VGRID} AS v_unit
    FROM v5
    """
    # fail at import, not at first oracle run, if the base footer drifts
    assert footer in base, "_power_iter_oracle footer changed; update here"
    sql = base.replace(footer, "")
    sql += f""", s0 AS MATERIALIZED (
      SELECT CAST(sum(v * v) AS BIGINT) AS s FROM v5
    ), x0 AS MATERIALIZED (
      SELECT pos, CAST(((pos % 2) * 2 - 1) * {_PI_VGRID} AS BIGINT) AS x
      FROM v5
    )"""
    for r in range(1, 6):
        sql += f""", dw{r} AS MATERIALIZED (
      SELECT g.i AS pos, CAST(sum(g.g * x.x) AS BIGINT) AS w
      FROM gram g JOIN x{r - 1} x ON x.pos = g.j
      GROUP BY g.i
    ), dp{r} AS MATERIALIZED (
      SELECT CAST(sum(CAST(w.w * v.v AS DECIMAL(38,0))) AS DECIMAL(38,0))
               AS p
      FROM dw{r} w JOIN v5 v ON v.pos = w.pos
    ), d2w{r} AS MATERIALIZED (
      SELECT w.pos,
             CAST(w.w - CAST(round(CAST((SELECT p FROM dp{r}) AS DOUBLE)
                      / (SELECT s FROM s0) * v.v, 0) AS BIGINT)
                  AS BIGINT) AS w2
      FROM dw{r} w JOIN v5 v ON v.pos = w.pos
    ), dn{r} AS MATERIALIZED (
      SELECT sqrt(CAST(sum((w2 // {_PI_SHIFT}) * (w2 // {_PI_SHIFT}))
                       AS DOUBLE)) AS nrm
      FROM d2w{r}
    ), x{r} AS MATERIALIZED (
      SELECT pos,
             CAST(round(CAST(w2 // {_PI_SHIFT} AS DOUBLE)
                        / (SELECT nrm FROM dn{r}) * {_PI_VGRID}, 0)
                  AS BIGINT) AS x
      FROM d2w{r}
    )"""
    return sql + f"""
    SELECT CAST(pos AS BIGINT) AS pos, x AS v2_q,
           CAST(x AS DOUBLE) / {_PI_VGRID} AS v2_unit
    FROM x5
    """


@query(
    "emb_pca_deflation",
    oracle=_pca_deflation_oracle(),
    tags=("similarity", "pca", "iterative", "linear-algebra"),
)
def emb_pca_deflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SECOND principal direction by deflated power iteration — the
    step that completes the PCA family emb_power_iteration started.
    Instead of forming the deflated matrix G − λ₁vvᵀ (which would
    densify the integer grid into rationals), each round projects the
    iterate off the first direction: x ← normalize(w − (wᵀv/vᵀv)·v)
    with w = Gx. Cross-engine determinism holds the same way as the
    first solve, term by term: w is an exact int64 matvec (max|w₂|
    probed ≈2^44 at both SFs, 2^19 headroom); wᵀv accumulates in
    DECIMAL(38,0) (|w·v| ≤ 2^56 per term, 64 terms); the projection
    scalar wᵀv/vᵀv runs as correctly-rounded doubles of exact
    operands in one pinned op order (decimal→double cast, ÷int64,
    ×v_i, round — identical IEEE ops both engines, the same pattern
    as the green requantization step); and the w div 2^35 prescale +
    2^12-grid requantization close each round on integers. The start
    vector alternates ±4096 by position parity — deterministic and
    never parallel to a data eigenvector in practice (final
    |x·v|/|x||v| ≈ 3e-4 probed). All per-round frames are dim-sized;
    cost beyond the shared eigensolve is five 64×64 joins. At 100 TB
    the corpus is touched ONCE (the Gram build); both directions are
    constant-size iteration — the scaling shape FAISS-style PCA
    preprocessing needs."""
    gram, v = _power_iteration_direction(spark, sf_dir)
    x = v.select(
        "pos",
        (((F.col("pos") % 2) * 2 - 1) * F.lit(_PI_VGRID))
        .cast("bigint")
        .alias("x"),
    )
    # All three per-round scalars (projection numerator p = wᵀv, the
    # round-invariant denominator vᵀv, and the norm) are
    # single-partition WINDOW aggregates over the dim-sized joined
    # frame (64 rows, corpus-independent — single partition is
    # scale-safe), replacing the previous three 1-row aggs + three
    # broadcast crossJoins per round: each round is ONE narrow plan
    # ending in its checkpoint instead of ~8 AQE stage jobs.
    # Arithmetic is term-for-term identical: the decimal(38,0) p-sum
    # and the int64 vᵀv/norm sums are exact and order-free, and the
    # double ops keep the same pinned evaluation order.
    from pyspark.sql.window import Window as W

    whole = W.partitionBy()

    def step(x: DataFrame) -> DataFrame:
        w = (
            gram.join(
                x.select(F.col("pos").alias("j"), F.col("x").alias("xj")),
                "j",
            )
            .groupBy(F.col("i").alias("pos"))
            .agg(F.sum(F.col("g") * F.col("xj")).cast("bigint").alias("w"))
        )
        wv = w.join(v, "pos")
        p = (
            F.sum((F.col("w") * F.col("v")).cast("decimal(38,0)"))
            .over(whole)
            .cast("decimal(38,0)")
        )
        s0 = F.sum(F.col("v") * F.col("v")).over(whole).cast("bigint")
        w2 = wv.select(
            "pos",
            (
                F.col("w")
                - F.round(
                    p.cast("double") / s0 * F.col("v"), 0
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("w2"),
        )
        s = w2.select("pos", F.expr(f"w2 div {_PI_SHIFT}").alias("s2"))
        nrm = F.sqrt(
            F.sum(F.col("s2") * F.col("s2")).over(whole).cast("double")
        )
        return s.select(
            "pos",
            F.round(F.col("s2").cast("double") / nrm * _PI_VGRID, 0)
            .cast("bigint")
            .alias("x"),
        )

    # each round has a single consumer: checkpoint only the last one
    x = iterate(x, step, "emb_pca_deflation.x", 5, final_only=True)
    release(gram, v)
    return x.select(
        F.col("pos").cast("bigint").alias("pos"),
        F.col("x").alias("v2_q"),
        (F.col("x").cast("double") / _PI_VGRID).alias("v2_unit"),
    )


@query(
    "ann_two_stage_rerank",
    oracle=f"""
    WITH {_PQ_DISTS_SQL},
    assign AS (
      SELECT vec_id, subspace, code FROM (
        SELECT vec_id, subspace, code,
               row_number() OVER (PARTITION BY vec_id, subspace
                                  ORDER BY qdist, code) AS rk
        FROM dists
      ) WHERE rk = 1
    ), lut AS (
      SELECT vec_id AS query_id, subspace, code, qdist AS qd
      FROM dists WHERE vec_id < 20
    ), adist AS (
      SELECT l.query_id, a.vec_id AS neighbor_id,
             CAST(sum(l.qd) AS BIGINT) AS adist_q
      FROM assign a
      JOIN lut l ON l.subspace = a.subspace AND l.code = a.code
      WHERE a.vec_id <> l.query_id
      GROUP BY l.query_id, neighbor_id
    ), cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adist_q, neighbor_id) AS rk
        FROM adist
      ) WHERE rk <= 20
    ), exact AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(sum((a.qx - b.qx) * (a.qx - b.qx)) AS BIGINT) AS exact_d
      FROM cand c
      JOIN vx a ON a.vec_id = c.query_id
      JOIN vx b ON b.vec_id = c.neighbor_id AND b.pos = a.pos
      GROUP BY c.query_id, c.neighbor_id
    )
    SELECT query_id, neighbor_id, exact_d, rank FROM (
      SELECT query_id, neighbor_id, exact_d,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY exact_d, neighbor_id) AS rank
      FROM exact
    ) WHERE rank <= 5
    """,
    tags=("similarity", "ann", "pq", "rerank"),
)
def ann_two_stage_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-STAGE ANN serving — compressed recall then exact rerank:
    stage 1 runs PQ-ADC (ann_pq_adc_topk's LUT-sum plan) to pull a
    20-candidate shortlist per query from the compressed codes; stage 2
    rescores ONLY the shortlist with exact integer-grid squared L2 on
    the raw vectors and keeps the top 5. This is the production ANN
    architecture (FAISS's search-then-rerank, DiskANN's PQ+full-precision
    pass): the corpus is touched through 8-byte codes, full-precision
    reads are capped at queries×20, and the final ranking carries exact
    distances — recovering most of the recall the compression lost.
    Plan shape: the shortlist (queries×20 rows) BROADCASTS onto the
    exploded vector frame for rescoring — the expensive exact distance
    never runs corpus-wide. All arithmetic on the 2^-12 grid int64
    rail; both rank stages tie-break on neighbor id."""
    emb = load_table(spark, sf_dir, "embeddings")
    dists = materialize(_pq_dists(emb), "ann_two_stage_rerank.dists")
    wa = W.partitionBy("vec_id", "subspace").orderBy("qdist", "code")
    assign = (
        dists.withColumn("rk", F.row_number().over(wa))
        .filter(F.col("rk") == 1)
        .select("vec_id", "subspace", "code")
    )
    lut = dists.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("subspace").alias("l_sub"),
        F.col("code").alias("l_code"),
        F.col("qdist").alias("qd"),
    )
    adist = (
        assign.join(
            F.broadcast(lut),
            (F.col("l_sub") == F.col("subspace"))
            & (F.col("l_code") == F.col("code")),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("qd").alias("adist_q"))
    )
    wc = W.partitionBy("query_id").orderBy("adist_q", "neighbor_id")
    cand = (
        adist.withColumn("rk", F.row_number().over(wc))
        .filter(F.col("rk") <= 20)
        .select("query_id", "neighbor_id")
    )
    vx = _pq_vx(emb)
    a = vx.select(
        F.col("vec_id").alias("query_id"), "pos", F.col("qx").alias("qa")
    )
    b = vx.select(
        F.col("vec_id").alias("neighbor_id"), "pos", F.col("qx").alias("qb")
    )
    d2 = (F.col("qa") - F.col("qb")) * (F.col("qa") - F.col("qb"))
    exact = (
        F.broadcast(cand)
        .join(a, "query_id")
        .join(b, ["neighbor_id", "pos"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum(d2).cast("bigint").alias("exact_d"))
    )
    wr = W.partitionBy("query_id").orderBy("exact_d", "neighbor_id")
    return (
        exact.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "exact_d", "rank")
    )


@query(
    "emb_centroid_drift",
    oracle=f"""
    WITH q AS (
      SELECT label, vec_id % 2 AS half, t.pos,
             CAST(round(CAST(embedding[t.pos] AS DOUBLE) * {_GRAM_GRID})
                  AS BIGINT) AS qx
      FROM read_parquet('{{sf}}/embeddings.parquet'),
           UNNEST(generate_series(1, len(embedding))) AS t(pos)
    ), sums AS (
      SELECT label, half, pos, CAST(sum(qx) AS BIGINT) AS s
      FROM q GROUP BY label, half, pos
    ), nvec AS (
      SELECT label, vec_id % 2 AS half, count(*) AS n
      FROM read_parquet('{{sf}}/embeddings.parquet')
      GROUP BY label, half
    ), joined AS (
      SELECT a.label, a.pos, a.s AS s0, b.s AS s1, na.n AS n0, nb.n AS n1
      FROM sums a
      JOIN sums b ON b.label = a.label AND b.pos = a.pos AND b.half = 1
      JOIN nvec na ON na.label = a.label AND na.half = 0
      JOIN nvec nb ON nb.label = a.label AND nb.half = 1
      WHERE a.half = 0
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(min(n0) AS BIGINT) AS n0, CAST(min(n1) AS BIGINT) AS n1,
           CAST(sum(CAST(s0 * n1 - s1 * n0 AS DECIMAL(19,0))
                    * CAST(s0 * n1 - s1 * n0 AS DECIMAL(19,0)))
                AS DOUBLE) AS drift_sq,
           CAST(sum(CAST(s0 * n1 - s1 * n0 AS DECIMAL(19,0))
                    * CAST(s0 * n1 - s1 * n0 AS DECIMAL(19,0)))
                AS DOUBLE)
             / (CAST(min(n0) AS DOUBLE) * min(n0) * min(n1) * min(n1))
             AS drift_mean_sq
    FROM joined GROUP BY label
    """,
    tags=("similarity", "monitoring", "drift"),
)
def emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label CENTROID DRIFT between two corpus halves (even/odd
    vec_id standing in for yesterday/today snapshots) — the embedding
    regression monitor: a re-encoded or re-trained embedding model
    shifts class centroids, and this catches it per label before an
    index rebuild bakes it in. The mean-vector difference is kept
    EXACT by cross-multiplying out both denominators:
    ‖c₀−c₁‖² · (n₀n₁)² = Σ_pos (s₀·n₁ − s₁·n₀)² over the integer-grid
    component sums — products lifted to DECIMAL(19,0)² (≤38 digits,
    both engines multiply exactly), surfaced once as doubles (raw and
    per-mean-normalized). Scale shape: one grid aggregation per
    (label, half, pos) — dim×labels×2-sized from the first shuffle on
    — then label-sized joins. No division touches anything before the
    final readout."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        F.col("label").cast("bigint").alias("label"),
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: F.round(x.cast("double") * _GRAM_GRID, 0).cast(
                    "bigint"
                ),
            )
        ).alias("pos0", "qx"),
    ).select("label", "half", (F.col("pos0") + 1).alias("pos"), "qx")
    sums = q.groupBy("label", "half", "pos").agg(
        F.sum("qx").cast("bigint").alias("s")
    )
    nvec = emb.groupBy(
        F.col("label").cast("bigint").alias("label"),
        (F.col("vec_id") % 2).alias("half"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    s0 = sums.filter(F.col("half") == 0).select(
        "label", "pos", F.col("s").alias("s0")
    )
    s1 = sums.filter(F.col("half") == 1).select(
        "label", "pos", F.col("s").alias("s1")
    )
    n0 = nvec.filter(F.col("half") == 0).select(
        "label", F.col("n").alias("n0")
    )
    n1 = nvec.filter(F.col("half") == 1).select(
        "label", F.col("n").alias("n1")
    )
    term = (
        F.col("s0") * F.col("n1") - F.col("s1") * F.col("n0")
    ).cast("decimal(19,0)")
    out = (
        s0.join(s1, ["label", "pos"])
        .join(F.broadcast(n0), "label")
        .join(F.broadcast(n1), "label")
        .groupBy("label")
        .agg(
            F.min("n0").cast("bigint").alias("n0"),
            F.min("n1").cast("bigint").alias("n1"),
            F.sum(term * term).cast("double").alias("drift_sq"),
        )
    )
    return out.select(
        "label",
        "n0",
        "n1",
        "drift_sq",
        (
            F.col("drift_sq")
            / (
                F.col("n0").cast("double")
                * F.col("n0")
                * F.col("n1")
                * F.col("n1")
            )
        ).alias("drift_mean_sq"),
    )


@query(
    "emb_knn_classifier_eval",
    oracle=f"""
    WITH emb AS (SELECT vec_id, embedding, label
                 FROM read_parquet('{{sf}}/embeddings.parquet')),
    scored AS (
      SELECT a.vec_id AS query_id, a.label AS true_label,
             b.vec_id AS neighbor_id, b.label AS n_label,
             round({_COS_SQL}, 12) AS cos
      FROM emb a JOIN emb b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < 50
    ), ranked AS (
      SELECT query_id, true_label, n_label,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    ), votes AS (
      SELECT query_id, true_label, n_label, count(*) AS v
      FROM ranked WHERE rank <= 5
      GROUP BY query_id, true_label, n_label
    ), winner AS (
      SELECT query_id, true_label, n_label AS predicted FROM (
        SELECT query_id, true_label, n_label,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY v DESC, n_label) AS vr
        FROM votes
      ) WHERE vr = 1
    )
    SELECT CAST(true_label AS BIGINT) AS label,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(count(CASE WHEN predicted = true_label THEN 1 END)
                AS BIGINT) AS n_correct,
           CAST(count(CASE WHEN predicted = true_label THEN 1 END)
                AS DOUBLE) / count(*) AS accuracy
    FROM winner GROUP BY true_label
    """,
    tags=("similarity", "ann", "evaluation", "knn"),
)
def emb_knn_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN CLASSIFIER evaluation — leave-one-out 5-NN majority-vote
    label accuracy per class for 50 probe vectors: the end-to-end
    'are these embeddings any good' metric (retrieval quality measured
    by whether neighbors share labels — what ann_recall_eval's recall@k
    cannot tell you, since high recall on meaningless neighbors is
    still meaningless). Exact cosine ranking (the ann_brute baseline
    path, probe-capped), vote counting as integer aggregation with
    deterministic tie-break (largest vote, then smallest label), one
    double division per class at the end. At 100 TB the probe set
    stays fixed-size and the neighbor search swaps to the IVF/PQ path
    — the eval harness is identical."""
    emb = load_table(spark, sf_dir, "embeddings")
    labels = emb.select(
        "vec_id", F.col("label").cast("bigint").alias("label")
    )
    knn = brute_force_topk(emb, F.col("vec_id") < 50, k=5)
    top = knn.join(
        labels.select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("true_label"),
        ),
        "query_id",
    ).join(
        labels.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("n_label"),
        ),
        "neighbor_id",
    )
    votes = top.groupBy("query_id", "true_label", "n_label").agg(
        F.count(F.lit(1)).alias("v")
    )
    wv = W.partitionBy("query_id").orderBy(F.desc("v"), F.asc("n_label"))
    winner = (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("query_id", "true_label", F.col("n_label").alias("predicted"))
    )
    return winner.groupBy(F.col("true_label").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.count(F.when(F.col("predicted") == F.col("true_label"), 1))
        .cast("bigint")
        .alias("n_correct"),
        (
            F.count(
                F.when(F.col("predicted") == F.col("true_label"), 1)
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("accuracy"),
    )


@query(
    "ann_filtered_topk",
    oracle=f"""
    WITH emb AS (
      SELECT vec_id, CAST(label AS BIGINT) AS label, embedding,
             (CASE WHEN CAST(embedding[1] AS DOUBLE) > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN CAST(embedding[2] AS DOUBLE) > 0 THEN 2 ELSE 0 END)
               AS bkt
      FROM read_parquet('{{sf}}/embeddings.parquet')
    ),
    scored AS (
      SELECT a.vec_id AS query_id, a.label AS label,
             b.vec_id AS neighbor_id, round({_COS_SQL}, 12) AS cos
      FROM emb a JOIN emb b ON a.label = b.label AND a.bkt = b.bkt
                           AND a.vec_id <> b.vec_id
      WHERE a.vec_id < 60
    ), ranked AS (
      SELECT query_id, label, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, label, neighbor_id, rank FROM ranked WHERE rank <= 3
    """,
    tags=("similarity", "ann", "filtered-search"),
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-FILTERED vector search (operators/similarity.py
    filtered_topk): top-3 same-label neighbors for 60 probe vectors,
    with the label filter IN the join key — composite equi-join on
    (label, sign_bucket) — rather than post-filtering an unfiltered
    top-k (which silently loses recall whenever fewer than k global
    neighbors carry the right label: the classic filtered-ANN bug this
    operator exists to avoid). The tenant/language/label scoping every
    production vector-serving stack needs, expressed so that a MORE
    selective filter makes the query CHEAPER — candidates shuffle on
    the composite key and per-query work is one (label, bucket) cell,
    never the corpus."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("bigint").alias("label"), "embedding"
    )
    return filtered_topk(emb, F.col("vec_id") < 60, filter_cols=["label"], k=3)


@query(
    "emb_ivf_balance_audit",
    oracle=f"""
    WITH emb AS (SELECT vec_id, embedding
                 FROM read_parquet('{{sf}}/embeddings.parquet')),
    cent AS (SELECT vec_id AS centroid_id, embedding FROM emb
             WHERE vec_id < 16),
    assign AS (
      SELECT e.vec_id, c.centroid_id,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY round({_CENT_COS_SQL}, 12) DESC,
                                         c.centroid_id) AS pr
      FROM emb e, cent c
    ),
    cells AS (SELECT centroid_id, count(*) AS n FROM assign
              WHERE pr = 1 GROUP BY centroid_id),
    tot AS (SELECT sum(n) AS t FROM cells)
    SELECT centroid_id, CAST(n AS BIGINT) AS n_vectors,
           CAST(n AS DOUBLE) / t AS share,
           CAST(n * 16 AS DOUBLE) / t AS imbalance
    FROM cells, tot
    """,
    tags=("similarity", "ivf", "index-health", "dq"),
)
def emb_ivf_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-health audit: inverted-list occupancy per centroid cell
    plus the imbalance factor (cell size ÷ perfectly-uniform size).
    THE operational readout for a deployed ANN index — a hot cell is a
    hot shuffle partition AND a slow probe (per-query candidate work is
    the probed cells' sizes), so this is what tells an operator to
    retrain centroids before latency regresses. Same deterministic
    id-seeded quantizer as ann_ivf_topk so the oracle replays the
    assignment exactly; production audits train_centroids() output with
    identical plumbing. Cost: one assignment pass (broadcast 16
    centroids, bit-reproducible fold scores) + a 16-group count — the
    audit itself is free at any corpus size."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    assigned = nearest_centroids(emb, emb.filter(F.col("vec_id") < 16), 1)
    cells = assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    t = cells.agg(F.sum("n")).scalar()
    return cells.withColumn("t", t).select(
        "centroid_id",
        F.col("n").cast("bigint").alias("n_vectors"),
        (F.col("n").cast("double") / F.col("t")).alias("share"),
        ((F.col("n") * 16).cast("double") / F.col("t")).alias("imbalance"),
    )


@query(
    "emb_cosine_pair_histogram",
    oracle=f"""
    WITH emb AS (
      SELECT vec_id, embedding,
             (CASE WHEN CAST(embedding[1] AS DOUBLE) > 0 THEN 1 ELSE 0 END)
           + (CASE WHEN CAST(embedding[2] AS DOUBLE) > 0 THEN 2 ELSE 0 END)
           + (CASE WHEN CAST(embedding[3] AS DOUBLE) > 0 THEN 4 ELSE 0 END)
               AS bkt
      FROM read_parquet('{{sf}}/embeddings.parquet')
    ),
    pos AS (
      SELECT vec_id, embedding, bkt,
             row_number() OVER (PARTITION BY bkt ORDER BY vec_id) AS rn
      FROM emb
    ),
    p AS (
      SELECT {_COS_SQL} AS cos
      FROM pos a
      JOIN (SELECT unnest(generate_series(1, 8)) AS j) js ON TRUE
      JOIN pos b ON b.bkt = a.bkt AND b.rn = a.rn + js.j
    ),
    binned AS (
      SELECT least(39, greatest(0,
               CAST(floor((cos + 1.0) * 20) AS BIGINT))) AS bin
      FROM p
    ),
    tot AS (SELECT count(*) AS t FROM binned)
    SELECT bin, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(*) AS DOUBLE) / t AS share
    FROM binned, tot GROUP BY bin, t
    """,
    tags=("similarity", "embedding-analytics", "dq"),
)
def emb_cosine_pair_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-cosine DISTRIBUTION over a FIXED-BUDGET pair sample,
    binned at 0.05 over [-1, 1] — the embedding-space collapse monitor
    (a healthy corpus is near-orthogonal with a thin high-similarity
    tail; anisotropic collapse shows up as the mass migrating toward +1
    long before any individual dedup threshold trips). Pair budget:
    each vector scores against its next 8 sign-bucket neighbors in id
    order — a deterministic ring sample via one window + an equi-join
    on (bucket, position), so pair volume is exactly 8·N at ANY corpus
    size. The naive within-bucket full join is NOT scale-safe here: on
    near-orthogonal data every cell grows with the corpus (cells are
    N/2^bits, not collision-bounded), making full-cell pairs
    corpus-QUADRATIC — measured 6.5× on the 10× sf step before this
    ring-sample bound, 1.0× after. A distribution monitor needs a
    representative sample, not every pair. Cosines use the
    bit-reproducible left-to-right fold, so the floor-binning is
    engine-exact — no boundary flips between Spark and the oracle."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "bkt", sign_bucket(F.col("embedding"), 3)
    )
    w_b = W.partitionBy("bkt").orderBy("vec_id")
    pos = emb.withColumn("rn", F.row_number().over(w_b))
    a = pos.select(
        F.col("bkt"),
        F.col("rn"),
        F.col("embedding").alias("__ea"),
    ).withColumn("j", F.explode(F.sequence(F.lit(1), F.lit(8))))
    b = pos.select(
        F.col("bkt"),
        (F.col("rn")).alias("rn_b"),
        F.col("embedding").alias("__eb"),
    )
    pairs = a.withColumn("rn_b", F.col("rn") + F.col("j")).join(
        b, ["bkt", "rn_b"]
    ).select(cosine(F.col("__ea"), F.col("__eb")).alias("cos"))
    binned = pairs.select(
        F.least(
            F.lit(39),
            F.greatest(
                F.lit(0),
                F.floor((F.col("cos") + F.lit(1.0)) * 20).cast("bigint"),
            ),
        ).alias("bin")
    )
    # collapse to the ≤40-row histogram ONCE, then take the share from a
    # window over that frame — totalling the raw `binned` frame on a
    # second branch would re-run the whole pair pipeline (no cross-branch
    # subplan sharing). The unpartitioned window is bounded BY
    # CONSTRUCTION: its input is the 40-bin histogram, never pair data.
    hist = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    w_all = W.partitionBy().rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    return hist.select(
        "bin",
        "n_pairs",
        (
            F.col("n_pairs").cast("double")
            / F.sum("n_pairs").over(w_all)
        ).alias("share"),
    )


_SIL_H_SQL = (
    "CAST(('0x' || substr(md5('sil:' || CAST(vec_id AS VARCHAR)), 1, 8))"
    " AS BIGINT)"
)

_SILHOUETTE_ORACLE = f"""
    WITH emb AS (SELECT vec_id, embedding
                 FROM read_parquet('{{sf}}/embeddings.parquet')),
    cent AS (SELECT vec_id AS centroid_id, embedding FROM emb
             WHERE vec_id < 16),
    assign AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY round({{cent_cos}}, 12) DESC,
                                         c.centroid_id) AS probe_rank
      FROM emb e, cent c
    ),
    members AS (SELECT vec_id, embedding, centroid_id FROM assign
                WHERE probe_rank = 1),
    samp AS (SELECT vec_id, centroid_id, embedding FROM members
             ORDER BY {_SIL_H_SQL}, vec_id LIMIT 128),
    qa AS (SELECT vec_id, centroid_id, CAST(i AS BIGINT) AS i,
                  CAST(round(CAST(embedding[i] AS DOUBLE) * {_QGRID})
                       AS BIGINT) AS q
           FROM samp, UNNEST(generate_series(1, len(embedding))) AS g(i)),
    pd AS (SELECT a.vec_id AS via, a.centroid_id AS ca,
                  b.vec_id AS vib, b.centroid_id AS cb,
                  CAST(sum((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS d2
           FROM qa a JOIN qa b ON a.i = b.i AND a.vec_id != b.vec_id
           GROUP BY 1, 2, 3, 4),
    dist AS (SELECT via, ca, cb,
                    CAST(round(sqrt(CAST(d2 AS DOUBLE))) AS BIGINT) AS dq
             FROM pd),
    percl AS (SELECT via, ca, cb,
                     CAST(sum(dq) // count(*) AS BIGINT) AS m
              FROM dist GROUP BY via, ca, cb),
    aa AS (SELECT via, m AS a_m FROM percl WHERE cb = ca),
    bb AS (SELECT via, ca, CAST(min(m) AS BIGINT) AS b_m
           FROM percl WHERE cb != ca GROUP BY via, ca),
    sil AS (SELECT b.via, b.ca,
                   CASE WHEN a.a_m IS NULL
                             OR greatest(a.a_m, b.b_m) = 0 THEN 0
                        WHEN b.b_m >= a.a_m
                        THEN (10000 * (b.b_m - a.a_m))
                             // greatest(a.a_m, b.b_m)
                        ELSE -((10000 * (a.a_m - b.b_m))
                               // greatest(a.a_m, b.b_m)) END AS s_e4
            FROM bb b LEFT JOIN aa a ON a.via = b.via)
    SELECT ca AS centroid_id,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(CASE WHEN sum(s_e4) >= 0
                     THEN sum(s_e4) // count(*)
                     ELSE -((-sum(s_e4)) // count(*)) END AS BIGINT)
             AS mean_sil_e4
    FROM sil GROUP BY ca
""".replace("{cent_cos}", _CENT_COS_SQL)


@query(
    "emb_silhouette_sample",
    oracle=_SILHOUETTE_ORACLE,
    tags=("similarity", "kmeans", "cluster-quality", "silhouette"),
)
def emb_silhouette_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silhouette score per k-means cluster on a fixed 128-point hash
    sample — the cluster-quality gate (Rousseeuw, JCAM 1987) a curation
    pipeline runs before trusting an IVF partition or a
    cluster-balanced mixture: a(i) = mean distance to own-cluster
    sample points, b(i) = min over other clusters of mean distance,
    s = (b-a)/max(a,b). Assignment reuses the deterministic id-seeded
    nearest_centroids chain (same as pipe_kmeans_step). Distances are
    EXACT integers (components quantized once to the 2^20 binary grid
    — see the _QGRID note — then sum-of-squared-diffs in int64, ~2^48
    max), the per-point means use truncating division, and every
    possibly-NEGATIVE division is sign-split (compute on the absolute
    value, apply the sign explicitly) because floor (//) and truncate
    (div) only agree on non-negative operands. Points whose a-leg is a
    singleton score 0 by the standard convention.

    Scale: sample selection is TakeOrderedAndProject on the hash
    order; the quadratic is 128^2 pairs regardless of corpus size; the
    corpus-sized work is the one broadcast-assignment pass."""
    from ..operators.dedup import hash32
    from ..operators.similarity import nearest_centroids

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    centroids = emb.filter(F.col("vec_id") < 16)
    members = nearest_centroids(emb, centroids, 1).select(
        "vec_id", "centroid_id", "embedding"
    )
    samp = (
        members.orderBy(
            hash32(
                F.concat(F.lit("sil:"), F.col("vec_id").cast("string"))
            ),
            "vec_id",
        )
        .limit(128)
        .select(
            "vec_id",
            "centroid_id",
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * _QGRID).cast(
                    "bigint"
                ),
            ).alias("qarr"),
        )
    )
    b = samp.select(
        F.col("vec_id").alias("vib"),
        F.col("centroid_id").alias("cb"),
        F.col("qarr").alias("qb"),
    )
    pairs = (
        samp.withColumnsRenamed(
            {"vec_id": "via", "centroid_id": "ca", "qarr": "qa"}
        )
        .join(F.broadcast(b), F.col("via") != F.col("vib"))
        .select(
            "via",
            "ca",
            "cb",
            F.aggregate(
                F.zip_with(
                    "qa", "qb", lambda x, y: (x - y) * (x - y)
                ),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            ).alias("d2"),
        )
    )
    dist = pairs.select(
        "via",
        "ca",
        "cb",
        F.expr("cast(round(sqrt(cast(d2 as double))) as bigint)").alias(
            "dq"
        ),
    )
    percl = dist.groupBy("via", "ca", "cb").agg(
        F.expr("cast(sum(dq) div count(*) as bigint)").alias("m")
    )
    aa = percl.filter(F.col("cb") == F.col("ca")).select(
        "via", F.col("m").alias("a_m")
    )
    bb = (
        percl.filter(F.col("cb") != F.col("ca"))
        .groupBy("via", "ca")
        .agg(F.min("m").cast("bigint").alias("b_m"))
    )
    sil = bb.join(aa, "via", "left").select(
        "ca",
        F.expr(
            "case when a_m is null or greatest(a_m, b_m) = 0 then 0"
            " when b_m >= a_m"
            " then (10000 * (b_m - a_m)) div greatest(a_m, b_m)"
            " else -((10000 * (a_m - b_m)) div greatest(a_m, b_m)) end"
        ).alias("s_e4"),
    )
    return sil.groupBy(F.col("ca").alias("centroid_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
        F.expr(
            "cast(case when sum(s_e4) >= 0 then sum(s_e4) div count(*)"
            " else -((-sum(s_e4)) div count(*)) end as bigint)"
        ).alias("mean_sil_e4"),
    )


_SEMDEDUP_EPS = 0.4  # the sim_cosine_neardup geometry
_SD_CENT_COS = (
    f"{_dot_sql('e.embedding', 'c.cvec')}"
    f" / sqrt({_dot_sql('e.embedding', 'e.embedding')})"
    f" / sqrt({_dot_sql('c.cvec', 'c.cvec')})"
)
_SD_PAIR_COS = (
    f"{_dot_sql('a.embedding', 'b.embedding')}"
    f" / sqrt({_dot_sql('a.embedding', 'a.embedding')})"
    f" / sqrt({_dot_sql('b.embedding', 'b.embedding')})"
)


@query(
    "dedup_semdedup",
    oracle=f"""
    WITH emb AS ({_EXPANDED_SQL}),
    cent AS (SELECT vec_id AS centroid_id, embedding AS cvec
             FROM read_parquet('{{sf}}/embeddings.parquet')
             WHERE vec_id < 16),
    scored AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             round({_SD_CENT_COS}, 12) AS simc,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY round({_SD_CENT_COS}, 12) DESC,
                                         c.centroid_id) AS rk
      FROM emb e, cent c
    ),
    assign AS (SELECT vec_id, embedding, centroid_id, simc
               FROM scored WHERE rk = 1),
    rem AS (
      SELECT DISTINCT a.centroid_id, a.vec_id
      FROM assign a JOIN assign b
        ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id
      WHERE {_SD_PAIR_COS} >= {_SEMDEDUP_EPS}
        AND (b.simc < a.simc
             OR (b.simc = a.simc AND b.vec_id < a.vec_id))
    )
    SELECT a.centroid_id,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(count(r.vec_id) AS BIGINT) AS n_removed,
           CAST(count(*) - count(r.vec_id) AS BIGINT) AS n_kept
    FROM assign a LEFT JOIN rem r
      ON r.centroid_id = a.centroid_id AND r.vec_id = a.vec_id
    GROUP BY a.centroid_id
    """,
    tags=("dedup-embedding", "similarity", "pipeline"),
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-partition
    the embedding space FIRST, then search for semantic duplicates only
    WITHIN each cluster — the scale trick that turns the quadratic
    all-pairs scan (sim_cosine_neardup / emb_dup_clusters, the
    correctness baselines) into per-cluster work: candidate pairs drop
    from O(n²) to O(n²/k) via one equi-join on centroid_id, and at
    production k (thousands of cells, like the IVF index) each cluster's
    pair block fits one task. Within an ε-neighborhood (cos ≥ 0.4, the
    near-dup geometry) the paper keeps the item with the LOWEST cosine
    to its cluster centroid (retains the cluster-edge exemplar, removes
    the redundant near-centroid copies); ties break on vec_id, so the
    purge is fully deterministic. Output: per-cluster (n_vectors,
    n_removed, n_kept) — the corpus-shrink report a curation pipeline
    acts on. Assignment + pair scoring use the bit-reproducible cosine
    fold, so cluster membership and removal sets are engine-exact
    (oracle replays all three stages).

    Scale: one broadcast of 16 centroids, one shuffle on centroid_id
    for the pair join, partial-agg summaries. The paper's 100 TB recipe
    is literally this plan with trained centroids
    (operators/similarity.train_centroids) swapped in for the seeded
    ones."""
    emb = _expanded_df(spark, sf_dir)
    cents = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 16)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cvec"),
        )
    )
    scored = emb.join(F.broadcast(cents)).select(
        "vec_id",
        "embedding",
        "centroid_id",
        F.round(cosine(F.col("embedding"), F.col("cvec")), 12).alias("simc"),
    )
    w = W.partitionBy("vec_id").orderBy(
        F.desc("simc"), F.asc("centroid_id")
    )
    assign = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    a = assign.select(
        "centroid_id",
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("ea"),
        F.col("simc").alias("sa"),
    )
    b = assign.select(
        "centroid_id",
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        F.col("simc").alias("sb"),
    )
    removed = (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") != F.col("id_b"))
        .filter(cosine(F.col("ea"), F.col("eb")) >= _SEMDEDUP_EPS)
        .filter(
            (F.col("sb") < F.col("sa"))
            | ((F.col("sb") == F.col("sa")) & (F.col("id_b") < F.col("id_a")))
        )
        .select("centroid_id", F.col("id_a").alias("vec_id"))
        .distinct()
    )
    tot = assign.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors")
    )
    rem = removed.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_removed")
    )
    return tot.join(rem, "centroid_id", "left").select(
        "centroid_id",
        "n_vectors",
        F.coalesce(F.col("n_removed"), F.lit(0)).cast("bigint").alias(
            "n_removed"
        ),
        (F.col("n_vectors") - F.coalesce(F.col("n_removed"), F.lit(0)))
        .cast("bigint")
        .alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# emb_jl_projection_audit — Johnson-Lindenstrauss distortion measurement
# ---------------------------------------------------------------------------

from ..functions.parity import DSUM_SQL

_JL_DIM, _JL_K = 64, 16

_JL_SQDIFF = (
    "list_sum(list_transform(generate_series(1, len(a.embedding)), i -> "
    "(CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE)) * "
    "(CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))))"
)


def _jl_sign_py(i: int, j: int) -> int:
    """±1 from md5('jl:i:j') — hashlib here, md5() in the oracle, the
    repo's portable-hash idiom (operators/dedup.hash32)."""
    import hashlib

    h = int(hashlib.md5(f"jl:{i}:{j}".encode()).hexdigest()[:8], 16)
    return 1 if h % 2 == 1 else -1


@query(
    "emb_jl_projection_audit",
    oracle=f"""
    WITH emb AS (
      SELECT vec_id, embedding FROM read_parquet('{{sf}}/embeddings.parquet')
    ), r AS (
      SELECT i.i AS i, j.j AS j,
             CASE WHEN CAST('0x' || substr(md5('jl:' || i.i || ':' || j.j),
                             1, 8) AS BIGINT) % 2 = 1
                  THEN 1 ELSE -1 END AS sgn
      FROM generate_series(0, {_JL_DIM - 1}) i(i),
           generate_series(0, {_JL_K - 1}) j(j)
    ), xp AS (
      SELECT vec_id, i.i AS i, CAST(embedding[i.i + 1] AS DOUBLE) AS x
      FROM emb, generate_series(0, {_JL_DIM - 1}) i(i)
    ), proj AS (
      SELECT vec_id, j, {DSUM_SQL('x * sgn', 12)} AS yv
      FROM xp JOIN r USING (i) GROUP BY vec_id, j
    ), pairs AS (
      SELECT a.vec_id AS aid, b.vec_id AS bid, {_JL_SQDIFF} AS xd
      FROM emb a
      JOIN generate_series(1, 4) o(off) ON TRUE
      JOIN emb b ON b.vec_id = a.vec_id + o.off
    ), pd AS (
      SELECT aid, bid, xd,
             {DSUM_SQL('(pa.yv - pb.yv) * (pa.yv - pb.yv)', 12)} AS yd
      FROM pairs
      JOIN proj pa ON pa.vec_id = aid
      JOIN proj pb ON pb.vec_id = bid AND pb.j = pa.j
      GROUP BY aid, bid, xd
    ), binned AS (
      SELECT least(29, greatest(0,
               CAST(floor(yd / ({_JL_K} * xd) * 10) AS BIGINT))) AS bin
      FROM pd WHERE xd > 0
    ), tot AS (SELECT count(*) AS t FROM binned)
    SELECT bin, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(*) AS DOUBLE) / t AS share
    FROM binned, tot GROUP BY bin, t
    """,
    tags=("similarity", "embedding-analytics", "jl-projection"),
)
def emb_jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOHNSON-LINDENSTRAUSS projection distortion audit — measures what
    a 64→16 random-sign projection (Achlioptas 2003: ±1 entries, no
    Gaussians needed) does to pairwise squared distances BEFORE the
    cheap projected space replaces the full embeddings in dedup/ANN
    candidate generation. Distortion ratio per pair =
    ||Rx_a − Rx_b||² / (k · ||x_a − x_b||²), expected 1; the output is
    its 0.1-wide histogram over a deterministic 4-neighbor id-ring pair
    sample (fixed 4N pair budget at any corpus size — same rationale as
    emb_cosine_pair_histogram). Spark-first shape: the projection is a
    GEMM-BY-JOIN — posexplode the vectors once, broadcast-join the
    64×16 ±1 sign matrix (generated from the portable md5 idiom so the
    oracle regenerates it bit-for-bit), hash-aggregate per (vector,
    output-dim) with the order-insensitive decimal sum (dsum) so float
    summation order can't flip a bin. Original-space distances use the
    bit-reproducible left-to-right array fold. At 100 TB: one explode
    (linear), one broadcast join, two key-local aggregations — no
    all-pairs anything; the 16-dim projected table is the artifact the
    downstream ANN index would ingest."""
    from ..functions import dsum

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    sign_rows = [
        (i, j, _jl_sign_py(i, j))
        for i in range(_JL_DIM)
        for j in range(_JL_K)
    ]
    r = local_frame(spark, sign_rows, "i int, j int, sgn int")
    # fan_out: the GEMM-by-join (explode × 16 sign columns + decimal
    # partial aggregation) is CPU-dense on a 1-split scan — measured
    # as a 2.1s single-task stage without the spread
    xp = fan_out(emb).select(
        "vec_id", F.posexplode("embedding").alias("i", "xf")
    ).select("vec_id", "i", F.col("xf").cast("double").alias("x"))
    proj = (
        xp.join(F.broadcast(r), "i")
        .groupBy("vec_id", "j")
        .agg(dsum(F.col("x") * F.col("sgn"), 12).alias("yv"))
    )
    a = emb.select(
        F.col("vec_id").alias("aid"), F.col("embedding").alias("ea")
    ).withColumn("off", F.explode(F.sequence(F.lit(1), F.lit(4))))
    b = emb.select(F.col("vec_id").alias("bid"), F.col("embedding").alias("eb"))
    sqdiff = F.aggregate(
        F.zip_with(
            F.col("ea"),
            F.col("eb"),
            lambda p, q: (p.cast("double") - q.cast("double"))
            * (p.cast("double") - q.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    pairs = (
        a.withColumn("bid", F.col("aid") + F.col("off"))
        .join(b, "bid")
        .select("aid", "bid", sqdiff.alias("xd"))
    )
    pa = proj.select(
        F.col("vec_id").alias("aid"), "j", F.col("yv").alias("ya")
    )
    pb = proj.select(
        F.col("vec_id").alias("bid"), "j", F.col("yv").alias("yb")
    )
    pd_ = (
        pairs.join(pa, "aid")
        .join(pb, ["bid", "j"])
        .groupBy("aid", "bid", "xd")
        .agg(
            dsum(
                (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb")), 12
            ).alias("yd")
        )
    )
    binned = pd_.filter(F.col("xd") > 0).select(
        F.least(
            F.lit(29),
            F.greatest(
                F.lit(0),
                F.floor(
                    F.col("yd") / (F.lit(_JL_K) * F.col("xd")) * F.lit(10)
                ).cast("bigint"),
            ),
        ).alias("bin")
    )
    hist = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    w_all = W.partitionBy().rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    return hist.select(
        "bin",
        "n_pairs",
        (
            F.col("n_pairs").cast("double") / F.sum("n_pairs").over(w_all)
        ).alias("share"),
    )


# ---------------------------------------------------------------------------
# ann_bitvector_hamming_topk — 1-bit quantized codes, hamming coarse rank,
# exact integer-grid rerank
# ---------------------------------------------------------------------------

_BV_GRID = 1 << 12  # same 2^-12 exact rail as the PQ family
_BV_SHORTLIST, _BV_TOPK, _BV_QUERIES = 16, 3, 30


def _bv_code_sql(half: int) -> str:
    """DuckDB twin of the bit-packing fold for half 0 (dims 1-32) or
    half 1 (dims 33-64)."""
    lo = 1 + 32 * half
    return (
        f"list_sum(list_transform(generate_series({lo}, {lo + 31}), i -> "
        f"CASE WHEN CAST(embedding[i] AS DOUBLE) > 0 "
        f"THEN CAST(1 AS BIGINT) << (i - {lo}) ELSE CAST(0 AS BIGINT) END))"
    )


@query(
    "ann_bitvector_hamming_topk",
    oracle=f"""
    WITH codes AS (
      SELECT vec_id, {_bv_code_sql(0)} AS c_lo, {_bv_code_sql(1)} AS c_hi
      FROM read_parquet('{{sf}}/embeddings.parquet')
    ), coarse AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(bit_count(xor(q.c_lo, c.c_lo))
                  + bit_count(xor(q.c_hi, c.c_hi)) AS BIGINT) AS hamming
      FROM codes q JOIN codes c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {_BV_QUERIES}
    ), cand AS (
      SELECT query_id, neighbor_id, hamming FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY hamming, neighbor_id) AS rk
        FROM coarse
      ) WHERE rk <= {_BV_SHORTLIST}
    ), vx AS (
      SELECT vec_id, t.pos,
             CAST(round(CAST(embedding[t.pos] AS DOUBLE) * {_BV_GRID})
                  AS BIGINT) AS qx
      FROM read_parquet('{{sf}}/embeddings.parquet'),
           UNNEST(generate_series(1, len(embedding))) AS t(pos)
    ), exact AS (
      SELECT cd.query_id, cd.neighbor_id, cd.hamming,
             CAST(sum((a.qx - b.qx) * (a.qx - b.qx)) AS BIGINT) AS exact_d
      FROM cand cd
      JOIN vx a ON a.vec_id = cd.query_id
      JOIN vx b ON b.vec_id = cd.neighbor_id AND b.pos = a.pos
      GROUP BY cd.query_id, cd.neighbor_id, cd.hamming
    )
    SELECT query_id, neighbor_id, hamming, exact_d, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY exact_d, neighbor_id) AS rank
      FROM exact
    ) WHERE rank <= {_BV_TOPK}
    """,
    tags=("similarity", "ann", "binary-quantization", "hamming"),
)
def ann_bitvector_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY-QUANTIZED ANN — 1-bit sign codes, XOR-popcount coarse
    ranking, exact rerank: the 64-dim float vector collapses to TWO
    int64 halves (64 bits total, a 64× read shrink vs float64 — the
    memory layout binary-embedding serving systems use at corpus
    scale), hamming distance is two XOR+bit_count ops entirely inside
    whole-stage codegen, and only each query's {_BV_SHORTLIST}-candidate
    shortlist touches full-precision vectors for the exact
    integer-grid L2 rerank (the PQ family's 2^-12 rail, tie-break on
    neighbor id at both stages). Differs from ann_srp_bucketed (SRP
    buckets prune but never SCORE by code distance) and from the PQ
    rerank (8-byte codebook distances vs 8-byte sign bits needing no
    training). Bit packing is a zip_with against a literal power-of-two
    array — no shift-by-column, no UDF; the oracle rebuilds the same
    codes with a shift fold. At 100 TB the coarse stage scans the
    16-byte/vector code table (queries broadcast), full vectors are
    fetched for queries × {_BV_SHORTLIST} rows only."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def code_half(half: int):
        powers = F.array(*[F.lit(1 << i) for i in range(32)])
        return F.aggregate(
            F.zip_with(
                F.slice("embedding", 1 + 32 * half, 32),
                powers,
                lambda x, p: F.when(
                    x.cast("double") > 0, p.cast("long")
                ).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    codes = emb.select(
        "vec_id",
        code_half(0).alias("c_lo"),
        code_half(1).alias("c_hi"),
    )
    q = codes.filter(F.col("vec_id") < _BV_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("c_lo").alias("q_lo"),
        F.col("c_hi").alias("q_hi"),
    )
    coarse = (
        codes.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.bit_count(F.col("q_lo").bitwiseXOR(F.col("c_lo")))
                + F.bit_count(F.col("q_hi").bitwiseXOR(F.col("c_hi")))
            ).cast("bigint").alias("hamming"),
        )
    )
    cand = (
        coarse.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("query_id").orderBy("hamming", "neighbor_id")
            ),
        )
        .filter(F.col("rk") <= _BV_SHORTLIST)
        .drop("rk")
    )
    vx = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "val")
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.round(F.col("val").cast("double") * F.lit(_BV_GRID))
        .cast("bigint")
        .alias("qx"),
    )
    a = vx.select(
        F.col("vec_id").alias("query_id"), "pos", F.col("qx").alias("qa")
    )
    b = vx.select(
        F.col("vec_id").alias("nb_id"),
        F.col("pos").alias("pos_b"),
        F.col("qx").alias("qb"),
    )
    exact = (
        F.broadcast(cand)
        .join(a, "query_id")
        .join(
            b,
            (F.col("neighbor_id") == F.col("nb_id"))
            & (F.col("pos") == F.col("pos_b")),
        )
        .drop("pos_b", "nb_id")
        .groupBy("query_id", "neighbor_id", "hamming")
        .agg(
            F.sum((F.col("qa") - F.col("qb")) * (F.col("qa") - F.col("qb")))
            .cast("bigint")
            .alias("exact_d")
        )
    )
    return (
        exact.withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy("query_id").orderBy("exact_d", "neighbor_id")
            ),
        )
        .filter(F.col("rank") <= _BV_TOPK)
        .select("query_id", "neighbor_id", "hamming", "exact_d", "rank")
    )


# ---------------------------------------------------------------------------
# emb_triplet_margin — label-supervised embedding-quality audit
# ---------------------------------------------------------------------------

_TM_ANCHORS = 100

_TM_D_SQL = (
    "list_sum(list_transform(generate_series(1, len(a.embedding)), i -> "
    "(CAST(round(CAST(a.embedding[i] AS DOUBLE) * 4096) AS BIGINT)"
    " - CAST(round(CAST(b.embedding[i] AS DOUBLE) * 4096) AS BIGINT))"
    " * (CAST(round(CAST(a.embedding[i] AS DOUBLE) * 4096) AS BIGINT)"
    " - CAST(round(CAST(b.embedding[i] AS DOUBLE) * 4096) AS BIGINT))))"
)


@query(
    "emb_triplet_margin",
    oracle=f"""
    WITH pairs AS (
      SELECT a.vec_id AS aid, a.label AS la, b.label AS lb,
             {_TM_D_SQL} AS d
      FROM read_parquet('{{sf}}/embeddings.parquet') a
      JOIN read_parquet('{{sf}}/embeddings.parquet') b
        ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {_TM_ANCHORS}
    ), per_anchor AS (
      SELECT aid, la AS label,
             min(CASE WHEN lb = la THEN d END) AS d_pos,
             min(CASE WHEN lb <> la THEN d END) AS d_neg
      FROM pairs GROUP BY aid, la
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_anchors,
           CAST(count(CASE WHEN d_neg > d_pos THEN 1 END) AS BIGINT)
             AS n_margin_pos,
           CAST(sum(d_neg - d_pos) AS BIGINT) AS sum_margin
    FROM per_anchor WHERE d_pos IS NOT NULL AND d_neg IS NOT NULL
    GROUP BY label
    """,
    tags=("similarity", "embedding-analytics", "triplet", "labels"),
)
def emb_triplet_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIPLET-MARGIN audit of labeled embeddings — the metric-learning
    health check (Schroff et al. 2015's objective, read as a
    diagnostic): per anchor, the nearest SAME-label distance d_pos
    versus the nearest OTHER-label distance d_neg; margin = d_neg −
    d_pos > 0 means 1-NN classification succeeds for that anchor (this
    is exactly emb_knn_classifier_eval's k=1 case, decomposed into the
    WHY — how much slack separates the classes, per class). Distances
    are exact int64 squared L2 on the 2^-12 grid, quantized INSIDE the
    zip_with fold so the sum is integer (order-free, no decimal rail
    needed). Per-label readout: anchors, positive-margin count, total
    margin mass. Scale: the anchor set is fixed ({_TM_ANCHORS}), so
    the pair frame is anchors × corpus — LINEAR in the corpus with the
    anchors broadcast, one grouped min-reduction, never all-pairs."""
    # quantize ONCE per row (transform) rather than inside the per-pair
    # zip_with lambda: higher-order-function lambdas evaluate outside
    # whole-stage codegen, so hoisting the round/cast from 4 evals per
    # element-PAIR to 1 per element-ROW cut the sf0.1 wall time ~7x
    # (18.4s -> 2.4s idle-box median of 3) with bit-identical output.
    # fan_out: the anchor×candidate distance join streams this side,
    # which is otherwise one task on the 1-split scan
    emb = fan_out(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * F.lit(4096)).cast("long"),
        ).alias("qv"),
    )
    a = emb.filter(F.col("vec_id") < _TM_ANCHORS).select(
        F.col("vec_id").alias("aid"),
        F.col("label").alias("la"),
        F.col("qv").alias("ea"),
    )
    b = emb.select(
        F.col("vec_id").alias("bid"),
        F.col("label").alias("lb"),
        F.col("qv").alias("eb"),
    )

    d = F.aggregate(
        F.zip_with(
            F.col("ea"),
            F.col("eb"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    pairs = (
        b.join(F.broadcast(a), F.col("bid") != F.col("aid"))
        .select("aid", "la", "lb", d.alias("d"))
    )
    per_anchor = pairs.groupBy("aid", F.col("la").alias("label")).agg(
        F.min(F.when(F.col("lb") == F.col("la"), F.col("d"))).alias("d_pos"),
        F.min(F.when(F.col("lb") != F.col("la"), F.col("d"))).alias("d_neg"),
    )
    return (
        per_anchor.filter(
            F.col("d_pos").isNotNull() & F.col("d_neg").isNotNull()
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_anchors"),
            F.count(
                F.when(F.col("d_neg") > F.col("d_pos"), 1)
            ).cast("bigint").alias("n_margin_pos"),
            F.sum(F.col("d_neg") - F.col("d_pos"))
            .cast("bigint")
            .alias("sum_margin"),
        )
    )


# MMR quantizes on a COARSER 2^12 grid than _QGRID: every selection
# compares DIFFERENCES of dot products (rel - sim), so the relevant
# magnitude is dim * (2^12)^2 ~ 2^36 — far inside int64 even after the
# greatest() over three pair-dots, and small enough that the oracle's
# 64-term integer sums replay instantly.
_MMR_GRID = 4096
_MMR_QA_SQL = f"""
      SELECT vec_id, CAST(i AS BIGINT) AS i,
             CAST(round(CAST(embedding[i] AS DOUBLE) * {_MMR_GRID})
                  AS BIGINT) AS q
      FROM read_parquet('{{sf}}/embeddings.parquet'),
           UNNEST(generate_series(1, len(embedding))) AS g(i)
"""


@query(
    "emb_mmr_diversified_topk",
    oracle=f"""
    WITH qa AS MATERIALIZED ({_MMR_QA_SQL}),
    rel AS MATERIALIZED (
      SELECT p.vec_id AS pid, c.vec_id AS cid,
             CAST(sum(p.q * c.q) AS BIGINT) AS rel_q
      FROM qa p JOIN qa c ON c.i = p.i AND c.vec_id != p.vec_id
      WHERE p.vec_id < 6
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT pid, cid, rel_q,
             row_number() OVER (PARTITION BY pid
                                ORDER BY rel_q DESC, cid) AS rk
      FROM rel
    ), c8 AS MATERIALIZED (SELECT * FROM cand WHERE rk <= 8),
    cset AS (SELECT DISTINCT cid FROM c8),
    pd AS MATERIALIZED (
      SELECT a.vec_id AS a, b.vec_id AS b,
             CAST(sum(a.q * b.q) AS BIGINT) AS d
      FROM qa a JOIN qa b ON b.i = a.i AND b.vec_id != a.vec_id
      WHERE a.vec_id IN (SELECT cid FROM cset)
        AND b.vec_id IN (SELECT cid FROM cset)
      GROUP BY 1, 2
    ),
    s1 AS MATERIALIZED (SELECT pid, cid AS s1, rel_q AS m1 FROM c8 WHERE rk = 1),
    r2 AS (
      SELECT c.pid, c.cid, c.rel_q, c.rel_q - pd.d AS score,
             row_number() OVER (PARTITION BY c.pid
                                ORDER BY c.rel_q - pd.d DESC, c.cid) AS rr
      FROM c8 c
      JOIN s1 ON s1.pid = c.pid AND c.cid != s1.s1
      JOIN pd ON pd.a = c.cid AND pd.b = s1.s1
    ),
    s2 AS MATERIALIZED (SELECT pid, cid AS s2, rel_q AS rel2, score AS m2
           FROM r2 WHERE rr = 1),
    r3 AS (
      SELECT c.pid, c.cid, c.rel_q,
             c.rel_q - greatest(p1.d, p2.d) AS score,
             row_number() OVER (PARTITION BY c.pid
                                ORDER BY c.rel_q - greatest(p1.d, p2.d)
                                           DESC, c.cid) AS rr
      FROM c8 c
      JOIN s1 ON s1.pid = c.pid AND c.cid != s1.s1
      JOIN s2 ON s2.pid = c.pid AND c.cid != s2.s2
      JOIN pd p1 ON p1.a = c.cid AND p1.b = s1.s1
      JOIN pd p2 ON p2.a = c.cid AND p2.b = s2.s2
    ),
    s3 AS MATERIALIZED (SELECT pid, cid AS s3, rel_q AS rel3, score AS m3
           FROM r3 WHERE rr = 1),
    r4 AS (
      SELECT c.pid, c.cid, c.rel_q,
             c.rel_q - greatest(p1.d, p2.d, p3.d) AS score,
             row_number() OVER (PARTITION BY c.pid
                                ORDER BY c.rel_q
                                         - greatest(p1.d, p2.d, p3.d)
                                           DESC, c.cid) AS rr
      FROM c8 c
      JOIN s1 ON s1.pid = c.pid AND c.cid != s1.s1
      JOIN s2 ON s2.pid = c.pid AND c.cid != s2.s2
      JOIN s3 ON s3.pid = c.pid AND c.cid != s3.s3
      JOIN pd p1 ON p1.a = c.cid AND p1.b = s1.s1
      JOIN pd p2 ON p2.a = c.cid AND p2.b = s2.s2
      JOIN pd p3 ON p3.a = c.cid AND p3.b = s3.s3
    ),
    s4 AS (SELECT pid, cid AS s4, rel_q AS rel4, score AS m4
           FROM r4 WHERE rr = 1)
    SELECT pid AS probe_id, CAST(1 AS BIGINT) AS mmr_rank,
           s1 AS vec_id, m1 AS rel_q, m1 AS mmr_q FROM s1
    UNION ALL
    SELECT pid, 2, s2, rel2, m2 FROM s2
    UNION ALL
    SELECT pid, 3, s3, rel3, m3 FROM s3
    UNION ALL
    SELECT pid, 4, s4, rel4, m4 FROM s4
    """,
    tags=("similarity", "mmr", "retrieval", "diversification"),
)
def emb_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein, SIGIR
    1998) — diversified retrieval: after a standard top-8 relevance cut,
    4 results are picked GREEDILY by mmr(c|S) = λ·rel(c) −
    (1−λ)·max_{s∈S} sim(c,s); at λ=1/2 the argmax is equivalent to
    rel − max-sim in EXACT integer arithmetic (both scaled by 2), so
    the whole selection chain replays bit-for-bit on the 2^12
    quantization grid (headroom note at _MMR_GRID). This is the
    redundancy-killer retrieval-augmented pipelines run so k near-
    identical passages don't fill the context window — the retrieval
    sibling of SemDeDup's embedding dedup. The data-dependent greedy
    LOOP is unrolled 4 rounds (driver-side fixed depth, the
    pipe_kmeans_step discipline): each round is a per-probe argmax
    window over ≤8 candidate rows joined against the PRECOMPUTED
    candidate-pair dot frame — candidate relevance is the ONE
    corpus-sized stage (broadcast probes × corpus, per-partition top-8
    via the rank window, the ann_brute shape); everything after runs
    on probes×8 rows and pairs of the ≤48 distinct candidates.
    Diversity penalty uses raw dot as the similarity (vectors are
    near-unit-norm; swap in the normalized form via emb_l2_normalize
    upstream for production).

    The probe-bounded frames (c8, pd_, each round's selection — all
    ≤ probes×8 rows, corpus-independent) are eagerly checkpointed:
    round n's plan otherwise inlines the WHOLE unrolled history (c8
    appears once per prior round, pd_ once per penalty term), and the
    final 4-leg union re-plans all of it — a 5,484-line physical plan
    whose Catalyst time dominated the query (measured 0.55 s in jobs
    vs 3.3 s wall; guide §3.3/§7.3 "very large plans: planning time
    itself becomes the bottleneck"). With the checkpoints each round
    plans over a LogicalRDD: 210-line plan, interleaved best-of-6
    median 6.0 s → 4.1 s, identical rows. The barrier cost is six
    ~50 ms jobs over constant-size frames at ANY corpus scale."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * _MMR_GRID).cast("bigint"),
        ).alias("qv"),
    )
    qdot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    probes = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("pid"), F.col("qv").alias("pqv")
    )
    rel = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("pid"))
        .select(
            "pid",
            F.col("vec_id").alias("cid"),
            qdot(F.col("qv"), F.col("pqv")).alias("rel_q"),
        )
    )
    wrk = W.partitionBy("pid").orderBy(F.desc("rel_q"), F.asc("cid"))
    c8 = materialize(
        rel.withColumn("rk", F.row_number().over(wrk))
        .filter(F.col("rk") <= 8)
        .select("pid", "cid", "rel_q"),
        "emb_mmr_diversified_topk.c8",
    )
    cset = c8.select("cid").distinct()
    cq = cset.join(emb, cset.cid == emb.vec_id).select("cid", "qv")
    pd_ = materialize(
        cq.crossJoin(
            F.broadcast(
                cq.select(
                    F.col("cid").alias("b"), F.col("qv").alias("bqv")
                )
            )
        )
        .filter(F.col("cid") != F.col("b"))
        .select(
            F.col("cid").alias("a"),
            "b",
            qdot(F.col("qv"), F.col("bqv")).alias("d"),
        ),
        "emb_mmr_diversified_topk.pd_",
    )
    s1 = materialize(
        c8.withColumn("rr", F.row_number().over(wrk))
        .filter(F.col("rr") == 1)
        .select("pid", F.col("cid").alias("s1"), F.col("rel_q").alias("m1")),
        "emb_mmr_diversified_topk.s1",
    )

    def _round(prev_sel: list, n: int) -> DataFrame:
        """One greedy MMR round given the already-selected frames."""
        cur = c8
        score = F.col("rel_q")
        pens = []
        for j, (sel, col) in enumerate(prev_sel):
            cur = cur.join(F.broadcast(sel), "pid").filter(
                F.col("cid") != F.col(col)
            )
            pdj = pd_.select(
                F.col("a").alias(f"_a{j}"),
                F.col("b").alias(f"_b{j}"),
                F.col("d").alias(f"_d{j}"),
            )
            cur = cur.join(
                F.broadcast(pdj),
                (F.col("cid") == F.col(f"_a{j}"))
                & (F.col(col) == F.col(f"_b{j}")),
            ).drop(f"_a{j}", f"_b{j}")
            pens.append(F.col(f"_d{j}"))
        score = F.col("rel_q") - (
            pens[0] if len(pens) == 1 else F.greatest(*pens)
        )
        wsc = W.partitionBy("pid").orderBy(F.desc(score), F.asc("cid"))
        return materialize(
            cur.withColumn("_score", score)
            .withColumn("rr", F.row_number().over(wsc))
            .filter(F.col("rr") == 1)
            .select(
                "pid",
                F.col("cid").alias(f"s{n}"),
                F.col("rel_q").alias(f"rel{n}"),
                F.col("_score").alias(f"m{n}"),
            ),
            f"emb_mmr_diversified_topk.s{n}",
        )

    s2 = _round([(s1, "s1")], 2)
    s3 = _round([(s1, "s1"), (s2.select("pid", "s2"), "s2")], 3)
    s4 = _round(
        [
            (s1, "s1"),
            (s2.select("pid", "s2"), "s2"),
            (s3.select("pid", "s3"), "s3"),
        ],
        4,
    )
    leg = lambda s, n, relc, mc: s.select(  # noqa: E731
        F.col("pid").alias("probe_id"),
        F.lit(n).cast("bigint").alias("mmr_rank"),
        F.col(f"s{n}").alias("vec_id"),
        F.col(relc).alias("rel_q"),
        F.col(mc).alias("mmr_q"),
    )
    return (
        leg(s1, 1, "m1", "m1")
        .unionByName(leg(s2, 2, "rel2", "m2"))
        .unionByName(leg(s3, 3, "rel3", "m3"))
        .unionByName(leg(s4, 4, "rel4", "m4"))
    )


@query(
    "ann_rank_fusion_rrf",
    oracle=f"""
    WITH qa AS MATERIALIZED ({_MMR_QA_SQL}),
    rel AS MATERIALIZED (
      SELECT p.vec_id AS pid, c.vec_id AS cid,
             CAST(sum(p.q * c.q) AS BIGINT) AS dot_q,
             CAST(sum(CASE WHEN (p.q >= 0) != (c.q >= 0)
                           THEN 1 ELSE 0 END) AS BIGINT) AS ham
      FROM qa p JOIN qa c ON c.i = p.i AND c.vec_id != p.vec_id
      WHERE p.vec_id < 6
      GROUP BY 1, 2
    ),
    ra AS (
      SELECT pid, cid, dot_q,
             row_number() OVER (PARTITION BY pid
                                ORDER BY dot_q DESC, cid) AS rank_a
      FROM rel
    ),
    rb AS (
      SELECT pid, cid, ham,
             row_number() OVER (PARTITION BY pid
                                ORDER BY ham, cid) AS rank_b
      FROM rel
    ),
    fused AS (
      SELECT ra.pid, ra.cid,
             CASE WHEN ra.rank_a <= 20 THEN ra.rank_a END AS rank_a,
             CASE WHEN rb.rank_b <= 20 THEN rb.rank_b END AS rank_b,
             coalesce(CASE WHEN ra.rank_a <= 20
                           THEN 1048576 // (60 + ra.rank_a) END, 0)
             + coalesce(CASE WHEN rb.rank_b <= 20
                             THEN 1048576 // (60 + rb.rank_b) END, 0)
               AS rrf_q
      FROM ra JOIN rb ON rb.pid = ra.pid AND rb.cid = ra.cid
    ),
    topf AS (
      SELECT pid, cid, rank_a, rank_b, rrf_q,
             row_number() OVER (PARTITION BY pid
                                ORDER BY rrf_q DESC, cid) AS fused_rank
      FROM fused WHERE rrf_q > 0
    )
    SELECT pid AS probe_id, cid AS vec_id, rank_a, rank_b, rrf_q,
           fused_rank
    FROM topf WHERE fused_rank <= 10
    """,
    tags=("similarity", "retrieval", "rank-fusion", "rrf"),
)
def ann_rank_fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    of two retrieval channels — the standard hybrid-search combiner
    (dense + cheap-binary here; dense + BM25 in text stacks): each
    candidate scores sum_r 1/(60 + rank_r) over the lists that contain
    it, which rewards cross-channel agreement without ever comparing
    raw scores across channels (the whole point of RRF — dot products
    and hamming distances are incommensurable). Channel A ranks by
    exact integer dot product, channel B by sign-bit hamming distance
    (the ann_bitvector 1-bit quantization), both cut at depth 20; the
    reciprocal terms are staged as 2^20 div (60+rank) — exact
    truncating division on positive integers, so fused scores and the
    final top-10 replay bit-for-bit. Plan: ONE broadcast probes ×
    corpus scan computes BOTH channel signals in the same pass (the
    zip_with fold emits dot and hamming together — no second scan);
    two per-probe rank windows + the fused top-10 window all share the
    probe partitioning. At scale each channel would be its own ANN
    index (IVF for dense, multi-index hamming for binary) feeding the
    same depth-20 lists; the fusion stage is rank-only and never
    touches vectors again."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * _MMR_GRID).cast("bigint"),
        ).alias("qv"),
    )
    probes = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("pid"), F.col("qv").alias("pqv")
    )
    dot_q = F.aggregate(
        F.zip_with(F.col("qv"), F.col("pqv"), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    ham = F.aggregate(
        F.zip_with(
            F.col("qv"),
            F.col("pqv"),
            lambda x, y: ((x >= 0) != (y >= 0)).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    rel = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("pid"))
        .select(
            "pid",
            F.col("vec_id").alias("cid"),
            dot_q.alias("dot_q"),
            ham.alias("ham"),
        )
    )
    wa = W.partitionBy("pid").orderBy(F.desc("dot_q"), F.asc("cid"))
    wb = W.partitionBy("pid").orderBy(F.asc("ham"), F.asc("cid"))
    ranked = rel.withColumn("ra", F.row_number().over(wa)).withColumn(
        "rb", F.row_number().over(wb)
    )
    fused = ranked.select(
        "pid",
        "cid",
        F.when(F.col("ra") <= 20, F.col("ra")).alias("rank_a"),
        F.when(F.col("rb") <= 20, F.col("rb")).alias("rank_b"),
        (
            F.coalesce(
                F.when(
                    F.col("ra") <= 20,
                    F.expr("1048576 div (60 + ra)"),
                ),
                F.lit(0),
            )
            + F.coalesce(
                F.when(
                    F.col("rb") <= 20,
                    F.expr("1048576 div (60 + rb)"),
                ),
                F.lit(0),
            )
        ).cast("bigint").alias("rrf_q"),
    ).filter(F.col("rrf_q") > 0)
    wf = W.partitionBy("pid").orderBy(F.desc("rrf_q"), F.asc("cid"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf))
        .filter(F.col("fused_rank") <= 10)
        .select(
            F.col("pid").alias("probe_id"),
            F.col("cid").alias("vec_id"),
            "rank_a",
            "rank_b",
            "rrf_q",
            F.col("fused_rank").cast("int").alias("fused_rank"),
        )
    )


@query(
    "emb_mutual_knn_graph",
    oracle=f"""
    WITH qa AS MATERIALIZED ({_MMR_QA_SQL}),
    rel AS MATERIALIZED (
      SELECT a.vec_id AS aid, b.vec_id AS bid,
             CAST(sum(a.q * b.q) AS BIGINT) AS dot_q
      FROM qa a JOIN qa b ON b.i = a.i AND b.vec_id != a.vec_id
      WHERE a.vec_id < 500 AND b.vec_id < 500
      GROUP BY 1, 2
    ),
    knn AS (
      SELECT aid, bid, dot_q,
             row_number() OVER (PARTITION BY aid
                                ORDER BY dot_q DESC, bid) AS rk
      FROM rel
    ),
    k5 AS MATERIALIZED (SELECT aid, bid, dot_q FROM knn WHERE rk <= 5)
    SELECT f.aid AS vec_id_a, f.bid AS vec_id_b, f.dot_q
    FROM k5 f JOIN k5 r ON r.aid = f.bid AND r.bid = f.aid
    WHERE f.aid < f.bid
    """,
    tags=("similarity", "knn-graph", "mutual-knn"),
)
def emb_mutual_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL k-nearest-neighbor graph (k=5) — the robust neighborhood
    structure clustering/curation pipelines build before community
    detection or UMAP-style layout: an edge survives only if BOTH
    endpoints rank each other in their top-5, which prunes hub-induced
    false neighbors (a vector near a dense region's centroid appears
    in everyone's kNN list; mutuality kills those asymmetric edges —
    the standard fix, e.g. mutual-kNN spectral clustering). Dots are
    exact int64 on the 2^12 grid; the per-vector top-5 is a rank
    window; mutuality is ONE self-join of the k5 frame on the
    reversed key pair. The comparison space is capped (vec_id < 500,
    documented): at scale the all-pairs stage is replaced by any of
    the shipped ANN paths (IVF / LSH-bucketed / two-stage) feeding
    the SAME k5 frame — the mutuality join and everything downstream
    are unchanged, and the k5 frame is k*n rows regardless of how
    neighbors were found."""
    # fan_out: the 500×500 dot-product crossJoin below streams this
    # side, which is otherwise one task on the 1-split scan
    emb = (
        fan_out(
            load_table(spark, sf_dir, "embeddings").filter(
                F.col("vec_id") < 500
            )
        )
        .select(
            "vec_id",
            F.transform(
                F.col("embedding"),
                lambda x: F.round(x.cast("double") * _MMR_GRID).cast(
                    "bigint"
                ),
            ).alias("qv"),
        )
    )
    other = emb.select(
        F.col("vec_id").alias("bid"), F.col("qv").alias("bqv")
    )
    dot_q = F.aggregate(
        F.zip_with(F.col("qv"), F.col("bqv"), lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    rel = (
        emb.crossJoin(F.broadcast(other))
        .filter(F.col("vec_id") != F.col("bid"))
        .select(F.col("vec_id").alias("aid"), "bid", dot_q.alias("dot_q"))
    )
    wk = W.partitionBy("aid").orderBy(F.desc("dot_q"), F.asc("bid"))
    k5 = (
        rel.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= 5)
        .select("aid", "bid", "dot_q")
    )
    rev = k5.select(F.col("aid").alias("r_aid"), F.col("bid").alias("r_bid"))
    return (
        k5.join(
            rev,
            (F.col("r_aid") == F.col("bid")) & (F.col("r_bid") == F.col("aid")),
        )
        .filter(F.col("aid") < F.col("bid"))
        .select(
            F.col("aid").alias("vec_id_a"),
            F.col("bid").alias("vec_id_b"),
            "dot_q",
        )
    )


# cosine twin over the multi-probe aliases (probe side carries qe)
_COS_SQL_PQ = (
    f"{_dot_sql('p.qe', 'b.embedding')}"
    f" / sqrt({_dot_sql('p.qe', 'p.qe')})"
    f" / sqrt({_dot_sql('b.embedding', 'b.embedding')})"
)


@query(
    "ann_srp_multiprobe",
    oracle=f"""
    WITH w AS MATERIALIZED (
      SELECT p.p, i.i,
             CASE WHEN CAST(('0x' || substr(md5('srp:' || p.p || ':' || i.i),
                                            1, 8)) AS BIGINT) % 2 = 0
                  THEN 1 ELSE -1 END AS wt
      FROM UNNEST(generate_series(0, {_SRP_PLANES - 1})) p(p),
           UNNEST(generate_series(0, {_SRP_DIM - 1})) i(i)
    ), q AS MATERIALIZED (
      SELECT vec_id, t.i - 1 AS i,
             CAST(round(CAST(embedding[t.i] AS DOUBLE) * {_SRP_GRID})
                  AS BIGINT) AS qv
      FROM read_parquet('{{sf}}/embeddings.parquet'),
           UNNEST(generate_series(1, len(embedding))) AS t(i)
    ), dots AS (
      SELECT q.vec_id, w.p, CAST(sum(q.qv * w.wt) AS BIGINT) AS d
      FROM q JOIN w ON w.i = q.i GROUP BY q.vec_id, w.p
    ), bkt AS MATERIALIZED (
      SELECT vec_id,
             CAST(sum(CASE WHEN d > 0 THEN 1 << p ELSE 0 END) AS BIGINT)
               AS bucket
      FROM dots GROUP BY vec_id
    ), emb AS MATERIALIZED (
      SELECT e.vec_id, e.embedding, b.bucket
      FROM read_parquet('{{sf}}/embeddings.parquet') e
      JOIN bkt b ON b.vec_id = e.vec_id
    ), flips AS (
      SELECT 0 AS flip
      UNION ALL
      SELECT 1 << p FROM UNNEST(generate_series(0, {_SRP_PLANES - 1})) t(p)
    ), probes AS (
      SELECT a.vec_id AS query_id, a.embedding AS qe,
             xor(a.bucket, f.flip) AS pbucket,
             CASE WHEN f.flip = 0 THEN 0 ELSE 1 END AS probe_dist
      FROM emb a, flips f WHERE a.vec_id < 50
    ), scored AS (
      SELECT p.query_id, b.vec_id AS neighbor_id, p.probe_dist,
             round({_COS_SQL_PQ}, 12) AS cos
      FROM probes p JOIN emb b ON b.bucket = p.pbucket
      WHERE p.query_id <> b.vec_id
    ), ranked AS (
      SELECT query_id, neighbor_id, probe_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(probe_dist AS BIGINT) AS probe_dist,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 3
    """,
    tags=("similarity", "ann", "srp", "lsh", "multiprobe"),
)
def ann_srp_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe SRP-LSH (Lv et al., VLDB 2007 applied to Charikar's
    cosine sketch): each query probes its own 8-bit sign bucket PLUS
    the 8 buckets at Hamming distance 1 (one plane's sign flipped) —
    the standard recall lever that costs 9 bucket lookups instead of a
    second hash table, because a near neighbor most often disagrees on
    exactly the plane whose margin was smallest. Same deterministic
    md5 hyperplanes and exact int64 sign decisions as ann_srp_bucketed
    (the bucket loop is the same expression over the shared module
    constants); the probe fan-out is a 9-row literal explode per
    query, candidates remain ONE uniform equi-join on the bucket key
    (the corpus side never fans out or cross-joins — probes x 9 rows
    join corpus x 1), dedup-free since buckets are disjoint, and the
    exact-cosine rerank + top-3 window reuse the family's
    bit-reproducible fold. probe_dist ships per hit so the readout
    shows how many of the final top-k only multi-probe found."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * _SRP_GRID, 0).cast("bigint"),
    )
    staged = emb.select("vec_id", "embedding", qv.alias("qv"))
    bucket = F.lit(0).cast("bigint")
    for p in range(_SRP_PLANES):
        wts = F.array(
            *[F.lit(_srp_weight(p, i)) for i in range(_SRP_DIM)]
        )
        dot = F.aggregate(
            F.zip_with(F.col("qv"), wts, lambda a, b: a * b),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << p)).otherwise(0)
    staged = staged.select(
        "vec_id", "embedding", bucket.cast("bigint").alias("bucket")
    )
    flips = F.array(
        F.lit(0), *[F.lit(1 << p) for p in range(_SRP_PLANES)]
    )
    probes = (
        staged.filter(F.col("vec_id") < 50)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("bucket"),
            F.explode(flips).alias("flip"),
        )
        .select(
            "query_id",
            "qe",
            F.expr("bucket ^ flip").cast("bigint").alias("pbucket"),
            F.when(F.col("flip") == 0, 0).otherwise(1).alias("probe_dist"),
        )
    )
    corpus = staged.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("bucket").alias("pbucket"),
        F.col("embedding").alias("ne"),
    )
    scored = (
        probes.join(corpus, "pbucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "probe_dist",
            F.round(cosine(F.col("qe"), F.col("ne")), 12).alias("cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id",
            "neighbor_id",
            F.col("probe_dist").cast("bigint").alias("probe_dist"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


@query(
    "ann_ivf_spill",
    oracle=f"""
    WITH emb AS (SELECT vec_id, embedding
                 FROM read_parquet('{{sf}}/embeddings.parquet')),
    cent AS (SELECT vec_id AS centroid_id, embedding FROM emb
             WHERE vec_id < {IVF_LISTS}),
    assign AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY round({_CENT_COS_SQL}, 12) DESC,
                                         c.centroid_id) AS probe_rank
      FROM emb e, cent c
    ),
    lists AS (SELECT vec_id AS neighbor_id, embedding, centroid_id
              FROM assign WHERE probe_rank <= {IVF_SPILL}),
    probes AS (SELECT vec_id AS query_id, embedding, centroid_id
               FROM assign WHERE probe_rank = 1 AND vec_id < 30),
    scored AS (
      SELECT p.query_id, l.neighbor_id,
             round({_dot_sql('p.embedding', 'l.embedding')}
                   / sqrt({_dot_sql('p.embedding', 'p.embedding')})
                   / sqrt({_dot_sql('l.embedding', 'l.embedding')}), 12) AS cos
      FROM probes p JOIN lists l ON p.centroid_id = l.centroid_id
                                AND p.query_id <> l.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {IVF_K}
    """,
    tags=("similarity", "ann", "ivf", "spilled-assignment"),
)
def ann_ivf_spill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with SPILLED corpus assignment (operators/
    similarity.py ivf_spill_topk): every corpus vector is indexed
    under its 2 nearest centroids and queries probe exactly ONE list —
    the memory-for-recall dual of ann_ivf_topk's probe-side fan-out
    (Guo et al., ICML 2020 ScaNN's spilling; SOAR is its learned
    refinement). The recall failure mode of 1-probe IVF is a corpus
    vector sitting just across a centroid boundary from its query;
    spilling replicates exactly those boundary vectors into the
    second-best list AT BUILD TIME, so query-time candidate traffic
    stays one uniform equi-join on centroid_id per query (half
    ann_ivf_topk's probe traffic) while the index doubles — the right
    trade wherever the corpus is written once and probed billions of
    times, the training-data-pipeline regime. Same deterministic
    id-seeded quantizer as the rest of the IVF family (production
    swaps in train_centroids with identical plumbing)."""
    from ..operators.similarity import ivf_spill_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_spill_topk(emb, F.col("vec_id") < 30)


@query(
    "ann_ivf_recall_matched",
    oracle=f"""
    WITH emb AS (SELECT vec_id, embedding
                 FROM read_parquet('{{sf}}/embeddings.parquet')),
    cent AS (SELECT vec_id AS centroid_id, embedding FROM emb
             WHERE vec_id < {IVF_LISTS}),
    assign AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY round({_CENT_COS_SQL}, 12) DESC,
                                         c.centroid_id) AS probe_rank
      FROM emb e, cent c
    ),
    l1 AS (SELECT vec_id AS neighbor_id, embedding, centroid_id
           FROM assign WHERE probe_rank = 1),
    l2 AS (SELECT vec_id AS neighbor_id, embedding, centroid_id
           FROM assign WHERE probe_rank <= {IVF_SPILL}),
    p1 AS (SELECT vec_id AS query_id, embedding, centroid_id
           FROM assign WHERE probe_rank = 1 AND vec_id < 30),
    p2 AS (SELECT vec_id AS query_id, embedding, centroid_id
           FROM assign WHERE probe_rank <= 2 AND vec_id < 30),
    truth_scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round({_COS_SQL}, 12) AS cos
      FROM emb a JOIN emb b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < 30
    ), truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM truth_scored) WHERE rank <= {IVF_K}
    ),
    spill_scored AS (
      SELECT p.query_id, l.neighbor_id,
             round({_dot_sql('p.embedding', 'l.embedding')}
                   / sqrt({_dot_sql('p.embedding', 'p.embedding')})
                   / sqrt({_dot_sql('l.embedding', 'l.embedding')}), 12)
               AS cos
      FROM p1 p JOIN l2 l ON p.centroid_id = l.centroid_id
                         AND p.query_id <> l.neighbor_id
    ), spill AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM spill_scored) WHERE rank <= {IVF_K}
    ),
    probe_scored AS (
      SELECT p.query_id, l.neighbor_id,
             round({_dot_sql('p.embedding', 'l.embedding')}
                   / sqrt({_dot_sql('p.embedding', 'p.embedding')})
                   / sqrt({_dot_sql('l.embedding', 'l.embedding')}), 12)
               AS cos
      FROM p2 p JOIN l1 l ON p.centroid_id = l.centroid_id
                         AND p.query_id <> l.neighbor_id
    ), probe AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM probe_scored) WHERE rank <= {IVF_K}
    ),
    spill_hits AS (
      SELECT t.query_id, count(s.neighbor_id) AS n_hit
      FROM truth t LEFT JOIN spill s
        ON s.query_id = t.query_id AND s.neighbor_id = t.neighbor_id
      GROUP BY t.query_id
    ),
    probe_hits AS (
      SELECT t.query_id, count(s.neighbor_id) AS n_hit
      FROM truth t LEFT JOIN probe s
        ON s.query_id = t.query_id AND s.neighbor_id = t.neighbor_id
      GROUP BY t.query_id
    )
    SELECT 'spill2_probe1' AS variant,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(n_hit) AS BIGINT) AS n_hits,
           CAST(sum(n_hit) AS DOUBLE) / (count(*) * 5) AS recall_at_5,
           (SELECT CAST(count(*) AS BIGINT) FROM spill_scored)
             AS candidate_rows
    FROM spill_hits
    UNION ALL
    SELECT 'spill1_probe2',
           CAST(count(*) AS BIGINT),
           CAST(sum(n_hit) AS BIGINT),
           CAST(sum(n_hit) AS DOUBLE) / (count(*) * 5),
           (SELECT CAST(count(*) AS BIGINT) FROM probe_scored)
    FROM probe_hits
    """,
    tags=("similarity", "ann", "ivf", "evaluation"),
)
def ann_ivf_recall_matched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spill-vs-probe trade as a MEASURED number (r10-verdict
    item 7): recall@5 of the two IVF variants that spend the same
    candidate traffic — spilled assignment (corpus in its 2 nearest
    lists, queries probe 1: ann_ivf_spill's shape) vs probe fan-out
    (corpus in 1 list, queries probe 2: ann_ivf_topk's shape) — each
    against the brute-force ground truth on the same 30 queries, k=5,
    16 centroids. candidate_rows ships per variant so 'matched
    traffic' is itself a measured column (both enumerate query-side ×
    probed-list pairs; spilling doubles index rows instead of probe
    lookups, so spill traffic ≈ probe traffic by construction — the
    assignment boundary cases make them differ slightly, which is
    exactly what the column shows). All three legs are the registry's
    existing operators (brute_force_topk / ivf_spill_topk / ivf_topk,
    one shared deterministic quantizer), the hit join is
    (query, neighbor) equi + two-level count — the dedup_lsh_recall_eval
    pattern for the IVF family. At 100 TB the eval runs on a query
    SAMPLE (the ANN-eval norm) and the ground-truth GEMM leg is the
    amortized-once cost."""
    from ..operators.similarity import (
        brute_force_topk,
        ivf_spill_topk,
        ivf_topk,
        nearest_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qpred = F.col("vec_id") < 30
    truth = brute_force_topk(emb, qpred, k=IVF_K).select(
        "query_id", "neighbor_id"
    )
    cent = emb.filter(F.col("vec_id") < IVF_LISTS)

    def traffic(nlist: int, nprobe: int) -> Column:
        lists = nearest_centroids(emb, cent, nlist).select(
            F.col("vec_id").alias("neighbor_id"), "centroid_id"
        )
        probes = nearest_centroids(emb.filter(qpred), cent, nprobe).select(
            F.col("vec_id").alias("query_id"), "centroid_id"
        )
        return (
            probes.join(lists, "centroid_id")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .agg(F.count(F.lit(1)).cast("bigint"))
            .scalar()
        )

    def leg(variant: str, approx: DataFrame, candidate_rows: Column) -> DataFrame:
        hits = (
            truth.join(
                approx.select("query_id", "neighbor_id").withColumn(
                    "hit", F.lit(1)
                ),
                ["query_id", "neighbor_id"],
                "left",
            )
            .groupBy("query_id")
            .agg(F.count("hit").alias("n_hit"))
        )
        return hits.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.sum("n_hit").cast("bigint").alias("n_hits"),
            (F.sum("n_hit").cast("double") / (F.count(F.lit(1)) * 5)).alias(
                "recall_at_5"
            ),
        ).select(
            F.lit(variant).alias("variant"),
            "n_queries",
            "n_hits",
            "recall_at_5",
            candidate_rows.alias("candidate_rows"),
        )

    spill = ivf_spill_topk(emb, qpred)
    probe = ivf_topk(emb, qpred)
    return leg("spill2_probe1", spill, traffic(IVF_SPILL, 1)).unionByName(
        leg("spill1_probe2", probe, traffic(1, 2))
    )
