"""Duplicate-cluster queries: near-dup pairs → connected components →
purge list (north-star extension; completes the dedup family — pairs
alone don't dedup anything, clusters with one keeper each do).

Corpus: documents plus TWO mutated copies of every 10th doc (distinct
tail markers keyed -(2·id+1) / -(2·id+2) — odd/even negatives stay
disjoint from real ids AND each other at any scale factor), so each dup
group is a 3-clique {orig, v1, v2}
and the component label must propagate to both copies. The oracle
computes the same clusters with a recursive-CTE transitive closure —
an entirely different algorithm (closure vs label propagation), which is
exactly what makes the cross-check meaningful.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..operators.dedup import (
    dedup_hash_backend,
    hash32,
    minhash_lsh_dedup,
)
from ..operators.graph import connected_components, label_propagation
from ..session import iterate, materialize, release
from ..sources import fan_out, load_table
from .dedup_queries import minhash_pairs_with_list
from .registry import query

_CHAIN_DOCS_SQL = """
      SELECT doc_id, text FROM read_parquet('{sf}/documents.parquet')
      UNION ALL
      SELECT -(2 * doc_id + 1), text || ' neardup tail marker'
      FROM read_parquet('{sf}/documents.parquet') WHERE doc_id % 10 = 0
      UNION ALL
      SELECT -(2 * doc_id + 2), text || ' second variant tail'
      FROM read_parquet('{sf}/documents.parquet') WHERE doc_id % 10 = 0
"""


def _chain_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copy = docs.filter(F.col("doc_id") % 10 == 0)
    v1 = copy.select(
        (-(2 * F.col("doc_id") + 1)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" neardup tail marker")).alias("text"),
    )
    v2 = copy.select(
        (-(2 * F.col("doc_id") + 2)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" second variant tail")).alias("text"),
    )
    return fan_out(docs.unionByName(v1).unionByName(v2))


def _purchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct customer–supplier purchase pair frame (c, s) —
    the shared edge source of the purchase-graph family (pagerank
    step/k10, HITS, Katz, assortativity; previously built inline five
    times, byte-for-byte). The lineitem side carries an explicit-N
    repartition on the join key: the join's own exchange (reused, not
    an extra shuffle — repartition(P, k) + join on k share it), pinned
    so AQE's byte-based coalescing doesn't run the row-heavy
    join+distinct on 3 tasks (the byte-small/row-expensive starvation
    documented on the PPJoin verify; interleaved best-of-3 on the k=10
    chain: 4.48 s → 3.97 s)."""
    P = spark.sparkContext.defaultParallelism
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .repartition(P, "l_orderkey")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )


def _lsh_chain_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The checkpointed MinHash-LSH pair list over the chain corpus —
    the shared entry stage of the link-prediction trio (checkpoint so
    the symmetric edge union's two branches run the LSH pipeline once,
    the connected_components rationale in operators/graph.py)."""
    backend = dedup_hash_backend()
    return materialize(
        minhash_lsh_dedup(_chain_docs(spark, sf_dir), backend=backend),
        "_lsh_chain_pairs",
    )


_CC_ORACLE = (
    "WITH RECURSIVE "
    + minhash_pairs_with_list(_CHAIN_DOCS_SQL, 0.6)
    + """,
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION
              SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(src, node) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.node
    )
    SELECT node AS doc_id, min(src) AS cluster_id,
           (node = min(src)) AS is_keeper
    FROM reach GROUP BY node
    """
)


@query("dedup_cc_purge", oracle=_CC_ORACLE, tags=("dedup-clusters", "graph"))
def dedup_cc_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PURGE LIST: MinHash-LSH pairs → connected components →
    one keeper (smallest doc_id) per duplicate cluster. Non-keepers are
    the rows a training pipeline drops. Components via iterative
    min-label propagation (operators/graph.py; O(diameter) rounds,
    fixpoint-terminated); the oracle uses a recursive closure instead."""
    # same parity-vs-production hash switch as dedup_minhash_lsh
    backend = dedup_hash_backend()
    pairs = minhash_lsh_dedup(
        _chain_docs(spark, sf_dir), backend=backend
    )
    labels = connected_components(pairs, src="doc_a", dst="doc_b")
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("is_keeper"),
    )


_CC_HIST_ORACLE = (
    "WITH RECURSIVE "
    + minhash_pairs_with_list(_CHAIN_DOCS_SQL, 0.6)
    + """,
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION
              SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(src, node) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.node
    ),
    labels AS (SELECT node, min(src) AS cluster_id FROM reach GROUP BY node),
    csizes AS (SELECT cluster_id, count(*) AS cluster_size
               FROM labels GROUP BY cluster_id)
    SELECT cluster_size, count(*) AS n_clusters,
           CAST(sum(cluster_size) AS BIGINT) AS n_docs
    FROM csizes GROUP BY cluster_size
    """
)


@query(
    "dedup_cluster_histogram",
    oracle=_CC_HIST_ORACLE,
    tags=("dedup-clusters", "graph", "ops"),
)
def dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution — the corpus-health report a
    dedup run ships with (a fat tail here means boilerplate mega-clusters
    and a pre-collapse pass is needed BEFORE pairwise verification). Same
    LSH → connected-components lineage as dedup_cc_purge, reduced to
    {cluster_size → n_clusters, n_docs}; the reduction keys are tiny, so
    both final aggregations are uniform single shuffles."""
    backend = dedup_hash_backend()
    pairs = minhash_lsh_dedup(
        _chain_docs(spark, sf_dir), backend=backend
    )
    labels = connected_components(pairs, src="doc_a", dst="doc_b")
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
    )


@query(
    "graph_pagerank_step",
    oracle="""
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM read_parquet('{sf}/lineitem.parquet') l
      JOIN read_parquet('{sf}/orders.parquet') o
        ON o.o_orderkey = l.l_orderkey
    ), deg AS (
      SELECT c, count(*) AS d FROM e GROUP BY c
    ), contrib AS (
      SELECT e.s, CAST(1048576 // deg.d AS BIGINT) AS w
      FROM e JOIN deg ON deg.c = e.c
    )
    SELECT s AS suppkey,
           CAST((sum(w) * 17) // 20 + (1048576 * 3) // 20 AS BIGINT)
             AS rank_q
    FROM contrib GROUP BY s
    """,
    tags=("graph", "pagerank", "iterative"),
)
def graph_pagerank_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One PageRank power iteration over the customer→supplier purchase
    graph (damping 0.85): which suppliers concentrate demand influence
    when every customer's unit of rank splits evenly across the
    suppliers it buys from. Joins the iterative-algorithm family
    (pipe_kmeans_step, ts_bpe_first_merges, dedup_cc_purge): the LOOP is
    a driver concern re-running a per-step query whose output feeds the
    next step's input; this pins one step exactly. Scale shape: the
    distinct edge list is one shuffle on (cust, supp); degrees are a
    key-space-sized aggregate joined back on the customer key (shuffle
    sized by edges, never by lineitems — the distinct already collapsed
    multiplicity); the rank sum groups on the supplier key. Arithmetic
    is integers end-to-end — rank mass on a 2^20 grid, per-edge
    contribution by integer division, damping as *17 div 20 (floor
    division agrees across engines on non-negative operands) — so an
    N-step chain replays bit-identically anywhere, the property that
    makes iterative convergence checkpointable/resumable."""
    e = _purchase_pairs(spark, sf_dir)
    # degree as a count window on the customer key: one exchange builds
    # the weighted contributions where groupBy-deg + join paid the same
    # exchange plus a join subtree (the pagerank_loop r12 shape)
    contrib = e.withColumn(
        "d", F.count(F.lit(1)).over(W.partitionBy("c"))
    ).select("s", F.expr("1048576 div d").cast("bigint").alias("w"))
    return contrib.groupBy(F.col("s").alias("suppkey")).agg(
        F.expr("(sum(w) * 17) div 20 + (1048576 * 3) div 20")
        .cast("bigint")
        .alias("rank_q")
    )


_CA_SPLIT_ORACLE = (
    "WITH RECURSIVE "
    + minhash_pairs_with_list(_CHAIN_DOCS_SQL, 0.6)
    + """,
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION
              SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(src, node) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.node
    ),
    labels AS (SELECT node, min(src) AS cluster_id FROM reach GROUP BY node),
    asg AS (
      SELECT c.doc_id, COALESCE(l.cluster_id, c.doc_id) AS cluster_id
      FROM expanded c LEFT JOIN labels l ON l.node = c.doc_id
    ), pct AS (
      SELECT doc_id, cluster_id,
             CAST(('0x' || substr(md5('casplit:' ||
                  CAST(cluster_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS p
      FROM asg
    )
    SELECT doc_id, cluster_id,
           CASE WHEN p < 80 THEN 'train'
                WHEN p < 90 THEN 'val' ELSE 'test' END AS split
    FROM pct
    """
)


@query(
    "split_cluster_aware",
    oracle=_CA_SPLIT_ORACLE,
    tags=("sampling", "dedup-clusters", "leakage"),
)
def split_cluster_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster-aware train/val/test split: the split key is
    the near-dup CLUSTER label, not the document id, so paraphrase
    groups land in the same split WHOLE — the leakage guard plain
    hash-splitting (split_train_val_test) cannot give, because a near
    copy of a test document sitting in train silently inflates every
    eval. Composition of two existing pieces: MinHash-LSH pairs →
    connected components (the dedup_cc_purge chain) for the labels;
    singleton docs (no near-dup) keep their own id as the cluster.
    The split itself is the registry's standard deterministic
    hash-threshold compare on the cluster id — reproducible at any
    parallelism, stable as the corpus grows (adding a doc can only
    merge clusters, never reassign an untouched one). Cost over the
    plain split: the LSH+CC chain, which a dedup-ing pipeline has
    already run — the labels here would be READ from that stage's
    output, making the leakage guard nearly free."""
    backend = dedup_hash_backend()
    corpus = _chain_docs(spark, sf_dir)
    pairs = minhash_lsh_dedup(corpus, backend=backend)
    labels = connected_components(pairs, src="doc_a", dst="doc_b")
    asg = corpus.select("doc_id").join(
        labels.select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"),
        ),
        "doc_id",
        "left",
    ).select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )
    p = hash32(
        F.concat(F.lit("casplit:"), F.col("cluster_id").cast("string"))
    ) % 100
    split = (
        F.when(p < 80, "train").when(p < 90, "val").otherwise("test")
    )
    return asg.select("doc_id", "cluster_id", split.alias("split"))


_KEEPER_Q_ORACLE = (
    "WITH RECURSIVE "
    + minhash_pairs_with_list(_CHAIN_DOCS_SQL, 0.6)
    + """,
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION
              SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(src, node) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.node
    ),
    labels AS (SELECT node, min(src) AS cluster_id FROM reach GROUP BY node),
    sized AS (
      SELECT l.node AS doc_id, l.cluster_id, length(c.text) AS n_chars
      FROM labels l JOIN expanded c ON c.doc_id = l.node
    ), ranked AS (
      SELECT doc_id, cluster_id, n_chars,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY n_chars DESC, doc_id ASC) AS rk
      FROM sized
    )
    SELECT doc_id, cluster_id, CAST(n_chars AS BIGINT) AS n_chars,
           (rk = 1) AS is_keeper
    FROM ranked
    """
)


@query(
    "dedup_keeper_by_quality",
    oracle=_KEEPER_Q_ORACLE,
    tags=("dedup-clusters", "graph", "survivorship"),
)
def dedup_keeper_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-based survivorship for near-dup clusters: keep the
    LONGEST member of each duplicate group instead of the smallest id
    (dedup_cc_purge's policy) — the policy a training pipeline actually
    wants, because near-dup groups typically contain one full document
    plus truncated/mangled copies, and min-id keeps whichever got
    crawled first. Same LSH+CC chain for the labels; the survivorship
    is one row_number per cluster ordered (quality desc, id asc) — the
    deterministic argmax, cluster-sized partitions (bounded by dup
    group size, never corpus-partitioned). Swapping the ORDER BY swaps
    the policy (recency, source trust rank, quality_logit score) with
    no other plan change — survivorship is a one-line strategy knob."""
    backend = dedup_hash_backend()
    corpus = _chain_docs(spark, sf_dir)
    pairs = minhash_lsh_dedup(corpus, backend=backend)
    labels = connected_components(pairs, src="doc_a", dst="doc_b")
    sized = labels.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
    ).join(
        corpus.select("doc_id", F.length("text").alias("n_chars")),
        "doc_id",
    )
    w = W.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return sized.select(
        "doc_id",
        "cluster_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        (F.row_number().over(w) == 1).alias("is_keeper"),
    )


def _pagerank_oracle(k: int) -> str:
    """Unrolled k-iteration PageRank twin: DuckDB's recursive CTEs
    cannot aggregate in the recursive leg, so the loop unrolls into k
    chained CTEs — same exact integer-grid arithmetic as the Spark
    loop (rank mass 2^20, per-edge floor shares, damping 17 div 20)."""
    sql = """
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM read_parquet('{sf}/lineitem.parquet') l
      JOIN read_parquet('{sf}/orders.parquet') o
        ON o.o_orderkey = l.l_orderkey
    ), edges AS MATERIALIZED (
      SELECT c AS u, -s AS v FROM e0
      UNION ALL
      SELECT -s AS u, c AS v FROM e0
    ), deg AS MATERIALIZED (
      SELECT u, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY u
    ), r0 AS (
      SELECT u AS node, CAST(1048576 AS BIGINT) AS r FROM deg
    )"""
    for i in range(1, k + 1):
        sql += f""", r{i} AS (
      SELECT e.v AS node,
             CAST((sum(r.r // d.d) * 17) // 20
                  + (1048576 * 3) // 20 AS BIGINT) AS r
      FROM edges e
      JOIN deg d ON d.u = e.u
      JOIN r{i - 1} r ON r.node = e.u
      GROUP BY e.v
    )"""
    return sql + f"""
    SELECT CAST(node AS BIGINT) AS node, r AS rank_q FROM r{k}
    """


@query(
    "graph_pagerank_k10",
    oracle=_pagerank_oracle(10),
    tags=("graph", "pagerank", "iterative"),
)
def graph_pagerank_k10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ten PageRank power iterations over the UNDIRECTED customer ↔
    supplier purchase graph — the converged-loop completion of
    graph_pagerank_step (which pins one directed step; a multi-step
    chain needs the symmetrized graph, because in the one-way
    bipartite form suppliers dangle and the iteration is trivial
    after step 1). Node id space: customers positive, suppliers
    negated — disjoint by construction at any scale factor. The loop
    lives in operators/graph.py (pagerank_loop): per round ONE
    rank × adjacency shuffle join on the source key + one groupBy-sum
    on the destination key, localCheckpoint lineage truncation per
    round — the dedup_cc_purge iteration discipline. Arithmetic is
    int64 end-to-end (2^20 rank grid, floor shares, damping
    17 div 20 on non-negative operands), so the 10-step chain is
    bit-identical across engines AND resumable from any round's
    checkpoint. The oracle unrolls the same recursion into 10 chained
    CTEs — a genuinely independent evaluation order (DuckDB
    re-derives each round from the full chain; Spark iterates over
    materialized checkpoints)."""
    e0 = _purchase_pairs(spark, sf_dir)
    edges = e0.select(
        F.col("c").alias("src"), (-F.col("s")).alias("dst")
    ).unionByName(
        e0.select((-F.col("s")).alias("src"), F.col("c").alias("dst"))
    )
    from ..operators.graph import pagerank_loop

    ranks = pagerank_loop(edges, k=10)
    return ranks.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("r").alias("rank_q"),
    )


_TRIANGLE_ORACLE = (
    "WITH "
    + minhash_pairs_with_list(_CHAIN_DOCS_SQL, 0.6)
    + """,
    e AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
    sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
    deg AS (SELECT a, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY a),
    wed AS (SELECT CAST(coalesce(sum((d * (d - 1)) // 2), 0) AS BIGINT)
              AS n_wedges FROM deg),
    tri AS (
      SELECT CAST(count(*) AS BIGINT) AS n_triangles
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    edg AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
    SELECT edg.n_edges, wed.n_wedges, tri.n_triangles,
           CASE WHEN wed.n_wedges > 0
                THEN CAST(3 * tri.n_triangles AS DOUBLE) / wed.n_wedges
           END AS transitivity
    FROM edg, wed, tri
    """
)


@query(
    "graph_triangle_count",
    oracle=_TRIANGLE_ORACLE,
    tags=("graph", "triangles", "dedup-clusters"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census + global transitivity of the near-dup pair graph
    — the structural audit of how CLIQUE-LIKE duplicate groups are. A
    healthy near-dup relation is highly transitive (A~B, B~C usually
    implies A~C: this corpus's planted groups are 3-cliques, so
    transitivity is high); a low coefficient means the LSH threshold is
    admitting chain-like borderline pairs that connected components
    will then over-merge — the metric that tunes the threshold BEFORE
    a purge eats real documents. Exact enumeration on the id-ordered
    edge list (a < b, the standard distributed triangle shape): each
    triangle a<b<c counted exactly once via two equi-joins (wedge
    build on the middle vertex, then closure lookup), never on the
    symmetric list — candidate volume is Σ d(v)² on ORDERED degrees,
    the skew-robust variant. Wedges are a pure degree aggregate
    (d·(d−1) div 2, exact ints). The pair list is checkpointed once
    and fanned to all three legs (the connected_components discipline:
    Spark does no cross-branch subplan sharing)."""
    backend = dedup_hash_backend()
    pairs = minhash_lsh_dedup(
        _chain_docs(spark, sf_dir), backend=backend
    )
    e = materialize(
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")),
        "graph_triangle_count.e",
    )
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    n_wedges = deg.agg(
        F.coalesce(F.sum(F.expr("(d * (d - 1)) div 2")), F.lit(0)).cast("bigint")
    ).scalar()
    wedges2 = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e2.a") == F.col("e1.b"))
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    n_triangles = (
        wedges2.join(
            e.alias("e3"),
            (F.col("e3.a") == F.col("x")) & (F.col("e3.b") == F.col("z")),
        )
        .agg(F.count(F.lit(1)).cast("bigint"))
        .scalar()
    )
    return (
        e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
        .withColumns({"n_wedges": n_wedges, "n_triangles": n_triangles})
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                (3 * F.col("n_triangles")).cast("double")
                / F.col("n_wedges"),
            ).alias("transitivity"),
        )
    )


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled fixed-round k-core peel: each round recomputes degrees
    over the surviving edge set and drops nodes below k. Aggregates per
    round rule out a recursive CTE, so the loop unrolls — the same
    fixed-iteration-contract pattern as the PageRank oracle. Every
    per-round CTE is MATERIALIZED: DuckDB inlines plain CTEs once per
    reference, and with sym{i} referenced 3× by round i+1 the unrolled
    chain otherwise expands 3^rounds scans of the base table (observed:
    'too many open files' at rounds=8)."""
    sql = (
        "WITH "
        + minhash_pairs_with_list(_CHAIN_DOCS_SQL, 0.6)
        + """,
    sym0 AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM pairs
             UNION ALL SELECT doc_b, doc_a FROM pairs),
    allnodes AS (SELECT DISTINCT a AS node FROM sym0)"""
    )
    prev = "sym0"
    for i in range(1, rounds + 1):
        sql += f""",
    d{i} AS (SELECT a, count(*) AS d FROM {prev} GROUP BY a),
    k{i} AS MATERIALIZED (SELECT a FROM d{i} WHERE d >= {k}),
    sym{i} AS MATERIALIZED (SELECT s.a, s.b FROM {prev} s
               JOIN k{i} x ON x.a = s.a
               JOIN k{i} y ON y.a = s.b)"""
        prev = f"sym{i}"
    return sql + f"""
    SELECT n.node AS doc_id,
           (EXISTS (SELECT 1 FROM k{rounds} WHERE k{rounds}.a = n.node))
             AS in_core
    FROM allnodes n
    """


@query(
    "graph_kcore_membership",
    oracle=_kcore_oracle(2, 8),
    tags=("graph", "kcore", "dedup-clusters"),
)
def graph_kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core membership of the near-dup pair graph — iterative peeling
    (drop degree-<k nodes, recompute, repeat) that separates DENSE
    duplication structure (boilerplate cliques, template families — the
    2-core) from incidental pairwise matches (chain/pendant edges that
    peel away). A training-data pipeline treats the two differently:
    core clusters get a per-cluster canonical pick, pendants get plain
    pairwise keep-one. Fixed 8 peel rounds as the cross-engine
    CONTRACT (the planted 3-clique topology converges in 1; 8 bounds
    any realistic dup graph — deeper graphs would raise the constant,
    same plan). Per round: one degree aggregate + two semi-joins
    against the survivor set, localCheckpoint truncating lineage — the
    connected-components iteration discipline, uniform id keys
    throughout. The oracle unrolls the identical 8 rounds into chained
    CTEs. Output: every node of the pair graph with its in_core flag."""
    backend = dedup_hash_backend()
    pairs = minhash_lsh_dedup(
        _chain_docs(spark, sf_dir), backend=backend
    )
    e = materialize(
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")),
        "graph_kcore_membership.e",
    )
    sym = materialize(
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))),
        "graph_kcore_membership.sym",
    )
    allnodes = sym.select(F.col("a").alias("node")).distinct()

    def core(cur: DataFrame) -> DataFrame:
        deg = cur.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
        return deg.filter(F.col("d") >= 2).select("a")

    def step(cur: DataFrame) -> DataFrame:
        keep = core(cur)
        return cur.join(keep, "a", "semi").join(
            keep.select(F.col("a").alias("b")), "b", "semi"
        )

    # the output reads only the 8th round's core, the degree filter of
    # the 7th round's edges, so the 8th edge set is never built
    keep = core(iterate(sym, step, "graph_kcore_membership.cur", 7))
    release(e)
    return allnodes.join(
        keep.select(F.col("a").alias("node")).withColumn(
            "in_core", F.lit(True)
        ),
        "node",
        "left",
    ).select(
        F.col("node").alias("doc_id"),
        F.coalesce("in_core", F.lit(False)).alias("in_core"),
    )


def _bfs_oracle(k: int) -> str:
    """Unrolled k-round BFS min-distance propagation over the near-dup
    pair graph, every CTE materialized (edges feeds all k rounds — an
    inlined copy would replay the whole LSH chain per round)."""
    sql = (
        "WITH "
        + minhash_pairs_with_list(_CHAIN_DOCS_SQL, 0.6)
        + """,
    edges AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ), d0 AS MATERIALIZED (
      SELECT DISTINCT a AS node, CAST(0 AS BIGINT) AS dist
      FROM edges WHERE a >= 0 AND a % 10 = 0
    )"""
    )
    for r in range(1, k + 1):
        sql += f""", d{r} AS MATERIALIZED (
      SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM d{r - 1}
        UNION ALL
        SELECT e.b AS node, d.dist + 1 AS dist
        FROM d{r - 1} d JOIN edges e ON e.a = d.node
      ) GROUP BY node
    )"""
    return (
        sql
        + f"""
    SELECT node AS doc_id, CAST(dist AS BIGINT) AS hops FROM d{k}
    """
    )


@query(
    "graph_bfs_hops",
    oracle=_bfs_oracle(4),
    tags=("graph", "bfs", "iterative"),
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance over the near-dup pair graph —
    'how many near-dup steps from a trusted original is this doc', the
    contagion/provenance-radius question (a doc 3 hops from a seed is
    a dup-of-a-dup-of-a-dup: transitively related without ever
    LSH-matching the seed directly). Seeds are the planted originals
    (non-negative ids ≡ 0 mod 10); four rounds of min-distance
    propagation — per round ONE edges-join + ONE groupBy-min, the
    exact per-round shape (and localCheckpoint lineage discipline) of
    the pagerank/CC loops, so it checkpoints/resumes the same way.
    The full-frontier form here re-relaxes settled nodes (harmless on
    dup clusters whose diameter is tiny); a deep-graph deployment
    keeps only the newly-improved frontier per round (anti-join on
    dist — same plan, smaller propagate side). Unreached nodes carry
    no row (distance ∞), matching the oracle's propagation closure."""
    backend = dedup_hash_backend()
    # the symmetric union consumes `pairs` on two branches; checkpoint
    # so the LSH pipeline runs once, not once per branch
    pairs = materialize(
        minhash_lsh_dedup(_chain_docs(spark, sf_dir), backend=backend),
        "graph_bfs_hops.pairs",
    )
    edges = materialize(
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .union(
            pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
        )
        .distinct(),
        "graph_bfs_hops.edges",
    )
    dist = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .filter((F.col("node") >= 0) & (F.col("node") % 10 == 0))
        .select("node", F.lit(0).cast("bigint").alias("dist"))
    )

    def step(dist: DataFrame) -> DataFrame:
        prop = dist.join(edges, dist["node"] == edges["a"]).select(
            F.col("b").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        return (
            dist.unionByName(prop)
            .groupBy("node")
            .agg(F.min("dist").cast("bigint").alias("dist"))
        )

    dist = iterate(dist, step, "graph_bfs_hops.dist", 4)
    release(pairs, edges)
    return dist.select(
        F.col("node").alias("doc_id"), F.col("dist").alias("hops")
    )


@query(
    "graph_common_neighbors",
    oracle=(
        "WITH "
        + minhash_pairs_with_list(_CHAIN_DOCS_SQL, 0.6)
        + """,
    edges AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ), deg AS MATERIALIZED (
      SELECT a AS node, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY a
    ), two_hop AS (
      SELECT e1.a AS u, e2.b AS v, CAST(count(*) AS BIGINT) AS cn
      FROM edges e1 JOIN edges e2 ON e2.a = e1.b
      WHERE e1.a < e2.b
      GROUP BY u, v
    ), nonedge AS (
      SELECT t.u, t.v, t.cn FROM two_hop t
      WHERE NOT EXISTS (SELECT 1 FROM edges e
                        WHERE e.a = t.u AND e.b = t.v)
    )
    SELECT n.u AS doc_u, n.v AS doc_v, n.cn AS common_neighbors,
           CAST(n.cn AS DOUBLE) / (du.d + dv.d - n.cn) AS jaccard
    FROM nonedge n
    JOIN deg du ON du.node = n.u
    JOIN deg dv ON dv.node = n.v
    """
    ),
    tags=("graph", "link-prediction"),
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors LINK PREDICTION over the near-dup graph: pairs
    that share LSH neighbors but never banded together themselves —
    'should these two docs be in the same dup cluster even though the
    sketch missed the direct edge', the transitive-miss auditor for a
    banding configuration (high-Jaccard non-edges are LSH false
    negatives worth a verify pass). Candidates come from ONE 2-hop
    join on the collision-bounded edge list (never corpus-quadratic —
    the same candidate discipline as every dedup stage), direct edges
    leave by anti-join, and the neighborhood-Jaccard denominator
    |Γu ∪ Γv| = du + dv − cn uses the S-row degree frame. The score
    division is the only double, of exact integers. The
    pairs→edges→degree→2-hop scaffold is the shared
    operators/graph.py lsh_pair_graph/two_hop_nonedges — one
    definition across the link-prediction trio (r10-verdict item 3)."""
    from ..operators.graph import lsh_pair_graph, two_hop_nonedges

    edges, deg = lsh_pair_graph(_lsh_chain_pairs(spark, sf_dir))
    nonedge = two_hop_nonedges(edges)
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    return (
        nonedge.join(du, "u")
        .join(dv, "v")
        .select(
            F.col("u").alias("doc_u"),
            F.col("v").alias("doc_v"),
            F.col("cn").alias("common_neighbors"),
            (
                F.col("cn").cast("double")
                / (F.col("du") + F.col("dv") - F.col("cn"))
            ).alias("jaccard"),
        )
    )


@query(
    "graph_modularity",
    oracle=(
        "WITH RECURSIVE "
        + minhash_pairs_with_list(_CHAIN_DOCS_SQL, 0.6)
        + """,
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION
              SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(src, node) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.node
    ),
    labels AS (SELECT node, min(src) AS cluster_id FROM reach GROUP BY node),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM edges),
    deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS d
            FROM edges GROUP BY a),
    intra AS (
      SELECT la.cluster_id, CAST(count(*) AS BIGINT) AS e2
      FROM edges e
      JOIN labels la ON la.node = e.a
      JOIN labels lb ON lb.node = e.b AND lb.cluster_id = la.cluster_id
      GROUP BY la.cluster_id
    ),
    dsum AS (
      SELECT l.cluster_id, CAST(sum(d.d) AS BIGINT) AS dc
      FROM labels l JOIN deg d ON d.node = l.node
      GROUP BY l.cluster_id
    )
    SELECT ds.cluster_id,
           CAST(coalesce(i.e2, 0) AS BIGINT) AS intra_2e,
           ds.dc AS degree_sum,
           CAST(coalesce(i.e2, 0) * (SELECT m2 FROM m) - ds.dc * ds.dc
                AS BIGINT) AS q_num,
           CAST(coalesce(i.e2, 0) * (SELECT m2 FROM m) - ds.dc * ds.dc
                AS DOUBLE)
             / ((SELECT m2 FROM m) * (SELECT m2 FROM m))
             AS q_contrib
    FROM dsum ds LEFT JOIN intra i ON i.cluster_id = ds.cluster_id
    """
    ),
    tags=("graph", "clustering", "evaluation"),
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman MODULARITY of the duplicate-cluster partition — 'is this
    clustering better than chance' per cluster, the quality readout for
    the CC labels every purge/split stage consumes (a near-zero or
    negative contribution flags clusters that are LSH collision noise,
    not real dup groups). Exact integer form: with 2m = |directed
    edges|, d_c = cluster degree sum, 2e_c = intra-cluster directed
    edge count, each cluster's contribution is Q_c = e_c/m −
    (d_c/2m)², kept as the cross-multiplied integer q_num = 2e_c·2m −
    d_c² over the common denominator (2m)² — one double division at
    the end, Σ Q_c = the partition's modularity. All frames are
    node/cluster-sized after the one edge-labeling join."""
    backend = dedup_hash_backend()
    # two consumers fan out from `pairs` (CC labels + the edge union);
    # checkpoint so the LSH pipeline runs once, not once per branch
    pairs = materialize(
        minhash_lsh_dedup(_chain_docs(spark, sf_dir), backend=backend),
        "graph_modularity.pairs",
    )
    labels = connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("node"), F.col("component").alias("cluster_id")
    )
    edges = materialize(
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .union(
            pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
        )
        .distinct(),
        "graph_modularity.edges",
    )
    m2 = edges.agg(F.count(F.lit(1)).cast("bigint")).scalar()
    deg = edges.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    la = labels.select(F.col("node").alias("a"), F.col("cluster_id"))
    lb = labels.select(
        F.col("node").alias("b"), F.col("cluster_id").alias("cb")
    )
    intra = (
        edges.join(la, "a")
        .join(lb, "b")
        .filter(F.col("cluster_id") == F.col("cb"))
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("e2"))
    )
    dsum = (
        labels.join(deg, "node")
        .groupBy("cluster_id")
        .agg(F.sum("d").cast("bigint").alias("dc"))
    )
    out = (
        dsum.join(intra, "cluster_id", "left")
        .select(
            "cluster_id",
            F.coalesce("e2", F.lit(0)).cast("bigint").alias("intra_2e"),
            F.col("dc").alias("degree_sum"),
        )
        .withColumn("m2", m2)
    )
    q_num = F.col("intra_2e") * F.col("m2") - F.col("degree_sum") * F.col(
        "degree_sum"
    )
    return out.select(
        "cluster_id",
        "intra_2e",
        "degree_sum",
        q_num.cast("bigint").alias("q_num"),
        (
            q_num.cast("double") / (F.col("m2") * F.col("m2"))
        ).alias("q_contrib"),
    )


_LCC_ORACLE = (
    "WITH "
    + minhash_pairs_with_list(_CHAIN_DOCS_SQL, 0.6)
    + """,
    e AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM pairs),
    sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
    deg AS (SELECT a AS node, count(*) AS d FROM sym GROUP BY a),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1 JOIN e e2 ON e2.a = e1.b
                JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    corners AS (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri),
    tcnt AS (SELECT node, count(*) AS t FROM corners GROUP BY node)
    SELECT deg.node AS doc_id, CAST(d AS BIGINT) AS degree,
           CAST(coalesce(t, 0) AS BIGINT) AS n_triangles,
           CAST(2 * coalesce(t, 0) AS DOUBLE) / (d * (d - 1)) AS local_cc
    FROM deg LEFT JOIN tcnt ON tcnt.node = deg.node
    WHERE d >= 2
    """
)


@query(
    "graph_clustering_coefficient",
    oracle=_LCC_ORACLE,
    tags=("graph", "triangles", "dedup-clusters"),
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL clustering coefficient per node of the near-dup pair graph
    — the per-document refinement of graph_triangle_count's global
    transitivity: cc(v) = 2·t(v) / (d(v)·(d(v)−1)) over nodes with
    degree ≥ 2. A node with high degree but low cc sits at the center
    of a CHAIN-like (non-clique) region — exactly the documents a
    connected-components purge would over-merge through, so this is
    the per-doc "is this a safe merge hub?" audit the global number
    cannot localize. Triangles enumerate once each on the id-ordered
    edge list (the census's two-equi-join wedge+closure shape, skew
    cost Σ d² on ordered degrees), then fan each triangle to its three
    corners — a 3× union of the (tiny) triangle set, never of the
    graph. cc is one double division of exact ints per node."""
    backend = dedup_hash_backend()
    pairs = minhash_lsh_dedup(
        _chain_docs(spark, sf_dir), backend=backend
    )
    e = materialize(
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")),
        "graph_clustering_coefficient.e",
    )
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    wedges2 = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e2.a") == F.col("e1.b"))
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    tri = wedges2.join(
        e.alias("e3"),
        (F.col("e3.a") == F.col("x")) & (F.col("e3.b") == F.col("z")),
    ).select("x", "y", "z")
    corners = (
        tri.select(F.col("x").alias("node"))
        .unionByName(tri.select(F.col("y").alias("node")))
        .unionByName(tri.select(F.col("z").alias("node")))
    )
    tcnt = corners.groupBy("node").agg(F.count(F.lit(1)).alias("t"))
    return (
        deg.join(tcnt, "node", "left")
        .filter(F.col("d") >= 2)
        .select(
            F.col("node").alias("doc_id"),
            F.col("d").cast("bigint").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("bigint").alias("n_triangles"),
            (
                (2 * F.coalesce("t", F.lit(0))).cast("double")
                / (F.col("d") * (F.col("d") - 1))
            ).alias("local_cc"),
        )
    )


def _lpa_oracle(rounds: int) -> str:
    """Unrolled fixed-round majority-vote label propagation (same
    fixed-iteration-contract pattern as the PageRank / k-core oracles):
    each round re-votes over the CURRENT label frame, seeds clamped."""
    sql = (
        "WITH "
        + minhash_pairs_with_list(_CHAIN_DOCS_SQL, 0.6)
        + """,
    sym AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM pairs
             UNION ALL SELECT doc_b, doc_a FROM pairs),
    nodes AS MATERIALIZED (SELECT DISTINCT a AS node FROM sym),
    lab0 AS (SELECT node,
                    CASE WHEN node >= 0 AND node % 10 = 0
                         THEN (node // 10) % 4 END AS lbl
             FROM nodes)"""
    )
    for i in range(1, rounds + 1):
        sql += f""",
    votes{i} AS (
      SELECT s.a AS node, l.lbl AS lbl, count(*) AS v
      FROM sym s JOIN lab{i - 1} l ON l.node = s.b
      WHERE l.lbl IS NOT NULL GROUP BY s.a, l.lbl
    ),
    best{i} AS (
      SELECT node, lbl FROM (
        SELECT node, lbl, row_number() OVER (PARTITION BY node
                            ORDER BY v DESC, lbl) AS rn
        FROM votes{i}
      ) WHERE rn = 1
    ),
    lab{i} AS MATERIALIZED (
      SELECT n.node,
             CASE WHEN n.node >= 0 AND n.node % 10 = 0
                  THEN (n.node // 10) % 4
                  ELSE b.lbl END AS lbl
      FROM nodes n LEFT JOIN best{i} b ON b.node = n.node
    )"""
    return sql + f"""
    SELECT node AS doc_id, CAST(lbl AS BIGINT) AS label,
           (node >= 0 AND node % 10 = 0) AS is_seed
    FROM lab{rounds}
    """


@query(
    "graph_label_propagation",
    oracle=_lpa_oracle(2),
    tags=("graph", "semi-supervised", "dedup-clusters"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label spread over the near-dup graph
    (operators/graph.py label_propagation): every 10th original doc is
    a SEED carrying an audit label ((id div 10) mod 4 stands in for a
    human-assigned quality/PII/license class), and two majority-vote
    rounds push labels onto near-duplicate neighbors — tie → smallest
    label, no labeled neighbor → stays NULL, seeds clamped. This is
    how an expensive audited subset amplifies across a 100 TB corpus:
    near-dups of a labeled doc inherit its verdict without re-running
    the audit. Per round: one shuffle join on the neighbor key + one
    vote count + a per-node top-1 window — |E|-bounded, uniform keys,
    per-round checkpoint. The oracle unrolls the same two rounds
    (fixed-iteration contract, as PageRank/k-core)."""
    backend = dedup_hash_backend()
    pairs = materialize(
        minhash_lsh_dedup(_chain_docs(spark, sf_dir), backend=backend),
        "graph_label_propagation.pairs",
    )
    nodes = (
        pairs.select(F.col("doc_a").alias("node"))
        .unionByName(pairs.select(F.col("doc_b").alias("node")))
        .distinct()
    )
    seeds = nodes.filter(
        (F.col("node") >= 0) & (F.col("node") % 10 == 0)
    ).select(
        "node",
        (F.expr("node div 10") % 4).cast("bigint").alias("label"),
    )
    lab = label_propagation(pairs, seeds, rounds=2, src="doc_a", dst="doc_b")
    release(pairs)
    return lab.select(
        F.col("node").alias("doc_id"),
        F.col("label").cast("bigint").alias("label"),
        ((F.col("node") >= 0) & (F.col("node") % 10 == 0)).alias("is_seed"),
    )


_EDGE_SUPPORT_ORACLE = (
    "WITH "
    + minhash_pairs_with_list(_CHAIN_DOCS_SQL, 0.6)
    + """,
    e AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM pairs),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1 JOIN e e2 ON e2.a = e1.b
                JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    edge_tri AS (
      SELECT x AS a, y AS b FROM tri
      UNION ALL SELECT y, z FROM tri
      UNION ALL SELECT x, z FROM tri
    ),
    sup AS (SELECT a, b, count(*) AS s FROM edge_tri GROUP BY a, b)
    SELECT e.a AS doc_a, e.b AS doc_b,
           CAST(coalesce(s, 0) AS BIGINT) AS n_triangles,
           (coalesce(s, 0) = 0) AS is_weak
    FROM e LEFT JOIN sup ON sup.a = e.a AND sup.b = e.b
    """
)


@query(
    "graph_edge_support",
    oracle=_EDGE_SUPPORT_ORACLE,
    tags=("graph", "triangles", "dedup-quality"),
)
def graph_edge_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-EDGE triangle support of the near-dup pair graph — the
    edge-level verdict the node-level clustering coefficient can't
    give: a pair with zero triangle support is a CHAIN link (neither
    endpoint's other neighbors confirm the similarity), which is
    exactly where LSH borderline false positives live and exactly the
    edge a connected-components purge would over-merge through.
    Support>0 pairs are corroborated by a third document; is_weak
    flags the review-before-merge set. Triangles enumerate once on the
    id-ordered edge list (census shape); each triangle fans to its
    three ordered edges (3× the tiny triangle set), then one
    groupBy-count and a left join back to the edge list — |E|-bounded
    throughout."""
    backend = dedup_hash_backend()
    pairs = minhash_lsh_dedup(
        _chain_docs(spark, sf_dir), backend=backend
    )
    e = materialize(
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")),
        "graph_edge_support.e",
    )
    wedges2 = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e2.a") == F.col("e1.b"))
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    tri = wedges2.join(
        e.alias("e3"),
        (F.col("e3.a") == F.col("x")) & (F.col("e3.b") == F.col("z")),
    ).select("x", "y", "z")
    edge_tri = (
        tri.select(F.col("x").alias("a"), F.col("y").alias("b"))
        .unionByName(tri.select(F.col("y").alias("a"), F.col("z").alias("b")))
        .unionByName(tri.select(F.col("x").alias("a"), F.col("z").alias("b")))
    )
    sup = edge_tri.groupBy("a", "b").agg(F.count(F.lit(1)).alias("s"))
    return (
        e.join(sup, ["a", "b"], "left")
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            F.coalesce("s", F.lit(0)).cast("bigint").alias("n_triangles"),
            (F.coalesce("s", F.lit(0)) == 0).alias("is_weak"),
        )
    )


@query(
    "graph_adamic_adar",
    oracle=(
        "WITH "
        + minhash_pairs_with_list(_CHAIN_DOCS_SQL, 0.6)
        + """,
    edges AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ), deg AS MATERIALIZED (
      SELECT a AS node, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY a
    ), wdeg AS (
      SELECT node,
             CAST(round(1048576.0 / ln(CAST(d AS DOUBLE))) AS BIGINT)
               AS wq
      FROM deg WHERE d >= 2
    ), two_hop AS (
      SELECT e1.a AS u, e2.b AS v,
             CAST(count(*) AS BIGINT) AS cn,
             CAST(sum(w.wq) AS BIGINT) AS aa_q
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b
      JOIN wdeg w ON w.node = e1.b
      WHERE e1.a < e2.b
      GROUP BY u, v
    )
    SELECT t.u AS doc_u, t.v AS doc_v, t.cn AS common_neighbors,
           t.aa_q
    FROM two_hop t
    WHERE NOT EXISTS (SELECT 1 FROM edges e
                      WHERE e.a = t.u AND e.b = t.v)
    """
    ),
    tags=("graph", "link-prediction", "ln-grid"),
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the near-dup graph — the
    degree-weighted upgrade of graph_common_neighbors (Adamic & Adar,
    Social Networks 2003): a shared RARE neighbor is stronger evidence
    than a shared hub, so each common neighbor z contributes 1/ln(deg z)
    instead of 1. Every intermediate z of a 2-hop path has deg >= 2
    (it touches both endpoints), so ln(deg z) >= ln 2 and the weight is
    finite; weights quantize once per NODE to the 2^20 grid
    (round(2^20/ln d) — the tfidf ln-grid contract) and the per-pair
    score is then an order-insensitive integer SUM riding the exact
    same single 2-hop join as the common-neighbors count (both
    aggregates in one pass, no extra shuffle). Direct edges leave by
    anti-join as before.

    Scale: identical cost envelope to graph_common_neighbors — one
    2-hop join on the collision-bounded LSH edge list plus an S-row
    weight frame joined on the intermediate key. The scaffold is the
    shared operators/graph.py lsh_pair_graph/two_hop_nonedges
    (r10-verdict item 3) with the 1/ln(deg) node weights passed as
    the via_weights frame."""
    from ..operators.graph import lsh_pair_graph, two_hop_nonedges

    edges, deg = lsh_pair_graph(_lsh_chain_pairs(spark, sf_dir))
    wdeg = deg.filter(F.col("d") >= 2).select(
        "node",
        F.expr(
            "cast(round(1048576.0 / ln(cast(d as double))) as bigint)"
        ).alias("wq"),
    )
    return two_hop_nonedges(edges, via_weights=wdeg).select(
        F.col("u").alias("doc_u"),
        F.col("v").alias("doc_v"),
        F.col("cn").alias("common_neighbors"),
        F.col("w_q").alias("aa_q"),
    )


@query(
    "sample_group_kfold",
    oracle=(
        "WITH RECURSIVE "
        + minhash_pairs_with_list(_CHAIN_DOCS_SQL, 0.6)
        + """,
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION
              SELECT doc_b, doc_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(src, node) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.node
    ),
    labels AS (SELECT node, min(src) AS cluster_id FROM reach GROUP BY node),
    asg AS (
      SELECT c.doc_id, COALESCE(l.cluster_id, c.doc_id) AS cluster_id
      FROM expanded c LEFT JOIN labels l ON l.node = c.doc_id
    ), folded AS (
      SELECT doc_id, cluster_id,
             CAST(('0x' || substr(md5('gkf:' ||
                  CAST(cluster_id AS VARCHAR)), 1, 8)) AS BIGINT) % 5
               AS fold
      FROM asg
    ), cl AS (
      SELECT fold, cluster_id, CAST(count(*) AS BIGINT) AS sz
      FROM folded GROUP BY fold, cluster_id
    )
    SELECT fold,
           CAST(sum(sz) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(max(sz) AS BIGINT) AS largest_cluster
    FROM cl GROUP BY fold
    """
    ),
    tags=("sampling", "dedup-clusters", "leakage", "cross-validation"),
)
def sample_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GroupKFold assignment audit: 5-fold cross-validation folds keyed
    by the near-dup CLUSTER label (the split_cluster_aware leakage
    guard generalized from one train/val/test cut to k rotating
    holdouts — scikit-learn's GroupKFold contract: no group straddles
    folds, which is structural here because the fold is a pure
    function of the cluster id). The driver-checked readout is the
    balance audit a CV harness needs before trusting fold estimates:
    per fold, document count, cluster count, and the largest cluster
    (a giant dup clique concentrated in one fold biases that fold's
    error estimate). Labels ride the same LSH+CC chain as
    split_cluster_aware — in production they are READ from the dedup
    stage, making the fold key one hash projection.

    Scale: the fold map is a projection; the audit is two stacked
    bounded aggregations (clusters, then 5 folds)."""
    backend = dedup_hash_backend()
    corpus = _chain_docs(spark, sf_dir)
    pairs = minhash_lsh_dedup(corpus, backend=backend)
    labels = connected_components(pairs, src="doc_a", dst="doc_b")
    asg = corpus.select("doc_id").join(
        labels.select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"),
        ),
        "doc_id",
        "left",
    ).select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )
    folded = asg.select(
        "cluster_id",
        (
            hash32(
                F.concat(F.lit("gkf:"), F.col("cluster_id").cast("string"))
            )
            % 5
        ).alias("fold"),
    )
    cl = folded.groupBy("fold", "cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return cl.groupBy("fold").agg(
        F.sum("sz").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.max("sz").cast("bigint").alias("largest_cluster"),
    )


@query(
    "graph_degree_assortativity",
    oracle="""
    WITH e0 AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM read_parquet('{sf}/lineitem.parquet') l
      JOIN read_parquet('{sf}/orders.parquet') o
        ON o.o_orderkey = l.l_orderkey
    ), sym AS (
      SELECT c AS src, -s AS dst FROM e0
      UNION ALL
      SELECT -s, c FROM e0
    ), deg AS (
      SELECT src AS node, CAST(count(*) AS BIGINT) AS d
      FROM sym GROUP BY src
    ), joined AS (
      SELECT ds.d AS dx, dd.d AS dy
      FROM sym
      JOIN deg ds ON ds.node = sym.src
      JOIN deg dd ON dd.node = sym.dst
    ), moms AS (
      SELECT CAST(count(*) AS BIGINT) AS n_edges,
             CAST(sum(dx) AS BIGINT) AS s_x,
             CAST(sum(dx * dy) AS BIGINT) AS s_xy,
             CAST(sum(dx * dx) AS BIGINT) AS s_x2
      FROM joined
    )
    SELECT n_edges, s_x, s_xy, s_x2,
           CAST(n_edges * s_xy - s_x * s_x AS BIGINT) AS r_num,
           CAST(n_edges * s_x2 - s_x * s_x AS BIGINT) AS r_den,
           CASE WHEN n_edges * s_x2 - s_x * s_x = 0 THEN 0.0
                ELSE CAST(n_edges * s_xy - s_x * s_x AS DOUBLE)
                     / CAST(n_edges * s_x2 - s_x * s_x AS DOUBLE) END
             AS assortativity
    FROM moms
    """,
    tags=("graph", "assortativity", "stats"),
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman, PRL 2002) of the customer-supplier
    co-purchase graph — the one-number mixing diagnostic that tells a
    graph pipeline whether hubs attach to hubs (r>0, social-like) or to
    leaves (r<0, bipartite/hub-spoke like this one), which decides
    whether degree-based partitioning will skew. On the SYMMETRIZED
    directed edge list the x- and y-marginals are identical, so
    Pearson r collapses to the pure rational
    (M*Sxy - Sx^2grand) / (M*Sx2 - Sx^2grand) — NO square root — so
    numerator and denominator ship as EXACT int64 moments (r_num,
    r_den) and the ratio is ONE correctly-rounded IEEE division,
    bit-identical cross-engine (a 2^20 grid staging would overflow:
    Sx^2 alone reaches ~2e17 here). Plan: distinct
    (cust,supp) pairs [exchange 1], degree groupBy on the union'd node
    key [exchange 2], two shuffle joins hang the src/dst degrees back
    on the edges (deg is node-cardinality — too big to broadcast at
    100 TB, and AQE picks broadcast automatically when it does fit),
    then ONE 1-row moment aggregation. Edge magnitudes: M*Sxy needs
    M*dmax^2 < 2^63 — holds to ~10^10 edges at dmax 10^4; past that,
    stage the moments on decimal(38,0)."""
    e0 = _purchase_pairs(spark, sf_dir)
    sym = e0.select(
        F.col("c").alias("src"), (-F.col("s")).alias("dst")
    ).unionByName(e0.select((-F.col("s")).alias("src"), F.col("c").alias("dst")))
    # sym carries BOTH orientations of every edge, so degree(x) equals
    # the count of rows with src=x AND the count with dst=x — two count
    # windows replace the degree groupBy + two shuffle joins (2
    # exchanges instead of ~4, identical integers; the r12
    # window-degree shape)
    joined = sym.withColumn(
        "dx", F.count(F.lit(1)).over(W.partitionBy("src")).cast("bigint")
    ).withColumn(
        "dy", F.count(F.lit(1)).over(W.partitionBy("dst")).cast("bigint")
    )
    moms = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.sum("dx").cast("bigint").alias("s_x"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("s_xy"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("s_x2"),
    )
    r_num = (F.col("n_edges") * F.col("s_xy") - F.col("s_x") * F.col("s_x"))
    r_den = (F.col("n_edges") * F.col("s_x2") - F.col("s_x") * F.col("s_x"))
    return moms.select(
        "n_edges",
        "s_x",
        "s_xy",
        "s_x2",
        r_num.cast("bigint").alias("r_num"),
        r_den.cast("bigint").alias("r_den"),
        F.when(r_den == 0, F.lit(0.0))
        .otherwise(r_num.cast("double") / r_den.cast("double"))
        .alias("assortativity"),
    )


def _hits_oracle(k: int) -> str:
    """Unrolled k-round HITS twin (the _pagerank_oracle discipline:
    DuckDB's recursive CTEs cannot aggregate in the recursive leg, so
    the loop unrolls; same exact integer arithmetic as hits_loop)."""
    sql = """
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM read_parquet('{sf}/lineitem.parquet') l
      JOIN read_parquet('{sf}/orders.parquet') o
        ON o.o_orderkey = l.l_orderkey
    ), edges AS MATERIALIZED (
      SELECT c AS u, -s AS v FROM e0
    ), h0 AS (
      SELECT DISTINCT u AS node, CAST(1048576 AS BIGINT) AS s FROM edges
    )"""
    # every per-round CTE is referenced twice (its consumer + the
    # scalar-subquery max), so WITHOUT `MATERIALIZED` DuckDB inlines
    # each reference and re-derives the whole upstream chain — 2 legs
    # per round compound to 2^(2k) chain evaluations (observed: 376 s
    # at sf0.1 vs ~2 s materialized)
    for i in range(1, k + 1):
        sql += f""", a{i}raw AS MATERIALIZED (
      SELECT e.v AS node, CAST(sum(h.s) AS BIGINT) AS raw
      FROM edges e JOIN h{i - 1} h ON h.node = e.u GROUP BY e.v
    ), a{i} AS MATERIALIZED (
      SELECT node,
             CAST((raw * 1048576) // (SELECT max(raw) FROM a{i}raw)
                  AS BIGINT) AS s
      FROM a{i}raw
    ), h{i}raw AS MATERIALIZED (
      SELECT e.u AS node, CAST(sum(a.s) AS BIGINT) AS raw
      FROM edges e JOIN a{i} a ON a.node = e.v GROUP BY e.u
    ), h{i} AS MATERIALIZED (
      SELECT node,
             CAST((raw * 1048576) // (SELECT max(raw) FROM h{i}raw)
                  AS BIGINT) AS s
      FROM h{i}raw
    )"""
    return sql + f"""
    SELECT 'hub' AS side, CAST(node AS BIGINT) AS node, s AS score_q
    FROM h{k}
    UNION ALL
    SELECT 'auth', CAST(node AS BIGINT), s FROM a{k}
    """


@query(
    "graph_hits_k4",
    oracle=_hits_oracle(4),
    tags=("graph", "hits", "iterative"),
)
def graph_hits_k4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg, JACM 1999), 4 power rounds
    on the DIRECTED customer→supplier purchase graph — the ranking
    that separates 'buys from everyone' customers (hubs) from 'supplies
    everyone important' suppliers (authorities), which PageRank's
    undirected symmetrization deliberately blurs (graph_pagerank_k10
    measures global centrality; this measures the two bipartite roles
    separately). The loop lives in operators/graph.py (hits_loop):
    per round two shuffle joins + two groupBy-sums + two broadcast
    1-row max normalizations, localCheckpoint lineage truncation —
    the pagerank_loop discipline with L-infinity normalization instead
    of L2 so every score stays on the exact 2^20 integer grid (sqrt-
    free; direction identical, scale convention documented). The
    oracle unrolls the same 4 rounds into chained CTEs — a genuinely
    independent evaluation order, the _pagerank_oracle discipline."""
    e0 = _purchase_pairs(spark, sf_dir)
    edges = e0.select(F.col("c").alias("u"), (-F.col("s")).alias("v"))
    from ..operators.graph import hits_loop

    return hits_loop(edges, k=4).select(
        "side", F.col("node").cast("bigint").alias("node"), "score_q"
    )


def _katz_oracle(k: int) -> str:
    """Unrolled k-round Katz twin (the _pagerank_oracle discipline).
    Each x{i} is referenced once per following round plus never again,
    but MATERIALIZED keeps DuckDB from re-deriving the upstream chain
    through the left-join legs (the _hits_oracle lesson)."""
    sql = """
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM read_parquet('{sf}/lineitem.parquet') l
      JOIN read_parquet('{sf}/orders.parquet') o
        ON o.o_orderkey = l.l_orderkey
    ), edges AS MATERIALIZED (
      SELECT c AS u, -(s + 1) AS v FROM e0
      UNION ALL
      SELECT -(s + 1), c FROM e0
    ), nodes AS MATERIALIZED (
      SELECT DISTINCT u AS node FROM edges
    ), x0 AS (
      SELECT node, CAST(1048576 AS BIGINT) AS s FROM nodes
    )"""
    for i in range(1, k + 1):
        sql += f""", x{i} AS MATERIALIZED (
      SELECT n.node,
             CAST(coalesce(t.sm, 0) // 1024 + 1048576 AS BIGINT) AS s
      FROM nodes n LEFT JOIN (
        SELECT e.v AS node, CAST(sum(x.s) AS BIGINT) AS sm
        FROM edges e JOIN x{i - 1} x ON x.node = e.u GROUP BY e.v
      ) t ON t.node = n.node
    )"""
    return sql + f"""
    SELECT CAST(node AS BIGINT) AS node, s AS score_q FROM x{k}
    """


@query(
    "graph_katz_k4",
    oracle=_katz_oracle(4),
    tags=("graph", "katz", "centrality", "iterative"),
)
def graph_katz_k4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality (Katz, Psychometrika 1953), 4 attenuated-walk
    rounds on the SYMMETRIZED customer↔supplier purchase graph — the
    third centrality semantics of the family: PageRank splits a node's
    influence across its out-edges (graph_pagerank_k10), HITS separates
    the two bipartite roles (graph_hits_k4), Katz counts ALL attenuated
    in-walks with no degree division, so a node adjacent to hubs scores
    high even when those hubs touch everyone — the variant link-
    prediction stacks want. x'(v) = (sum_{u->v} x(u)) div 2^10 + 2^20,
    exact int64 on the grid (katz_loop, operators/graph.py: per round
    one shuffle join + one groupBy-sum + one left join to the node
    frame, localCheckpoint lineage truncation — the pagerank_loop
    discipline; alpha = 2^-10 sits far below 1/lambda_max of this
    graph and keeps int64 headroom to per-node in-degrees of ~1e12).
    The oracle unrolls the same 4 rounds into chained MATERIALIZED
    CTEs — a genuinely independent evaluation order."""
    e0 = _purchase_pairs(spark, sf_dir)
    # suppliers live at -(s+1): customer ids and supplier ids are both
    # 0-based, so a bare -s would fuse customer 0 and supplier 0 into
    # one node (and double the (0,0) self-edge through the symmetric
    # union). HITS tolerates the shared id because its sides aggregate
    # separately; a symmetric walk does not.
    edges = e0.select(
        F.col("c").alias("u"), (-(F.col("s") + 1)).alias("v")
    ).unionByName(
        e0.select((-(F.col("s") + 1)).alias("u"), F.col("c").alias("v"))
    )
    from ..operators.graph import katz_loop

    # symmetrized edges: every node has an in-edge, so the operator's
    # baseline left-join frame is skipped (in_covered)
    return katz_loop(edges, k=4, in_covered=True).select(
        F.col("node").cast("bigint").alias("node"), "score_q"
    )


@query(
    "graph_jaccard_links",
    oracle=(
        "WITH "
        + minhash_pairs_with_list(_CHAIN_DOCS_SQL, 0.6)
        + """,
    edges AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ), deg AS MATERIALIZED (
      SELECT a AS node, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY a
    ), two_hop AS (
      SELECT e1.a AS u, e2.b AS v, CAST(count(*) AS BIGINT) AS cn
      FROM edges e1 JOIN edges e2 ON e2.a = e1.b
      WHERE e1.a < e2.b
      GROUP BY u, v
    )
    SELECT t.u AS doc_u, t.v AS doc_v, t.cn AS common_neighbors,
           CAST(du.d + dv.d - t.cn AS BIGINT) AS union_size,
           CAST(t.cn * 1000000 // (du.d + dv.d - t.cn) AS BIGINT)
             AS jaccard_e6
    FROM two_hop t
    JOIN deg du ON du.node = t.u
    JOIN deg dv ON dv.node = t.v
    WHERE NOT EXISTS (SELECT 1 FROM edges e
                      WHERE e.a = t.u AND e.b = t.v)
    """
    ),
    tags=("graph", "link-prediction", "jaccard"),
)
def graph_jaccard_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard link prediction over the near-dup graph —
    the SIZE-normalized member of the link-prediction trio
    (Liben-Nowell & Kleinberg, JASIST 2007): graph_common_neighbors
    counts shared neighbors raw (hub-inflated), graph_adamic_adar
    discounts shared hubs, and Jaccard |N(u) ∩ N(v)| / |N(u) ∪ N(v)|
    asks what FRACTION of the combined neighborhoods is shared — the
    score that ranks a pair of 3-neighbor nodes sharing all 3 above a
    pair of hubs sharing 3 of 300. Exact integers end-to-end: the
    intersection is the 2-hop path count, the union is d_u + d_v - cn
    (inclusion-exclusion off the degree frame — never materialized as
    a set union), jaccard_e6 = (cn * 1e6) div union, all nonnegative
    int64. Direct edges leave by anti-join (predicting existing links
    is vacuous). Plan: the SAME single 2-hop join envelope as
    adamic_adar/common_neighbors (collision-bounded LSH edge list),
    plus two node-keyed degree joins and the anti-join — no new
    superlinear stage; at 100 TB the candidate frame is bounded by
    the LSH band collisions exactly like the rest of the family.
    The scaffold is the shared operators/graph.py
    lsh_pair_graph/two_hop_nonedges — the r10-verdict item-3 hoist
    (this query's own r11 note), one definition across the trio."""
    from ..operators.graph import lsh_pair_graph, two_hop_nonedges

    edges, deg = lsh_pair_graph(_lsh_chain_pairs(spark, sf_dir))
    nonedge = (
        two_hop_nonedges(edges)
        .join(
            deg.select(F.col("node").alias("u"), F.col("d").alias("du")),
            "u",
        )
        .join(
            deg.select(F.col("node").alias("v"), F.col("d").alias("dv")),
            "v",
        )
    )
    return nonedge.select(
        F.col("u").alias("doc_u"),
        F.col("v").alias("doc_v"),
        F.col("cn").alias("common_neighbors"),
        (F.col("du") + F.col("dv") - F.col("cn"))
        .cast("bigint")
        .alias("union_size"),
        F.expr(
            "cast(cn * 1000000 div (du + dv - cn) as bigint)"
        ).alias("jaccard_e6"),
    )
