"""Connected components over a pair graph — the last step of the near-dup
dedup family (north-star extension; BASELINE.json: dedup for training-data
pipelines).

MinHash/SimHash emit near-dup PAIRS; an actual dedup purge needs CLUSTERS
(duplicate groups are transitive: A~B, B~C → {A,B,C} is one group keeping
one canonical doc). Components are computed by iterative min-label
propagation:

  label(v) ← min over N(v) ∪ {v} of label(u)

which converges in O(graph diameter) rounds. Near-dup graphs are
shallow — clusters are small cliques/chains — so 3-5 rounds typically
suffice; the loop stops at fixpoint (an unchanged label sum, a probe on
the round's checkpoint, never a collect of the data itself).

Scale notes (100 TB shape):
- Each round is one shuffle join (adjacency × labels on `nbr`) + one
  groupBy min on `node` — both on uniform id keys, no skew for
  non-pathological dup graphs. A mega-cluster (e.g. an empty-document
  class colliding everywhere) shows up as a hot `nbr` key; exact-dup
  pre-collapse (d2) removes that class before LSH ever runs.
- The loop runs through `session.iterate`: a checkpoint per round
  truncates the lineage (without it round k replays rounds 1..k-1 and
  the plan grows exponentially), the label-sum probe on that checkpoint
  is the fixpoint test, and each round frees the labels it replaces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..session import checkpoint_id, iterate, materialize, release

# The integer score grid of the power-iteration loops: every node starts
# at (and HITS normalizes to) SCORE_TOTAL = 2^20.
SCORE_TOTAL = 1 << 20


def lsh_pair_graph(pairs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(edges, deg) from an undirected (doc_a, doc_b) near-dup pair list: the
    symmetric-union distinct edge list (checkpointed — the two union
    branches would otherwise re-run the whole upstream LSH pipeline,
    the connected_components rationale above) and the per-node degree
    frame. The pairs→edges→degree scaffold previously appeared
    verbatim in graph_adamic_adar, graph_common_neighbors and
    graph_jaccard_links (the r10-verdict item-3 hoist) and backs the
    whole link-prediction trio: one definition, one cost envelope
    (|edges| = 2·|pairs|, both collision-bounded by the LSH bands)."""
    edges = materialize(
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .union(pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
        .distinct(),
        "lsh_pair_graph.edges",
    )
    deg = edges.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    return edges, deg


def two_hop_nonedges(
    edges: DataFrame, via_weights: DataFrame | None = None
) -> DataFrame:
    """Link-prediction candidates (u, v, cn[, w_q]) over a symmetric
    edge list: ONE 2-hop self-join (u —via— v, u < v), per-pair path
    count cn = |Γu ∩ Γv|, and — when `via_weights` (node, wq) is given
    — the order-insensitive integer weight sum over intermediates
    (the Adamic-Adar shape; the inner join never drops paths because
    every 2-hop intermediate has degree ≥ 2). Direct edges leave by
    anti-join: predicting existing links is vacuous. Never
    corpus-quadratic — the candidate frame is bounded by the LSH band
    collisions, the same discipline as every dedup stage."""
    e1 = edges.select(F.col("a").alias("u"), F.col("b").alias("via"))
    e2 = edges.select(F.col("a").alias("via"), F.col("b").alias("v"))
    j = e1.join(e2, "via")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("cn")]
    if via_weights is not None:
        j = j.join(via_weights.withColumnRenamed("node", "via"), "via")
        aggs.append(F.sum("wq").cast("bigint").alias("w_q"))
    two_hop = (
        j.filter(F.col("u") < F.col("v")).groupBy("u", "v").agg(*aggs)
    )
    return two_hop.join(
        edges,
        (two_hop["u"] == edges["a"]) & (two_hop["v"] == edges["b"]),
        "left_anti",
    )


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 25
) -> DataFrame:
    """Component label per node: (node, component) where component is the
    smallest node id reachable from `node`, by min-label propagation
    (O(diameter) rounds — right for shallow near-dup graphs). Edges are
    undirected (either orientation accepted); isolated nodes never appear
    in `edges` and are their own components by definition (callers treat
    absence as identity).

    If the fixpoint is not reached within `max_iter` rounds a UserWarning
    is emitted — the returned labels are then UNCONVERGED (nodes may carry
    a non-minimal component id). The rounds run and whether they
    converged are in `session.iterate`'s log record."""
    # Materialize the edge list ONCE before fanning out: the adjacency /
    # node-set construction below references `edges` up to 4 times, and
    # Spark does no cross-branch subplan sharing — with an expensive
    # upstream lineage (e.g. a MinHash-LSH pair pipeline) each reference
    # would re-run the whole pipeline inside one job (measured 4× cost on
    # dedup_cc_purge before this checkpoint). Project to the two id
    # columns first (§2.3): pair frames carry scores (jaccard doubles)
    # the loop never reads — no reason to materialize those bytes. An
    # input that is itself a checkpoint is cheap to rescan, and copying
    # it would cost a full pass and a job barrier for nothing.
    copy = checkpoint_id(edges) is None
    edges = edges.select(src, dst)
    if copy:
        edges = materialize(edges, "connected_components.edges")
    fwd = edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr"))
    rev = edges.select(F.col(dst).alias("node"), F.col(src).alias("nbr"))
    # self-loops straight off both orientations (every node appears as
    # a src in fwd or rev); the single distinct over the 4-way union
    # dedupes them, so the previous separate nodes-distinct + its
    # extra shuffle subtree is redundant
    self_loops = fwd.select("node", F.col("node").alias("nbr")).unionByName(
        rev.select("node", F.col("node").alias("nbr"))
    )
    adj = materialize(
        fwd.unionByName(rev).unionByName(self_loops).distinct(),
        "_cc_propagation.adj",
    )
    if copy:
        release(edges)

    # Convergence probe: the self-loop in `adj` makes each propagation
    # pointwise monotone non-increasing (new(u) = min over N(u) ∪ {u} of
    # old labels ≤ old(u)), so the label sum strictly decreases iff ANY
    # node changed — an unchanged sum IS the fixpoint. The sum (exact
    # decimal — overflow-safe at any node count / id range) rides each
    # labels checkpoint as a probe, so the test costs neither the
    # labels⋈propagated diff join nor a job of its own; round 1 compares
    # against the init-labels checkpoint's sum.
    def step(labels: DataFrame) -> DataFrame:
        return (
            adj.join(
                labels.select(
                    F.col("node").alias("nbr"), F.col("component").alias("nbr_comp")
                ),
                "nbr",
            )
            .groupBy("node")
            .agg(F.min("nbr_comp").alias("component"))
        )

    labels = iterate(
        adj.groupBy("node").agg(F.min("nbr").alias("component")),
        step,
        "_cc_propagation.labels",
        max_iter,
        until=F.sum(F.col("component").cast("decimal(38,0)")),
    )
    release(adj)
    return labels


def pagerank_loop(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 10,
    total: int = SCORE_TOTAL,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """Fixed-k PageRank power iterations on an integer rank grid —
    the converged-loop extension of the single-step query family
    (graph_pagerank_step pins one iteration; this runs the chain).

    Semantics per iteration, all in exact int64 arithmetic so an
    N-step chain replays bit-identically on any engine/partitioning:

      contrib(u→v) = r(u) div deg(u)          (per-edge floor share)
      r'(v) = (Σ contrib) * 17 div 20 + total * 3 div 20

    (damping 17/20)

    Floor division agrees across engines only on non-negative
    operands — ranks and degrees are always positive here.

    REQUIRES every node to have at least one in-edge (true for any
    symmetrized/undirected edge list): new ranks are produced by
    grouping contributions on `dst`, so an in-degree-0 node would drop
    out of the frontier. Callers with dangling nodes must symmetrize
    first (the natural undirected-graph form).

    Scale shape: each round is ONE shuffle join (ranks × adjacency on
    the source key) + one groupBy-sum on the destination key — the
    same per-round cost envelope as _cc_propagation, uniform id keys.
    Only the final round is checkpointed (`session.iterate`'s
    `final_only`). k is fixed —
    PageRank convergence is governed by the damping factor, and a
    fixed small k is the production norm (resumable: any round's
    output is a valid restart state, pinned by tests/test_round4_ops.py's
    resume test for the one-step form)."""
    edges = materialize(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v")),
        "pagerank_loop.edges",
    )
    # degree via a count window on the source key: ONE exchange builds
    # the (u, v, d) adjacency, where the groupBy-deg + edges⋈deg join
    # shape paid the same exchange plus a join subtree (interleaved
    # best-of-8 on the k=10 chain: trimmed 4.04 s -> 3.28 s, ranks
    # bit-identical)
    adj = materialize(
        edges.withColumn("d", F.count(F.lit(1)).over(W.partitionBy("u"))),
        "pagerank_loop.adj",
    )
    teleport = total * 3 // 20
    if init_ranks is None:
        ranks = (
            adj.select(F.col("u").alias("node"))
            .distinct()
            .select("node", F.lit(total).cast("bigint").alias("r"))
        )
    else:
        # resume from a prior round's (node, r) checkpoint — any round's
        # output is a valid restart state (bit-identical continuation,
        # pinned in tests/test_round5_ops.py)
        ranks = init_ranks.select("node", F.col("r").cast("bigint"))

    def step(ranks: DataFrame) -> DataFrame:
        contrib = adj.join(
            ranks.withColumnRenamed("node", "u"), "u"
        ).select("v", F.expr("r div d").cast("bigint").alias("w"))
        return contrib.groupBy(F.col("v").alias("node")).agg(
            (
                F.expr("(sum(w) * 17) div 20")
                + F.lit(teleport)
            )
            .cast("bigint")
            .alias("r")
        )

    ranks = iterate(ranks, step, "pagerank_loop.ranks", k, final_only=True)
    if k:
        release(edges, adj)
    return ranks


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Semi-supervised LABEL propagation: seed nodes carry a fixed label
    (`seeds`: (node, label), label non-null); each round every non-seed
    node adopts the MAJORITY label among its currently-labeled
    neighbors (ties → smallest label; nodes with no labeled neighbor
    stay unlabeled). Returns (node, label) over all edge-set nodes,
    label nullable. This is the dedup-graph companion to
    connected_components: instead of collapsing clusters to an id, it
    SPREADS known annotations (quality tier, PII verdict, license
    class) from audited documents to their near-duplicates — the
    standard trick for amplifying an expensive human-labeled subset
    across a 100 TB corpus.

    Scale shape: each round is one shuffle join (labels × adjacency on
    the neighbor key) + one groupBy vote count + one top-1 window on
    (node) — all uniform id keys, bounded by |E| work per round, with
    per-round checkpoints truncating the lineage (`session.iterate`). Fixed `rounds` keeps the chain engine-replayable
    (each round is deterministic given the last, so an unrolled SQL
    oracle reproduces it bit-for-bit)."""
    fwd = edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr"))
    rev = edges.select(F.col(dst).alias("node"), F.col(src).alias("nbr"))
    adj = materialize(fwd.unionByName(rev).distinct(), "label_propagation.adj")
    nodes = adj.select("node").distinct()
    seeds = seeds.select("node", F.col("label").alias("__seed"))
    # the (node, seed-label) base is static across rounds — join it once
    # and checkpoint, instead of re-running nodes-distinct + seed join
    # inside every round's materialization (it replaces the former
    # nodes checkpoint: same barrier count, one join fewer per round)
    base = materialize(nodes.join(seeds, "node", "left"), "label_propagation.base")
    lab = base.select("node", F.col("__seed").alias("label"))

    def step(lab: DataFrame) -> DataFrame:
        votes = (
            adj.join(
                lab.select(
                    F.col("node").alias("nbr"),
                    F.col("label").alias("nbr_label"),
                ),
                "nbr",
            )
            .filter(F.col("nbr_label").isNotNull())
            .groupBy("node", "nbr_label")
            .agg(F.count(F.lit(1)).alias("v"))
        )
        wv = W.partitionBy("node").orderBy(F.desc("v"), F.asc("nbr_label"))
        best = (
            votes.withColumn("__rn", F.row_number().over(wv))
            .filter(F.col("__rn") == 1)
            .select("node", F.col("nbr_label").alias("__maj"))
        )
        return base.join(best, "node", "left").select(
            "node", F.coalesce("__seed", "__maj").alias("label")
        )

    lab = iterate(lab, step, "label_propagation.lab", rounds)
    release(adj)
    if rounds:
        release(base)
    return lab


def hits_loop(edges: DataFrame, k: int = 4) -> DataFrame:
    """Fixed-k HITS power iterations (Kleinberg, JACM 1999) on an
    integer score grid — hubs on the `u` side, authorities on the
    `v` side of a DIRECTED (u, v) edge list (no symmetrization: the
    bipartite orientation IS the semantics, unlike pagerank_loop's
    undirected requirement).

    Per round, in exact int64 arithmetic:

      a_raw(v) = sum_{u->v} h(u);  a(v) = a_raw(v)*2^20 div max(a_raw)
      h_raw(u) = sum_{u->v} a(v);  h(u) = h_raw(u)*2^20 div max(h_raw)

    The L-infinity normalization replaces HITS' usual L2 norm — a
    sqrt-free choice that keeps every round on the grid (the iterate
    direction converges identically; only the scale convention
    differs, and scores are reported normalized to max=2^20 anyway).
    Requires k >= 1 — the authority side only exists after a round.
    All operands are nonnegative, so truncating div replays on any
    engine. Scale shape per round: two shuffle joins (scores ×
    adjacency) + two groupBy-sums, one checkpoint job per half-round.
    Returns the round-k frame: (side 'hub'|'auth', node, score_q).

    The RAW sum frame is what checkpoints each half-round, and its
    L-inf max is a probe of that checkpoint, read as a driver literal:
    a crossJoin of the max aggregate executes the join+groupBy subtree
    twice per half-round (ReuseExchange does not fire across a
    broadcast boundary), and a separate max readout (a collect or a
    scalar subquery) costs a job per half-round. The normalized frame
    is a free projection over the checkpoint. Because each half-round
    reads the previous one's probe, this is the one loop that keeps its
    own rounds instead of `session.iterate`; it frees each raw frame
    once the same side's next one exists."""
    if k < 1:
        raise ValueError(f"hits_loop needs k >= 1 rounds, got {k}")
    e = materialize(edges.select("u", "v"), "hits_loop.e")
    h = (
        e.select("u")
        .distinct()
        .select(
            F.col("u").alias("node"),
            F.lit(SCORE_TOTAL).cast("bigint").alias("s"),
        )
    )

    raws: dict[str, DataFrame] = {}

    def half_round(scores: DataFrame, join_key: str, out_key: str) -> DataFrame:
        raw, probe = materialize(
            e.join(scores.withColumnRenamed("node", join_key), join_key)
            .groupBy(out_key)
            .agg(F.sum("s").alias("raw")),
            f"hits_loop.{out_key}_raw",
            F.max("raw").alias("mx"),
        )
        if out_key in raws:
            release(raws[out_key])
        raws[out_key] = raw
        # The max is NULL only on the empty graph, whose frames are all
        # empty, so any divisor works there. It is never 0: the previous
        # round's top node is normalized to SCORE_TOTAL and has an edge,
        # so any non-empty round has a max of at least SCORE_TOTAL.
        mx = 1 if probe["mx"] is None else probe["mx"]
        return raw.select(
            F.col(out_key).alias("node"),
            F.expr(f"cast((raw * {SCORE_TOTAL}) div {mx} as bigint)").alias("s"),
        )

    for _ in range(k):
        a = half_round(h, "u", "v")
        h = half_round(a, "v", "u")
    hubs = h.select(
        F.lit("hub").alias("side"), "node", F.col("s").alias("score_q")
    )
    auths = a.select(
        F.lit("auth").alias("side"), "node", F.col("s").alias("score_q")
    )
    release(e)
    return hubs.unionByName(auths)


def katz_loop(
    edges: DataFrame,
    k: int = 4,
    alpha_den: int = 1 << 10,
    in_covered: bool = False,
) -> DataFrame:
    """Fixed-k Katz centrality iterations (Katz, Psychometrika 1953)
    on an integer score grid over a (u, v) edge list: x_{t+1}(v) =
    alpha * sum_{u->v} x_t(u) + beta with beta = 2^20 and alpha =
    1/alpha_den, i.e. in exact int64 arithmetic

      x'(v) = (sum_{u->v} x(u)) div alpha_den + 2^20

    Unlike PageRank there is NO degree division — Katz credits a node
    for the attenuated count of ALL walks reaching it, so high-degree
    neighbors contribute fully; that is the semantic difference worth
    having both. Every operand is nonnegative, so truncating div
    replays on any engine. alpha must be < 1/lambda_max for the series
    to be meaningful; the default 2^-10 sits far under the purchase
    graph's spectral radius. int64 headroom COMPOUNDS over rounds
    (r9 ADVICE): scores grow as ~2^20*(d/alpha_den)^t for a hub of
    in-degree d, and the binding operand is the round-k PRE-div
    neighbor sum ~2^20*d^k/alpha_den^(k-1), so at the defaults
    (k=4, alpha_den=2^10) the walk is int64-exact only to
    hub in-degrees of ~3e5 (d^4 < 2^73); the often-quoted ~1e12
    single-round bound applies only at k=1. Past that, Spark
    (non-ANSI) wraps silently while a HUGEINT oracle raises — for
    graphs with bigger hubs, raise alpha_den (each 2x buys 2^(k-1)x
    headroom) or stage the per-round sum on decimal(38,0) as
    dq_fdr_bh does. Nodes with no in-edges hold the beta baseline via
    a left join back to the node frame (they still radiate influence);
    pass in_covered=True when every node is known to have an in-edge
    (any symmetrized edge list) to skip that frame and its per-round
    join entirely. Scale shape per round: ONE shuffle join (scores x
    adjacency) + one groupBy-sum (+ the optional left join) — the
    pagerank_loop cost envelope; only the final round is checkpointed
    (`session.iterate`'s `final_only`). Requires k >= 1. Returns the
    round-k frame (node, score_q)."""
    if k < 1:
        raise ValueError(f"katz_loop needs k >= 1 rounds, got {k}")
    e = materialize(edges.select("u", "v"), "katz_loop.e")
    if in_covered:
        nodes = None
        x = (
            e.select(F.col("u").alias("node"))
            .distinct()
            .select("node", F.lit(SCORE_TOTAL).cast("bigint").alias("s"))
        )
    else:
        nodes = materialize(
            e.select("u")
            .unionByName(e.select(F.col("v").alias("u")))
            .distinct()
            .select(F.col("u").alias("node")),
            "katz_loop.nodes",
        )
        x = nodes.select("node", F.lit(SCORE_TOTAL).cast("bigint").alias("s"))

    def step(x: DataFrame) -> DataFrame:
        summed = (
            e.join(x.withColumnRenamed("node", "u"), "u")
            .groupBy("v")
            .agg(F.sum("s").alias("sm"))
            .withColumnRenamed("v", "node")
        )
        if nodes is None:
            return summed.select(
                "node",
                (F.expr(f"sm div {alpha_den}") + F.lit(SCORE_TOTAL))
                .cast("bigint")
                .alias("s"),
            )
        return nodes.join(summed, "node", "left").select(
            "node",
            (
                F.expr(f"coalesce(sm, 0) div {alpha_den}")
                + F.lit(SCORE_TOTAL)
            )
            .cast("bigint")
            .alias("s"),
        )

    x = iterate(x, step, "katz_loop.x", k, final_only=True)
    release(e)
    if nodes is not None:
        release(nodes)
    return x.select("node", F.col("s").alias("score_q"))
