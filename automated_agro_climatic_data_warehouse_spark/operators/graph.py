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
suffice; the loop stops at fixpoint (zero labels changed, a cheap count
aggregate, never a collect of the data itself).

Scale notes (100 TB shape):
- Each round is one shuffle join (adjacency × labels on `nbr`) + one
  groupBy min on `node` — both on uniform id keys, no skew for
  non-pathological dup graphs. A mega-cluster (e.g. an empty-document
  class colliding everywhere) shows up as a hot `nbr` key; exact-dup
  pre-collapse (d2) removes that class before LSH ever runs.
- `localCheckpoint` per round truncates the lineage — without it round k
  replays rounds 1..k-1 (and the plan grows exponentially).
- For adversarial diameters (long chains), `algorithm="star"` swaps the
  propagation loop for the alternating large-star/small-star variant
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14), which converges in O(log n) rounds; the per-round plan shape
  (join + min-agg) is the same family, so the swap is local to this
  module.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..session import materialize

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
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    algorithm: str = "propagation",
    stats: dict | None = None,
    edges_materialized: bool = False,
) -> DataFrame:
    """Component label per node: (node, component) where component is the
    smallest node id reachable from `node`. Edges are undirected (either
    orientation accepted); isolated nodes never appear in `edges` and are
    their own components by definition (callers treat absence as identity).

    `algorithm`: "propagation" (O(diameter) rounds — right for shallow
    near-dup graphs) or "star" (large-star/small-star, O(log n) rounds —
    right for adversarial diameters like long chains).

    If the fixpoint is not reached within `max_iter` rounds a UserWarning
    is emitted — the returned labels are then UNCONVERGED (nodes may carry
    a non-minimal component id). Pass `stats` to receive
    {"rounds": int, "converged": bool}.

    ``edges_materialized=True`` declares the input already checkpointed /
    cheap to rescan (graph_modularity checkpoints the pair frame itself
    because it fans out to its own edge union too): the internal edge
    materialization below would then copy an already-materialized frame —
    one full pass of the pair list and a job barrier for nothing.
    """
    # Materialize the edge list ONCE before fanning out: the adjacency /
    # node-set construction below references `edges` up to 4 times, and
    # Spark does no cross-branch subplan sharing — with an expensive
    # upstream lineage (e.g. a MinHash-LSH pair pipeline) each reference
    # would re-run the whole pipeline inside one job (measured 4× cost on
    # dedup_cc_purge before this checkpoint). Project to the two id
    # columns first (§2.3): pair frames carry scores (jaccard doubles)
    # the loop never reads — no reason to materialize those bytes.
    edges = edges.select(src, dst)
    if not edges_materialized:
        edges = materialize(edges, "connected_components.edges")
    if algorithm == "propagation":
        return _cc_propagation(edges, src, dst, max_iter, stats)
    if algorithm == "star":
        return _cc_star(edges, src, dst, max_iter, stats)
    raise ValueError(f"unknown connected-components algorithm: {algorithm!r}")


def _finish(stats: dict | None, rounds: int, converged: bool, algorithm: str):
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
    if not converged:
        warnings.warn(
            f"connected_components({algorithm}) hit max_iter={rounds} before "
            f"the fixpoint; returned labels are unconverged",
            UserWarning,
            stacklevel=3,
        )


def _cc_propagation(
    edges: DataFrame, src: str, dst: str, max_iter: int, stats: dict | None
) -> DataFrame:
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
        fwd.unionByName(rev)
        .unionByName(self_loops)
        .distinct(),
        "_cc_propagation.adj",
    )

    # Convergence probe: the self-loop in `adj` makes each propagation
    # pointwise monotone non-increasing (new(u) = min over N(u) ∪ {u} of
    # old labels ≤ old(u)), so the label sum strictly decreases iff ANY
    # node changed — an unchanged sum IS the fixpoint. The sum (exact
    # decimal — overflow-safe at any node count / id range) rides each
    # labels checkpoint as a probe, so the test costs neither the
    # labels⋈propagated diff join nor a job of its own; round 1 compares
    # against the init-labels checkpoint's sum.
    label_sum = F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
    labels, probe = materialize(
        adj.groupBy("node").agg(F.min("nbr").alias("component")),
        "_cc_propagation.labels",
        label_sum,
    )
    prev_sum = probe["s"]
    rounds, converged = 0, False
    for _ in range(max_iter):
        rounds += 1
        labels, probe = materialize(
            adj.join(
                labels.select(
                    F.col("node").alias("nbr"), F.col("component").alias("nbr_comp")
                ),
                "nbr",
            )
            .groupBy("node")
            .agg(F.min("nbr_comp").alias("component")),
            "_cc_propagation.labels",
            label_sum,
        )
        if probe["s"] == prev_sum:
            converged = True
            break
        prev_sum = probe["s"]
    _finish(stats, rounds, converged, "propagation")
    return labels


def _cc_star(
    edges: DataFrame, src: str, dst: str, max_iter: int, stats: dict | None
) -> DataFrame:
    """Alternating large-star/small-star min-label contraction.

    Each round rewires every node's strictly-larger neighbors (large-star)
    and then its smaller-or-self neighborhood (small-star) to the local
    minimum, halving tree heights — O(log n) rounds on any topology. Both
    phases are one symmetric-expand + groupBy-min + join, all on uniform
    id keys; per-round localCheckpoint truncates lineage exactly like the
    propagation loop."""
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    all_nodes = materialize(
        raw.select(F.col("u").alias("node"))
        .unionByName(raw.select(F.col("v").alias("node")))
        .distinct(),
        "_cc_star.all_nodes",
    )
    # normalized undirected edge set, self-loops dropped; each edge-set
    # checkpoint carries its row count as a probe for the fixpoint test
    n_rows = F.count(F.lit(1)).alias("n")
    e, probe = materialize(
        raw.filter(F.col("u") != F.col("v")).distinct(), "_cc_star.e", n_rows
    )
    e_n = probe["n"]

    def symmetric(df: DataFrame) -> DataFrame:
        return df.unionByName(
            df.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).filter(F.col("u") != F.col("v"))

    rounds, converged = 0, False
    for _ in range(max_iter):
        rounds += 1
        # ---- large-star: for each u, attach neighbors v > u to
        #      m(u) = min(N(u) ∪ {u})
        nbrs = symmetric(e)
        mins = (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        large = (
            nbrs.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small-star: for each u, attach smaller neighbors (and u
        #      itself) to m(u) = min of that set
        nbrs2 = symmetric(large)
        small_side = nbrs2.filter(F.col("v") < F.col("u"))
        mins2 = small_side.groupBy("u").agg(F.min("v").alias("m"))
        small, probe = materialize(
            small_side.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct(),
            "_cc_star.small",
            n_rows,
        )
        # fixpoint when the edge set is unchanged (stars already minimal):
        # small ⊆ e (no new edges in the union) and |small| == |e| → equal
        union_n = small.unionByName(e).distinct().count()
        same = union_n == e_n == probe["n"]
        e, e_n = small, probe["n"]
        if same:
            converged = True
            break
    labels = (
        all_nodes.join(
            symmetric(e).select(F.col("u").alias("node"), F.col("v").alias("nbr")),
            "node",
            "left",
        )
        .groupBy("node")
        .agg(F.min("nbr").alias("mn"))
        .select("node", F.coalesce(F.least("mn", "node"), F.col("node")).alias("component"))
    )
    _finish(stats, rounds, converged, "star")
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
    Only the final round is checkpointed (see the loop). k is fixed —
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
    for i in range(k):
        contrib = adj.join(
            ranks.withColumnRenamed("node", "u"), "u"
        ).select("v", F.expr("r div d").cast("bigint").alias("w"))
        ranks = contrib.groupBy(F.col("v").alias("node")).agg(
            (
                F.expr("(sum(w) * 17) div 20")
                + F.lit(teleport)
            )
            .cast("bigint")
            .alias("r")
        )
        # final-only checkpoint: the intermediate rounds have a single
        # consumer, so the deeper lineage re-executes nothing — it only
        # defers materialization, and each materialization is a full job
        # barrier. Measured at sf0.1 for k=10: every-round 7.6 s →
        # every-5 4.9 s → final-only 4.1 s (in-process best-of-3).
        if i == k - 1:
            ranks = materialize(ranks, "pagerank_loop.ranks")
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
    per-round localCheckpoint lineage truncation exactly like the CC
    and PageRank loops. Fixed `rounds` keeps the chain engine-replayable
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
    for _ in range(rounds):
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
        lab = materialize(
            base.join(best, "node", "left")
            .select(
                "node", F.coalesce("__seed", "__maj").alias("label")
            ),
            "label_propagation.lab",
        )
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
    is a free projection over the checkpoint."""
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

    def half_round(scores: DataFrame, join_key: str, out_key: str) -> DataFrame:
        raw, probe = materialize(
            e.join(scores.withColumnRenamed("node", join_key), join_key)
            .groupBy(out_key)
            .agg(F.sum("s").alias("raw")),
            f"hits_loop.{out_key}_raw",
            F.max("raw").alias("mx"),
        )
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
    pagerank_loop cost envelope; localCheckpoint per round truncates
    lineage. Requires k >= 1. Returns the round-k frame
    (node, score_q)."""
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
    # final-only localCheckpoint (same rationale as pagerank_loop):
    # each round's x has a single consumer — the next round's join —
    # so intermediate materialization only adds a job barrier per
    # round. Measured at sf0.1 (k=4, in-process best-of-3, identical
    # scores): every-round 3.2 s → final-only 2.6 s.
    for i in range(k):
        summed = (
            e.join(x.withColumnRenamed("node", "u"), "u")
            .groupBy("v")
            .agg(F.sum("s").alias("sm"))
            .withColumnRenamed("v", "node")
        )
        if nodes is None:
            x = summed.select(
                "node",
                (F.expr(f"sm div {alpha_den}") + F.lit(SCORE_TOTAL))
                .cast("bigint")
                .alias("s"),
            )
        else:
            x = nodes.join(summed, "node", "left").select(
                "node",
                (
                    F.expr(f"coalesce(sm, 0) div {alpha_den}")
                    + F.lit(SCORE_TOTAL)
                )
                .cast("bigint")
                .alias("s"),
            )
        if i == k - 1:
            x = materialize(x, "katz_loop.x")
    return x.select("node", F.col("s").alias("score_q"))
