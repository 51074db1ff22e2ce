"""Wave-7 operator pins: filtered_topk's keyed-filter recall guarantee
(vs the post-filter failure mode) and label_propagation's vote/clamp/
reach semantics. The registered queries built on these
(ann_filtered_topk, graph_label_propagation, graph_clustering_coefficient,
layout_minmax_skipping, ev_ab_lift_by_decile, agro_chill_hours,
emb_ivf_balance_audit, emb_cosine_pair_histogram) are all oracle-checked
end-to-end by tools/check.py; these tests pin the operator edge cases no
corpus-level hash can isolate."""

from __future__ import annotations

from pyspark.sql import functions as F

from automated_agro_climatic_data_warehouse_spark.operators.graph import label_propagation
from automated_agro_climatic_data_warehouse_spark.operators.similarity import filtered_topk


def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<double>"
    )


def test_filtered_topk_scopes_to_filter_value(spark):
    """Every returned neighbor shares the query's label."""
    rows = [
        (0, 1, [1.0, 1.0, 0.0, 0.0]),
        (1, 0, [1.0, 0.9, 0.0, 0.0]),
        (2, 0, [0.9, 1.0, 0.0, 0.0]),
        (3, 1, [1.0, 1.0, 0.5, 0.0]),
        (4, 1, [1.0, 1.0, 0.0, 0.5]),
    ]
    out = filtered_topk(
        _emb(spark, rows), F.col("vec_id") == 0, ["label"], k=3
    ).collect()
    assert {r.neighbor_id for r in out} == {3, 4}
    assert all(r.label == 1 for r in out)


def test_filtered_topk_beats_post_filtering(spark):
    """The query's k=1 same-label neighbor ranks BELOW k across the
    unfiltered corpus (three other-label vectors are closer), so
    post-filtering a global top-1 would return nothing — the keyed
    join still finds it. This asymmetry is the reason the filter
    lives in the join key."""
    rows = [
        (0, 1, [1.0, 1.0, 0.0, 0.0]),
        # label-0 vectors nearly parallel to the query
        (1, 0, [1.0, 1.0, 0.01, 0.0]),
        (2, 0, [1.0, 1.0, 0.0, 0.01]),
        (3, 0, [1.0, 1.0, 0.01, 0.01]),
        # the only label-1 companion, farther away
        (4, 1, [1.0, 0.2, 0.0, 0.0]),
    ]
    out = filtered_topk(
        _emb(spark, rows), F.col("vec_id") == 0, ["label"], k=1
    ).collect()
    assert [(r.query_id, r.neighbor_id, r.rank) for r in out] == [(0, 4, 1)]


def test_filtered_topk_sparse_cell_underfills(spark):
    """A cell with fewer than k candidates returns what exists rather
    than silently widening the search."""
    rows = [
        (0, 1, [1.0, 1.0, 0.0, 0.0]),
        (4, 1, [1.0, 0.2, 0.0, 0.0]),
        (5, 0, [1.0, 1.0, 0.3, 0.0]),
    ]
    out = filtered_topk(
        _emb(spark, rows), F.col("vec_id") == 0, ["label"], k=5
    ).collect()
    assert len(out) == 1 and out[0].neighbor_id == 4


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _seeds(spark, rows):
    return spark.createDataFrame(rows, "node long, label long")


def test_label_propagation_reach_per_round(spark):
    """Path 1-2-3-4 seeded at 1: after 1 round only node 2 is labeled;
    after 2 rounds node 3 is too; node 4 stays NULL (3 hops away)."""
    e = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    s = _seeds(spark, [(1, 7)])
    r1 = {r.node: r.label for r in label_propagation(e, s, 1).collect()}
    assert r1 == {1: 7, 2: 7, 3: None, 4: None}
    r2 = {r.node: r.label for r in label_propagation(e, s, 2).collect()}
    assert r2 == {1: 7, 2: 7, 3: 7, 4: None}


def test_label_propagation_majority_and_tiebreak(spark):
    """Node 10 has two label-5 neighbors and one label-3 → majority 5.
    Node 20 has one of each → tie breaks to the SMALLER label (3)."""
    e = _edges(spark, [(10, 1), (10, 2), (10, 3), (20, 4), (20, 5)])
    s = _seeds(spark, [(1, 5), (2, 5), (3, 3), (4, 5), (5, 3)])
    out = {r.node: r.label for r in label_propagation(e, s, 1).collect()}
    assert out[10] == 5
    assert out[20] == 3


def test_label_propagation_seeds_clamped(spark):
    """A seed surrounded by opposing votes keeps its own label through
    every round."""
    e = _edges(spark, [(1, 2), (1, 3), (1, 4)])
    s = _seeds(spark, [(1, 9), (2, 0), (3, 0), (4, 0)])
    out = {r.node: r.label for r in label_propagation(e, s, 3).collect()}
    assert out[1] == 9
    # and the non-seed neighbors adopted the majority around them
    assert out[2] == out[3] == out[4] == 0
