"""Unit tests for connected components (dup clustering) and the as-of
join — topology/edge cases the oracle-parity corpus can't force."""

from __future__ import annotations

import datetime as dt
import logging

import pytest
from pyspark.sql import functions as F

from automated_agro_climatic_data_warehouse_spark import session
from automated_agro_climatic_data_warehouse_spark.operators.asof import asof_join
from automated_agro_climatic_data_warehouse_spark.operators.graph import connected_components


def test_cc_chain_requires_propagation(spark):
    # chain 1-2-3-4 (diameter 3: label must hop, no direct 1-4 edge),
    # a 2-clique {10,11}, pair {7,8} listed in reversed orientation and
    # a self-loop {5}
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (8, 7), (5, 5)], ["src", "dst"]
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 7: 7, 8: 7, 5: 5}


def test_cc_converges_on_cycle(spark):
    # cycle 1-2-3-1: fixpoint must terminate, everyone labeled 1
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], ["src", "dst"])
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def _cc_record(caplog) -> dict:
    """The `session.iterate` log record of the last CC loop."""
    return [
        r.iterate
        for r in caplog.records
        if getattr(r, "iterate", {}).get("name") == "_cc_propagation.labels"
    ][-1]


def test_cc_warns_when_unconverged(spark, caplog):
    import warnings

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["src", "dst"]
    )
    with warnings.catch_warnings(record=True) as caught, caplog.at_level(
        logging.INFO, logger=session.__name__
    ):
        warnings.simplefilter("always")
        connected_components(edges, max_iter=2).count()
    record = _cc_record(caplog)
    assert record["converged"] is False and record["rounds"] == 2
    assert any("unconverged" in str(w.message) for w in caught)


def _ts(h: int, m: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, 1, h, m)


def test_asof_join_basic_tie_and_missing(spark):
    quotes = spark.createDataFrame(
        [(1, _ts(1), 10.0), (1, _ts(3), 30.0), (2, _ts(2), 99.0)],
        ["user_id", "ts", "q"],
    )
    clicks = spark.createDataFrame(
        [
            (100, 1, _ts(0)),   # before any quote -> null
            (101, 1, _ts(2)),   # between -> 10.0
            (102, 1, _ts(3)),   # tie: quote AT click instant visible -> 30.0
            (103, 1, _ts(4)),   # after all -> 30.0
            (104, 3, _ts(5)),   # user with no quotes at all -> null
        ],
        ["event_id", "user_id", "ts"],
    )
    out = {
        r["event_id"]: r["q"]
        for r in asof_join(clicks, quotes, on=["user_id"]).collect()
    }
    assert out == {100: None, 101: 10.0, 102: 30.0, 103: 30.0, 104: None}


def test_asof_join_null_right_value_not_skipped(spark):
    """A prior right row whose value is legitimately NULL must be carried
    as NULL — not skipped for an older non-null observation (DuckDB ASOF
    semantics; the struct match-marker distinguishes 'prior row with null
    value' from 'no prior row')."""
    quotes = spark.createDataFrame(
        [(1, _ts(1), 10.0), (1, _ts(3), None)], ["user_id", "ts", "q"]
    )
    clicks = spark.createDataFrame(
        [(100, 1, _ts(2)), (101, 1, _ts(4))], ["event_id", "user_id", "ts"]
    )
    out = {
        r["event_id"]: r["q"]
        for r in asof_join(clicks, quotes, on=["user_id"]).collect()
    }
    assert out == {100: 10.0, 101: None}


def test_asof_join_single_shuffle_plan(spark):
    """The union-tag as-of plan must be ONE exchange on the key — a range
    join (nested-loop or exploded) would defeat the operator's purpose."""
    quotes = spark.createDataFrame([(1, _ts(1), 1.0)], ["user_id", "ts", "q"])
    clicks = spark.createDataFrame([(9, 1, _ts(2))], ["event_id", "user_id", "ts"])
    plan = (
        asof_join(clicks, quotes, on=["user_id"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_cc_purge_keeps_one_per_cluster(spark, sf_dir):
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

    rows = QUERIES["dedup_cc_purge"].spark_fn(spark, sf_dir).collect()
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    assert by_cluster, "planted dup clusters must be found"
    for members in by_cluster.values():
        keepers = [m for m in members if m["is_keeper"]]
        assert len(keepers) == 1
        assert keepers[0]["doc_id"] == min(m["doc_id"] for m in members)
        # planted topology: orig + the two mutated copies cluster together
        assert len(members) >= 2


# the ids name the algorithm: min-label propagation
@pytest.mark.parametrize("seed", [3, 11], ids=lambda s: f"propagation-{s}")
def test_cc_matches_union_find_on_random_graphs(spark, caplog, seed):
    """CC must agree with an independent union-find on random graphs
    (the propagation loop shares no code with this twin)."""
    import random

    from automated_agro_climatic_data_warehouse_spark.operators.graph import (
        connected_components,
    )

    rng = random.Random(seed)
    n = 80
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(70)
    ]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    # canonical label = min node id in each component, nodes with edges only
    touched = {v for e in edges for v in e}
    comp_min = {}
    for v in touched:
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    want = {(v, comp_min[find(v)]) for v in touched}

    df = spark.createDataFrame(edges, "src long, dst long")
    with caplog.at_level(logging.INFO, logger=session.__name__):
        got = {(r.node, r.component) for r in connected_components(df).collect()}
    assert _cc_record(caplog)["converged"] is True
    assert got == want
