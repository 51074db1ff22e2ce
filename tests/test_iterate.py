"""`session.iterate` and `session.release`: a finished loop leaves
persisted only the checkpoints its returned frames read, reports its
rounds in one log record, and never frees a frame its caller owns."""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

from automated_agro_climatic_data_warehouse_spark import session
from automated_agro_climatic_data_warehouse_spark.operators import graph
from automated_agro_climatic_data_warehouse_spark.operators.bpe import bpe_train_state
from automated_agro_climatic_data_warehouse_spark.operators.dedup import minhash_lsh_dedup
from automated_agro_climatic_data_warehouse_spark.operators.graph import (
    connected_components,
    hits_loop,
    katz_loop,
    label_propagation,
    pagerank_loop,
)
from automated_agro_climatic_data_warehouse_spark.operators.similarity import (
    train_centroids,
)
from automated_agro_climatic_data_warehouse_spark.session import (
    iterate,
    local_frame,
    materialize,
)

# two components: a 4-chain and a triangle, both orientations present
_PAIRS = [(1, 2), (2, 3), (3, 4), (7, 8), (8, 9), (9, 7)]
_SYM = _PAIRS + [(b, a) for a, b in _PAIRS]


def _persisted(spark) -> set[int]:
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _reads(df) -> set[int]:
    """RDD ids of the checkpoints (LogicalRDD leaves) `df`'s plan reads."""
    out, todo = set(), [df._jdf.queryExecution().analyzed()]
    while todo:
        plan = todo.pop()
        if plan.nodeName() == "LogicalRDD":
            out.add(plan.rdd().id())
        children = plan.children()
        todo += [children.apply(i) for i in range(children.size())]
    return out


def _edges(spark, cols="src bigint, dst bigint"):
    return local_frame(spark, _SYM, cols)


def _corpus(spark):
    rows = [(i, [float(i % 3), float(i % 5), 1.0]) for i in range(12)]
    return local_frame(spark, rows, "vec_id bigint, embedding array<float>")


def _words(spark):
    rows = [("abab", 5), ("aba", 3), ("bab", 2), ("ab", 7)]
    return local_frame(spark, rows, "w string, freq bigint")


def _docs(spark):
    text = " ".join(f"word{i:02d}" for i in range(24))
    rows = [(1, text), (2, text + " tail"), (3, "an unrelated short document")]
    return local_frame(spark, rows, "doc_id bigint, text string")


CASES = {
    "connected_components": lambda s: connected_components(_edges(s)),
    "label_propagation": lambda s: label_propagation(
        _edges(s), local_frame(s, [(1, 5), (9, 6)], "node bigint, label bigint"), 2
    ),
    "pagerank_loop": lambda s: pagerank_loop(_edges(s), k=3),
    "katz_loop": lambda s: katz_loop(_edges(s, "u bigint, v bigint"), k=2),
    "katz_loop_in_covered": lambda s: katz_loop(
        _edges(s, "u bigint, v bigint"), k=2, in_covered=True
    ),
    "hits_loop": lambda s: hits_loop(_edges(s, "u bigint, v bigint"), k=2),
    "train_centroids": lambda s: train_centroids(_corpus(s), k=2, rounds=2),
    "bpe_train_state": lambda s: bpe_train_state(_words(s), 3),
    "minhash_lsh_dedup": lambda s: minhash_lsh_dedup(_docs(s)),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_loop_leaves_only_what_its_result_reads(spark, case):
    before = _persisted(spark)
    out = CASES[case](spark)
    frames = out if isinstance(out, tuple) else (out,)
    added = _persisted(spark) - before
    assert added == set().union(*map(_reads, frames)) - before
    for df in frames:
        df.collect()


def _record(caplog, name: str) -> dict:
    return [
        r.iterate
        for r in caplog.records
        if getattr(r, "iterate", {}).get("name") == name
    ][-1]


def test_record_and_caller_state(spark, caplog):
    """A fixed-round loop: every round checkpointed, each with its row
    count; the caller's state survives the loop."""
    start = materialize(spark.range(5), "test.start")
    with caplog.at_level(logging.INFO, logger=session.__name__):
        out = iterate(start, lambda df: df.filter(F.col("id") > 0), "test.loop", 3)
    assert sorted(r.id for r in out.collect()) == [1, 2, 3, 4]
    assert start.count() == 5
    record = _record(caplog, "test.loop")
    assert record["rounds"] == 3 and record["converged"] is None
    assert [c["rows"] for c in record["checkpoints"]] == [4, 4, 4]
    assert all(c["seconds"] >= 0 for c in record["checkpoints"])


def test_record_of_a_converged_loop(spark, caplog):
    """`until` checkpoints the initial state and stops on an unchanged
    probe value; `final_only` checkpoints the last round alone."""
    with caplog.at_level(logging.INFO, logger=session.__name__):
        connected_components(_edges(spark)).collect()
        pagerank_loop(_edges(spark), k=4).collect()
    cc = _record(caplog, "_cc_propagation.labels")
    assert cc["converged"] is True
    assert len(cc["checkpoints"]) == cc["rounds"] + 1
    assert cc["checkpoints"][-1]["until"] == cc["checkpoints"][-2]["until"] == 1 * 4 + 7 * 3
    assert cc["checkpoints"][-1]["rows"] == 7
    pr = _record(caplog, "pagerank_loop.ranks")
    assert pr["rounds"] == 4 and len(pr["checkpoints"]) == 1


def test_cc_copies_only_a_lazy_input(spark, monkeypatch):
    """An input that is already a checkpoint is read as is, and stays
    the caller's: the loop neither copies nor releases it."""
    names = []

    def spy(df, name, *probes):
        names.append(name)
        return materialize(df, name, *probes)

    monkeypatch.setattr(graph, "materialize", spy)
    connected_components(_edges(spark))
    assert "connected_components.edges" in names
    names.clear()
    edges = materialize(_edges(spark), "test.edges")
    connected_components(edges).collect()
    assert "connected_components.edges" not in names
    assert session.checkpoint_id(edges) is not None
    assert edges.count() == len(_SYM)
