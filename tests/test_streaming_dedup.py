"""Streaming ingest-dedup gate: order-independent correctness contract
plus exactly-once re-drain.

The corpus plants near-dup pairs across micro-batch boundaries (a dup
of a batch-0 doc arrives in batch 2) and within one batch. Whatever
the file→batch partitioning, the accepted set must satisfy the greedy
maximal-independent-set contract of sequential dedup:

  (a) no two accepted docs are near-dups of each other,
  (b) every rejected doc near-duplicates some accepted doc.

Both are checked with the BATCH LSH operator over the final state —
the streaming gate is validated by the batch semantics it must embed.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # multi-minute suite: excluded from the default (driver) tier
from pyspark.sql import functions as F

from automated_agro_climatic_data_warehouse_spark.operators.dedup import minhash_lsh_dedup
from automated_agro_climatic_data_warehouse_spark.streaming.ingest_dedup import (
    dedup_ingest_drain,
)

SCHEMA = "doc_id long, text string"


def _corpus():
    base = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "distributed query engines shuffle data between executors on keys",
        "minhash signatures approximate jaccard similarity of shingle sets",
        "structured streaming processes micro batches with exactly once sinks",
        "column pruning and predicate pushdown reach the parquet scan layer",
        "broadcast joins avoid shuffling the large fact table across nodes",
    ]
    rows = [(i, t) for i, t in enumerate(base)]
    # near-dups: same text + short tail marker, landing in LATER files
    rows += [
        (100, base[0] + " extra tail"),
        (101, base[1] + " extra tail"),
        (102, base[2] + " extra tail"),
        # within-batch dup pair: 103 dups doc 3's base, staged in the
        # SAME file as doc 3
        (103, base[3] + " tail one"),
    ]
    return rows


@pytest.fixture()
def staged(spark, tmp_path):
    rows = _corpus()
    src = str(tmp_path / "src")
    # three files: originals 0-2 | originals 3-5 + dup 103 | dups 100-102
    groups = [
        [r for r in rows if r[0] in (0, 1, 2)],
        [r for r in rows if r[0] in (3, 4, 5, 103)],
        [r for r in rows if r[0] in (100, 101, 102)],
    ]
    for i, g in enumerate(groups):
        spark.createDataFrame(g, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    return src, rows


def test_streaming_dedup_gate_contract(spark, tmp_path, staged):
    src, rows = staged
    accepted_dir = str(tmp_path / "accepted")
    ckpt = str(tmp_path / "ckpt")
    accepted = dedup_ingest_drain(spark, src, SCHEMA, accepted_dir, ckpt)
    acc_ids = {r.doc_id for r in accepted.select("doc_id").collect()}
    all_ids = {i for i, _ in rows}
    rej_ids = all_ids - acc_ids
    assert rej_ids, "the planted dups must reject something"
    # all six distinct base docs survive in some representative
    full = spark.createDataFrame(rows, SCHEMA)
    pairs = minhash_lsh_dedup(full).collect()
    dup_of = {}
    for p in pairs:
        dup_of.setdefault(p.doc_a, set()).add(p.doc_b)
        dup_of.setdefault(p.doc_b, set()).add(p.doc_a)
    # (a) accepted set is near-dup-free
    for a in acc_ids:
        assert not (dup_of.get(a, set()) & acc_ids), (
            f"accepted {a} near-duplicates accepted "
            f"{dup_of[a] & acc_ids}"
        )
    # (b) every rejection is justified by an accepted near-dup
    for r in rej_ids:
        assert dup_of.get(r, set()) & acc_ids, (
            f"rejected {r} has no accepted near-dup"
        )


def test_streaming_dedup_redrain_is_noop(spark, tmp_path, staged):
    src, _ = staged
    accepted_dir = str(tmp_path / "accepted")
    ckpt = str(tmp_path / "ckpt")
    first = dedup_ingest_drain(spark, src, SCHEMA, accepted_dir, ckpt)
    n1 = first.count()
    again = dedup_ingest_drain(spark, src, SCHEMA, accepted_dir, ckpt)
    assert again.count() == n1, "re-drain over the same checkpoint appended"


def _chain_texts():
    """A similarity CHAIN: sim(A,B) >= 0.6, sim(B,C) >= 0.6, but
    sim(A,C) < 0.6 — the topology where a pairwise drop-the-greater
    rule loses a unique document but sequential greedy keeps {A, C}."""
    w = [f"word{i:02d}" for i in range(20)]
    x = [f"extra{i:02d}" for i in range(7)]
    y = [f"more{i:02d}" for i in range(8)]
    a = " ".join(w)
    b = " ".join(w + x)
    c = " ".join(w + x + y)
    return a, b, c


def test_intra_batch_chain_keeps_endpoints(spark, tmp_path):
    """Greedy-by-id MIS on a chain 1~2~3 (no 1~3) must accept {1, 3}:
    doc 3's only near-dup (2) was itself rejected, so dropping 3 would
    silently lose a unique document."""
    a, b, c = _chain_texts()
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], SCHEMA)
    # the construction must actually be a chain under the operator
    pairs = {
        (p.doc_a, p.doc_b)
        for p in minhash_lsh_dedup(df).collect()
    }
    assert (1, 2) in pairs and (2, 3) in pairs and (1, 3) not in pairs, (
        f"fixture drifted: pair topology {pairs}"
    )
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)
    accepted = dedup_ingest_drain(
        spark,
        src,
        SCHEMA,
        str(tmp_path / "acc"),
        str(tmp_path / "ck"),
    )
    assert {r.doc_id for r in accepted.collect()} == {1, 3}


def test_cross_stage_chain_keeps_batch_doc(spark, tmp_path):
    """Index doc Q ~ batch doc P ~ batch doc R (no Q~R): P rejects
    against the index FIRST, so R must then be accepted — the stage
    order that preserves sequential-greedy semantics across the
    index boundary."""
    a, b, c = _chain_texts()
    src1 = str(tmp_path / "s1")
    src2 = str(tmp_path / "s2")
    spark.createDataFrame([(1, a)], SCHEMA).coalesce(1).write.parquet(src1)
    spark.createDataFrame([(2, b), (3, c)], SCHEMA).coalesce(
        1
    ).write.parquet(src2)
    acc_dir, ck = str(tmp_path / "acc"), str(tmp_path / "ck")
    dedup_ingest_drain(spark, src1, SCHEMA, acc_dir, ck + "1")
    accepted = dedup_ingest_drain(spark, src2, SCHEMA, acc_dir, ck + "2")
    assert {r.doc_id for r in accepted.collect()} == {1, 3}


def test_empty_source_returns_empty_corpus(spark, tmp_path):
    """Zero input files must yield an empty accepted frame, not an
    AnalysisException from reading a never-created directory."""
    import os

    src = str(tmp_path / "empty_src")
    os.makedirs(src)
    accepted = dedup_ingest_drain(
        spark, src, SCHEMA, str(tmp_path / "acc"), str(tmp_path / "ck")
    )
    assert accepted.count() == 0
    assert accepted.columns == ["doc_id", "text"]


def test_gate_contract_holds_on_production_hash_backend(spark, tmp_path):
    """The xxhash64 production backend (what bench/deployments run)
    must satisfy the same accept/reject contract as the md5 parity
    backend — the gate's semantics cannot depend on which hash family
    generated the signatures."""
    rows = _corpus()
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, SCHEMA).coalesce(3).write.parquet(src)
    accepted = dedup_ingest_drain(
        spark,
        src,
        SCHEMA,
        str(tmp_path / "acc"),
        str(tmp_path / "ck"),
        backend="xxhash64",
    )
    acc_ids = {r.doc_id for r in accepted.select("doc_id").collect()}
    rej_ids = {i for i, _ in rows} - acc_ids
    assert rej_ids, "the planted dups must reject something"
    full = spark.createDataFrame(rows, SCHEMA)
    pairs = minhash_lsh_dedup(
        full, backend="xxhash64"
    ).collect()
    dup_of = {}
    for p in pairs:
        dup_of.setdefault(p.doc_a, set()).add(p.doc_b)
        dup_of.setdefault(p.doc_b, set()).add(p.doc_a)
    for a in acc_ids:
        assert not (dup_of.get(a, set()) & acc_ids)
    for r in rej_ids:
        assert dup_of.get(r, set()) & acc_ids
