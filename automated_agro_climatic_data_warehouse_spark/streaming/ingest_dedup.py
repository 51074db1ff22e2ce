"""Streaming ingest dedup: foreachBatch + incremental MinHash-LSH.

The production shape of corpus dedup is not a one-shot self-join — it is
an INGEST GATE: every arriving micro-batch is LSH-joined against the
persisted signature-index/corpus, near-dups of already-accepted
documents are dropped, and the survivors are appended to the index
before the next batch. Cost per batch scales with the batch (bipartite
band join against the index), never with the corpus
(operators/dedup.minhash_lsh_incremental), and the gate also catches
WITHIN-batch duplicates with the plain self-join on the (small) batch.

This module wires that gate as a Structured Streaming `foreachBatch`
sink over a file source (`availableNow` drain — the same
batch-operators-inside-streaming discipline as sinks.upsert_sink_drain):
the accepted corpus lives in a parquet directory that doubles as the
index, so a restart resumes from what was durably accepted.

Exactly-once is STRUCTURAL, not incidental: foreachBatch alone is only
at-least-once (a crash between the sink write and the checkpoint commit
replays the batch), so each micro-batch commits — through
state_chain.commit, the protocol the monitors' state chains use — to its own
`batch-<drain-token>-<batch_id>` subdirectory inside the corpus — the
token is derived from the checkpoint path, so a replay of the same
(checkpoint, batch_id) targets the SAME subdir, skips if its _SUCCESS
marker already exists, and idempotently overwrites if the previous
attempt died half-written. Half-written subdirs (no _SUCCESS) are also
excluded from the index read, so a crashed attempt can never reject a
document against its own partial output. This holds for every document
— including zero-shingle docs (text shorter than one shingle) that
never enter the LSH path and would double-append under a naive
`mode("append")` sink.

Correctness contract (order-independent, pinned in
tests/test_streaming_dedup.py): whatever the micro-batch partitioning,
(a) no two ACCEPTED documents are near-dups of each other, and
(b) every REJECTED document is a near-dup of some accepted document —
the greedy maximal-independent-set guarantee of sequential dedup.

At 100 TB: the file source becomes Kafka/object-store notifications,
the accepted parquet becomes the signature-index table, and the
foreachBatch body is unchanged — the LSH join is already the
batch-sized bipartite form.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import minhash_lsh_dedup, minhash_lsh_incremental
from ..operators.graph import connected_components
from ..session import local_frame, materialize
from .state_chain import (
    commit,
    committed,
    drain_token,
    file_stream,
    foreach_batch_drain,
)


def _greedy_reject_by_id(pairs: DataFrame) -> DataFrame:
    """Rejected doc_ids under EXACT sequential-greedy dedup by ascending
    id over the near-dup pair graph: a doc is accepted iff none of its
    near-dup neighbors with a smaller id was accepted. A pairwise rule
    like 'drop greatest(a, b)' is NOT this semantics on chains (1~2,
    2~3, no 1~3: greedy accepts {1, 3}; the pairwise rule drops both 2
    and 3, losing a unique doc). Dup components are small by nature
    (groups of near-copies), so the exact solve runs component-local:
    connected components label the groups, one Arrow batch per
    component replays the greedy scan in memory.

    The id pairs are checkpointed once and shared by the CC loop and the
    component join; otherwise both would re-run the LSH verify chain
    that produced them."""
    import pandas as pd

    pairs = materialize(pairs.select("doc_a", "doc_b"), "_greedy_reject_by_id.pairs")
    labels = connected_components(pairs, src="doc_a", dst="doc_b")
    comp_pairs = pairs.join(
        labels.select(
            F.col("node").alias("doc_a"), F.col("component")
        ),
        "doc_a",
    )

    def reject(pdf: pd.DataFrame) -> pd.DataFrame:
        adj: dict[int, set[int]] = {}
        for a, b in zip(pdf["doc_a"], pdf["doc_b"]):
            adj.setdefault(int(a), set()).add(int(b))
            adj.setdefault(int(b), set()).add(int(a))
        accepted: set[int] = set()
        rejected: list[int] = []
        for n in sorted(adj):
            if adj[n] & accepted:
                rejected.append(n)
            else:
                accepted.add(n)
        return pd.DataFrame({"doc_id": pd.Series(rejected, dtype="int64")})

    return comp_pairs.groupBy("component").applyInPandas(
        reject, "doc_id long"
    )


def dedup_gate_batch(
    batch: DataFrame,
    accepted_dir: str,
    commit_id: str,
    backend: str = "md5",
) -> None:
    """Accept the non-duplicate subset of `batch` into `accepted_dir`
    (near-duplicates at MinHash Jaccard >= 0.6).

    Two-stage gate in SEQUENTIAL-GREEDY order (index docs arrived
    before every batch doc, so they always win): (1) batch-vs-index
    incremental LSH drops anything near-duplicating an already-accepted
    doc; (2) the remainder self-dedups under exact greedy-by-id MIS
    (component-local solve — see _greedy_reject_by_id; a doc whose only
    near-dups were themselves rejected is KEPT).

    Survivors write to the `batch-<commit_id>` subdir with overwrite
    semantics and the call is IDEMPOTENT: a replay of an
    already-committed id returns without touching anything, and a
    replay over a crashed half-write recomputes against the
    committed-only index and overwrites the partial subdir."""

    def survivors() -> DataFrame:
        out = batch
        index_paths = [p for _, p in committed(accepted_dir, "batch-")]
        if index_paths:
            # the schema is given: an all-rejected batch may commit a
            # subdir without a part file, which schema inference rejects
            index = batch.sparkSession.read.schema(batch.schema).parquet(
                *index_paths
            )
            hits = minhash_lsh_incremental(out, index, backend=backend)
            dup_new = hits.select(F.col("doc_a").alias("doc_id")).distinct()
            out = out.join(dup_new, "doc_id", "left_anti")
        intra = minhash_lsh_dedup(out, backend=backend)
        rejected = _greedy_reject_by_id(intra)
        # no checkpoint before the write: it is the plan's only consumer,
        # and the plan reads only committed subdirs — never the one this
        # overwrite replaces (uncommitted until the write completes)
        return out.join(rejected, "doc_id", "left_anti")

    commit(os.path.join(accepted_dir, f"batch-{commit_id}"), survivors)


def dedup_ingest_drain(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    accepted_dir: str,
    checkpoint_dir: str,
    backend: str = "md5",
) -> DataFrame:
    """Drain the parquet files in `src_dir` as a stream (availableNow,
    one file per micro-batch) through the dedup gate; returns the
    accepted corpus. Exactly-once per checkpoint:
    re-draining the same checkpoint appends nothing (the stream replays
    no batch), and a crash-replay of an in-flight batch is absorbed by
    the per-batch commit subdir (see module docstring). The drain token
    ties commit ids to THIS checkpoint, so successive drains with fresh
    checkpoints (new data into the same corpus) never collide on
    batch_id 0."""
    token = drain_token(checkpoint_dir)

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        dedup_gate_batch(
            batch,
            accepted_dir,
            backend=backend,
            commit_id=f"{token}-{batch_id:06d}",
        )

    stream = file_stream(spark, src_dir, schema)
    foreach_batch_drain(stream, checkpoint_dir, apply_batch)
    paths = [p for _, p in committed(accepted_dir, "batch-")]
    if not paths:
        return local_frame(spark, [], schema)
    return spark.read.schema(schema).parquet(*paths)
