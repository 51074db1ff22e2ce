"""Committed-state chain: the shared exactly-once protocol for
foreachBatch sketch sinks (heavy_hitters, grid_quantiles).

A drain is identified by a TOKEN derived from its checkpoint path;
each micro-batch commits its post-merge state to a
`state-<token>-<batch_id>` subdir (_SUCCESS-marked, overwrite
semantics), merging against the newest committed predecessor OF THE
SAME TOKEN. Token scoping matters: state listing and the final read
filter on the token, so a fresh drain (new checkpoint → new token)
over a reused state_dir starts its own chain instead of silently
merging or reading another drain's history. foreachBatch's
at-least-once replays are absorbed structurally — a committed
(token, batch_id) is skipped, a crashed half-write (no _SUCCESS) is
recomputed from the predecessor and overwritten.

ingest_dedup.py uses the same discipline with corpus-append semantics
(`batch-` subdirs that accumulate rather than supersede); its commit
protocol lives there.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame


def drain_token(checkpoint_dir: str) -> str:
    """Stable drain id: md5 of the absolute checkpoint path.

    16 hex chars (64 bits): two drains with different checkpoints
    sharing one state_dir must never collide — a collision would
    silently merge their chains, the exact failure token scoping
    exists to prevent. 64 bits makes that probability negligible at
    any realistic drain count; the dir-name cost is nothing."""
    return hashlib.md5(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:16]


def foreach_batch_drain(
    stream: DataFrame, checkpoint_dir: str, apply_batch: Callable[[DataFrame, int], None]
) -> None:
    """Drain `stream` availableNow through `foreachBatch(apply_batch)`.

    `apply_batch` runs on the stream's own thread (job group: the run
    id), under the caller's local properties laid over that thread's,
    so its jobs join the caller's job group; the thread is reused, so
    its own properties are restored after each batch."""
    jsc = stream.sparkSession.sparkContext._jsc.sc()
    caller = jsc.getLocalProperties().clone()

    def run(batch: DataFrame, batch_id: int) -> None:
        own = jsc.getLocalProperties()
        props = own.clone()
        props.putAll(caller)
        jsc.setLocalProperties(props)
        try:
            apply_batch(batch, batch_id)
        finally:
            jsc.setLocalProperties(own)

    stream.writeStream.foreachBatch(run).option(
        "checkpointLocation", checkpoint_dir
    ).trigger(availableNow=True).start().awaitTermination()


def committed_states(state_dir: str, token: str) -> list[tuple[int, str]]:
    """(batch_id, path) of every _SUCCESS-committed state of THIS
    token's chain, ascending by batch id."""
    if not os.path.isdir(state_dir):
        return []
    prefix = f"state-{token}-"
    out: list[tuple[int, str]] = []
    for name in os.listdir(state_dir):
        p = os.path.join(state_dir, name)
        if (
            os.path.isdir(p)
            and name.startswith(prefix)
            and os.path.isfile(os.path.join(p, "_SUCCESS"))
        ):
            out.append((int(name[len(prefix):]), p))
    return sorted(out)


def commit_state(
    state_dir: str,
    token: str,
    batch_id: int,
    build: Callable[[DataFrame | None], DataFrame],
    spark: SparkSession,
) -> None:
    """Run one idempotent chain step: skip if (token, batch_id) is
    already committed, else call `build(prev_state_df_or_None)` with
    the newest committed predecessor of this chain and overwrite-write
    the result to this batch's subdir."""
    out_dir = os.path.join(state_dir, f"state-{token}-{batch_id:06d}")
    if os.path.isfile(os.path.join(out_dir, "_SUCCESS")):
        return
    prev = [
        (b, p) for b, p in committed_states(state_dir, token) if b < batch_id
    ]
    prev_df = spark.read.parquet(prev[-1][1]) if prev else None
    build(prev_df).write.mode("overwrite").parquet(out_dir)
    _prune_superseded(prev)


def _prune_superseded(states: list[tuple[int, str]]) -> None:
    """Delete committed states that a newer commit has superseded, so
    on-disk usage stays O(state size) instead of O(batches × state
    size) over a long drain. Safe at every crash point: replay of a
    committed id is skipped without reading state, and a crashed
    later id only needs the NEWEST committed predecessor — which is
    the commit that triggered this prune, never one being deleted.
    _SUCCESS is removed first so a prune interrupted mid-rmtree leaves
    an uncommitted-looking dir the chain already ignores."""
    import shutil

    for _, path in states:
        success = os.path.join(path, "_SUCCESS")
        if os.path.isfile(success):
            os.remove(success)
        shutil.rmtree(path, ignore_errors=True)


def chain_drain(
    spark: SparkSession,
    src_dir: str,
    schema: str,
    state_dir: str,
    checkpoint_dir: str,
    build: Callable[[DataFrame, DataFrame | None], DataFrame],
    empty_schema: str,
) -> DataFrame:
    """availableNow drain of `src_dir` parquet through the chain:
    per micro-batch, `build(batch_df, prev_state_df_or_None)` produces
    the next state. Returns the final committed state of THIS drain's
    chain (empty frame of `empty_schema` if nothing committed)."""
    token = drain_token(checkpoint_dir)
    stream = (
        spark.readStream.schema(schema)
        # one file per micro-batch: the batch-twin contract the stream≡batch tests pin
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        commit_state(
            state_dir,
            token,
            batch_id,
            lambda prev: build(batch, prev),
            batch.sparkSession,
        )

    foreach_batch_drain(stream, checkpoint_dir, apply_batch)
    states = committed_states(state_dir, token)
    if not states:
        return local_frame(spark, [], empty_schema)
    return spark.read.parquet(states[-1][1])
