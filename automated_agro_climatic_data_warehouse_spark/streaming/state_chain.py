"""The streaming drain: one file source, the two drains that run an
availableNow query to completion, and the exactly-once commit every
foreachBatch sink writes through.

- Source. `file_stream` reads a staged directory one file per trigger:
  the batch-twin contract the stream≡batch tests pin.
- Drains. `memory_drain` runs a query into a memory sink (stateful.py,
  state_v2.py, windows.py, joins.py); `foreach_batch_drain` runs each
  micro-batch through a Python function (the monitors, the upsert sink,
  ingest dedup).
- Commit. A batch commits to its own subdir, marked by Spark's
  `_SUCCESS` file and written with overwrite semantics (`commit`);
  readers list only marked subdirs (`committed`). foreachBatch is only
  at-least-once, so a replayed batch whose subdir is marked is skipped,
  and one that crashed half-written (no marker) is recomputed and
  overwritten.

The monitors chain their commits: batch `batch_id` of a drain writes
its post-merge state to `state-<token>-<batch_id>`, merging against
the newest committed predecessor of the SAME token (`commit_state`).
The token is derived from the checkpoint path, so a fresh drain over a
reused state_dir starts its own chain instead of merging or reading
another drain's history. Ingest dedup commits `batch-<token>-<id>`
subdirs that accumulate into its corpus instead of superseding each
other.
"""

from __future__ import annotations

import hashlib
import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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


def file_stream(
    spark: SparkSession, src_dir: str, schema: str | StructType
) -> DataFrame:
    """Stream over the parquet files in `src_dir`, one file per
    micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


def memory_drain(
    out: DataFrame, checkpoint_dir: str, mode: str
) -> tuple[DataFrame, int]:
    """Run `out` availableNow into a memory sink in output `mode`
    (append, complete or update) to completion; return (result frame,
    number of non-empty micro-batches)."""
    name = f"drain_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    return out.sparkSession.sql(f"SELECT * FROM {name}"), batches


def committed(root: str, prefix: str) -> list[tuple[str, str]]:
    """(name after `prefix`, path) of every committed subdir of `root`
    whose name starts with `prefix`, ascending by name."""
    if not os.path.isdir(root):
        return []
    out = []
    for name in os.listdir(root):
        p = os.path.join(root, name)
        if name.startswith(prefix) and os.path.isfile(os.path.join(p, "_SUCCESS")):
            out.append((name[len(prefix):], p))
    return sorted(out)


def commit(out_dir: str, build: Callable[[], DataFrame]) -> bool:
    """Commit `build()` to `out_dir` exactly once: if `out_dir` is
    already committed return False without calling `build`, else
    overwrite-write it (Spark marks it `_SUCCESS` last) and return True."""
    if os.path.isfile(os.path.join(out_dir, "_SUCCESS")):
        return False
    build().write.mode("overwrite").parquet(out_dir)
    return True


def committed_states(state_dir: str, token: str) -> list[tuple[int, str]]:
    """(batch_id, path) of every committed state of THIS token's chain,
    ascending by batch id."""
    return sorted((int(b), p) for b, p in committed(state_dir, f"state-{token}-"))


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
    prev = [
        (b, p) for b, p in committed_states(state_dir, token) if b < batch_id
    ]
    out_dir = os.path.join(state_dir, f"state-{token}-{batch_id:06d}")

    def step() -> DataFrame:
        return build(spark.read.parquet(prev[-1][1]) if prev else None)

    if commit(out_dir, step):
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

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        commit_state(
            state_dir,
            token,
            batch_id,
            lambda prev: build(batch, prev),
            batch.sparkSession,
        )

    stream = file_stream(spark, src_dir, schema)
    foreach_batch_drain(stream, checkpoint_dir, apply_batch)
    states = committed_states(state_dir, token)
    if not states:
        return local_frame(spark, [], empty_schema)
    return spark.read.parquet(states[-1][1])
