"""foreachBatch upsert sink ≡ batch upsert, and exactly-once re-drain.

Two staged micro-batches with overlapping keys: the streamed target must
equal a single batch upsert of (batch1 then batch2), later batch wins on
conflicts; a second drain over the same checkpoint must change nothing;
the drain leaves no checkpoint persisted.
"""

from __future__ import annotations

import os

import pandas as pd

from automated_agro_climatic_data_warehouse_spark.streaming.sinks import (
    upsert_sink_drain,
)
from automated_agro_climatic_data_warehouse_spark.streaming.state_chain import (
    file_stream,
    foreach_batch_drain,
)


def _stage(tmp_path, frames):
    stage = tmp_path / "stage"
    stage.mkdir()
    for i, f in enumerate(frames):
        p = stage / f"b{i}.parquet"
        f.to_parquet(p, index=False)
        os.utime(p, (1_000_000 + i, 1_000_000 + i))
    return str(stage)


def test_upsert_sink_equals_batch_and_is_exactly_once(spark, tmp_path):
    b1 = pd.DataFrame(
        {"k": [1, 2, 3], "v": [10.0, 20.0, 30.0], "seq": [1, 1, 1]}
    )
    # batch 2 updates k=2,3 and inserts k=4 (two writers for k=3 within
    # the batch — last-writer-wins must pick the higher seq)
    b2 = pd.DataFrame(
        {"k": [2, 3, 3, 4], "v": [21.0, 31.0, 32.0, 40.0], "seq": [2, 2, 3, 2]}
    )
    stage = _stage(tmp_path, [b1, b2])
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")

    stream = file_stream(spark, stage, "k long, v double, seq long")
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keySet())
    out = upsert_sink_drain(
        spark, stream, target, ckpt, keys=["k"], order_by=["seq"]
    )
    # each batch frees its merged checkpoint once the target is written
    assert set(persisted().keySet()) - before == set()
    got = {r.k: (r.v, r.seq) for r in out.collect()}
    assert got == {1: (10.0, 1), 2: (21.0, 2), 3: (32.0, 3), 4: (40.0, 2)}

    # re-drain with the SAME checkpoint: no new input → target unchanged
    stream2 = file_stream(spark, stage, "k long, v double, seq long")
    again = upsert_sink_drain(
        spark, stream2, target, ckpt, keys=["k"], order_by=["seq"]
    )
    got2 = {r.k: (r.v, r.seq) for r in again.collect()}
    assert got2 == got


def test_drain_batch_jobs_belong_to_the_callers_job_group(spark, tmp_path):
    """Each drain's batch jobs run under the job group its caller had,
    not under the stream's own run-id group: two drains under two
    groups each own their own batch jobs and none of the other's."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    stage = _stage(
        tmp_path,
        [pd.DataFrame({"k": [1, 2]}), pd.DataFrame({"k": [3]})],
    )
    batch_jobs: dict[str, set[int]] = {}

    def drain(group):
        seen = batch_jobs.setdefault(group, set())

        def apply_batch(batch, batch_id):
            before = set(tracker.getJobIdsForGroup(group))
            batch.count()
            seen.update(set(tracker.getJobIdsForGroup(group)) - before)

        stream = file_stream(spark, stage, "k long")
        sc.setJobGroup(group, f"drain under {group}")
        try:
            foreach_batch_drain(stream, str(tmp_path / group), apply_batch)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    drain("drain_a")
    drain("drain_b")
    a, b = batch_jobs["drain_a"], batch_jobs["drain_b"]
    # one count job per micro-batch at least, two batches each
    assert len(a) >= 2 and len(b) >= 2
    assert a <= set(tracker.getJobIdsForGroup("drain_a"))
    assert b <= set(tracker.getJobIdsForGroup("drain_b"))
    assert not a & set(tracker.getJobIdsForGroup("drain_b"))
    assert not b & set(tracker.getJobIdsForGroup("drain_a"))
