"""Streaming Misra-Gries heavy hitters: the mergeable-summary guarantee
must hold for ANY file→micro-batch partitioning, and the drain must be
exactly-once per checkpoint.

Guarantee under test (Agarwal et al., Mergeable Summaries): after
merging per-batch MG summaries, every key with true frequency
> N/(k+1) survives, and each surviving counter lower-bounds its true
count by at most the total decrement. The summary is a candidate set —
the exact-verify upgrade is the batch operator's job — so the pins are
superset + lower-bound + bounded-size, never exact equality.
"""

from __future__ import annotations

import collections

import pytest

pytestmark = pytest.mark.slow  # multi-minute suite: excluded from the default (driver) tier

from automated_agro_climatic_data_warehouse_spark.streaming.heavy_hitters import (
    heavy_hitters_drain,
)

SCHEMA = "event_id long, user_id long"
K = 4


def _rows():
    """Skewed stream: user 1 dominates, user 2 is heavy, the rest are a
    long tail of singletons. N = 40; with k=4 the MG threshold is
    N/(k+1) = 8, so users 1 (16 events) and 2 (10) MUST survive."""
    rows = []
    eid = 0
    for _ in range(16):
        rows.append((eid, 1))
        eid += 1
    for _ in range(10):
        rows.append((eid, 2))
        eid += 1
    for u in range(100, 114):  # 14 singleton users
        rows.append((eid, u))
        eid += 1
    return rows


def _stage(spark, tmp_path, n_files: int):
    rows = _rows()
    src = str(tmp_path / f"src{n_files}")
    # deal rows round-robin so heavy keys straddle every file/batch
    per = [[] for _ in range(n_files)]
    for i, r in enumerate(rows):
        per[i % n_files].append(r)
    for i, chunk in enumerate(per):
        spark.createDataFrame(chunk, SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/f{i}")
    # flatten: the stream source lists files recursively per dir; stage
    # each chunk as its own subdir file set is fine for maxFilesPerTrigger
    return src, rows


def _true_counts(rows):
    return collections.Counter(u for _, u in rows)


@pytest.mark.parametrize("n_files", [1, 5])
def test_mg_guarantees_any_partitioning(spark, tmp_path, n_files):
    src, rows = _stage(spark, tmp_path, n_files)
    out = heavy_hitters_drain(
        spark,
        f"{src}/*",
        SCHEMA,
        str(tmp_path / f"state{n_files}"),
        str(tmp_path / f"ckpt{n_files}"),
        key_col="user_id",
        k=K,
    )
    summary = {r.key: r.c for r in out.collect()}
    true = _true_counts(rows)
    n = sum(true.values())
    # bounded size
    assert len(summary) <= K
    # superset: every true heavy hitter survives
    heavy = {u for u, c in true.items() if c > n / (K + 1)}
    assert heavy <= set(summary), (heavy, summary)
    # lower bound: counters never overestimate, and underestimate by
    # at most N/(k+1)
    for key, c in summary.items():
        assert 0 < c <= true[key]
        assert true[key] - c <= n / (K + 1)


def test_redrain_same_checkpoint_is_noop(spark, tmp_path):
    src, _ = _stage(spark, tmp_path, 3)
    args = (
        spark,
        f"{src}/*",
        SCHEMA,
        str(tmp_path / "state_r"),
        str(tmp_path / "ckpt_r"),
    )
    first = {
        r.key: r.c
        for r in heavy_hitters_drain(*args, key_col="user_id", k=K).collect()
    }
    again = {
        r.key: r.c
        for r in heavy_hitters_drain(*args, key_col="user_id", k=K).collect()
    }
    assert first == again


def _commit_mg(spark, batch, state_dir, batch_id, token):
    """One chain step through the real MG merge."""
    from automated_agro_climatic_data_warehouse_spark.streaming.heavy_hitters import _mg_merge
    from automated_agro_climatic_data_warehouse_spark.streaming.state_chain import commit_state

    commit_state(
        state_dir,
        token,
        batch_id,
        lambda prev: _mg_merge(batch, prev, "user_id", K),
        spark,
    )


def test_replay_of_committed_batch_is_idempotent(spark, tmp_path):
    """Simulate foreachBatch's at-least-once: calling the merge again
    with an already-committed batch_id must change nothing."""
    from automated_agro_climatic_data_warehouse_spark.streaming.state_chain import committed_states

    state_dir = str(tmp_path / "state_m")
    batch = spark.createDataFrame([(0, 1), (1, 1), (2, 2)], SCHEMA)
    _commit_mg(spark, batch, state_dir, 0, "tok")
    before = {
        r.key: r.c
        for r in spark.read.parquet(
            committed_states(state_dir, "tok")[-1][1]
        ).collect()
    }
    # replay the same (token, batch_id) with DIFFERENT data: must skip
    other = spark.createDataFrame([(9, 99)], SCHEMA)
    _commit_mg(spark, other, state_dir, 0, "tok")
    after = {
        r.key: r.c
        for r in spark.read.parquet(
            committed_states(state_dir, "tok")[-1][1]
        ).collect()
    }
    assert before == after == {1: 2, 2: 1}


def test_state_chains_are_token_scoped(spark, tmp_path):
    """Two drains sharing one state_dir (fresh checkpoint → fresh token)
    must keep independent chains: the second neither merges the first
    chain's history nor reads its states."""
    from automated_agro_climatic_data_warehouse_spark.streaming.state_chain import committed_states

    state_dir = str(tmp_path / "state_t")
    # chain A: two batches of user 1
    a0 = spark.createDataFrame([(0, 1), (1, 1)], SCHEMA)
    _commit_mg(spark, a0, state_dir, 0, "tokA")
    _commit_mg(spark, a0, state_dir, 1, "tokA")
    # chain B: batch 1 (no batch 0 of its own beyond this) of user 2 —
    # must NOT see chain A's counts
    b1 = spark.createDataFrame([(5, 2)], SCHEMA)
    _commit_mg(spark, b1, state_dir, 1, "tokB")
    sa = {
        r.key: r.c
        for r in spark.read.parquet(
            committed_states(state_dir, "tokA")[-1][1]
        ).collect()
    }
    sb = {
        r.key: r.c
        for r in spark.read.parquet(
            committed_states(state_dir, "tokB")[-1][1]
        ).collect()
    }
    assert sa == {1: 4}
    assert sb == {2: 1}
