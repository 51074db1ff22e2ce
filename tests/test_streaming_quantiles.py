"""Streaming grid-histogram quantiles: the state must be EXACTLY the
batch histogram (any micro-batch partitioning — a determinism claim
stronger than order-sensitive sketches), and the quantile readout must
bracket the true quantile within one bin width."""

from __future__ import annotations

import math

import pytest

from automated_agro_climatic_data_warehouse_spark.streaming.grid_quantiles import (
    _grid_merge,
    grid_histogram,
    grid_quantiles_drain,
    quantile_bounds,
)

SCHEMA = "event_id long, value double"
WIDTH = 0.5


def _rows():
    # deterministic skewed values over [0, 25): heavy head, long tail
    rows = []
    for i in range(200):
        v = (i % 7) * 0.3 + (i % 13) * 1.7 + (0.01 * i if i % 31 == 0 else 0)
        rows.append((i, round(v, 3)))
    return rows


def _stage(spark, tmp_path, n_files):
    rows = _rows()
    src = str(tmp_path / f"qsrc{n_files}")
    per = [[] for _ in range(n_files)]
    for i, r in enumerate(rows):
        per[i % n_files].append(r)
    for i, chunk in enumerate(per):
        spark.createDataFrame(chunk, SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/f{i}")
    return src, rows


@pytest.mark.parametrize("n_files", [1, 4])
def test_stream_state_equals_batch_histogram(spark, tmp_path, n_files):
    src, rows = _stage(spark, tmp_path, n_files)
    out = grid_quantiles_drain(
        spark,
        f"{src}/*",
        SCHEMA,
        str(tmp_path / f"qstate{n_files}"),
        str(tmp_path / f"qckpt{n_files}"),
        value_col="value",
        width=WIDTH,
    )
    stream_hist = {r.bin: r.c for r in out.collect()}
    batch = spark.createDataFrame(rows, SCHEMA)
    batch_hist = {
        r.bin: r.c for r in grid_histogram(batch, "value", WIDTH).collect()
    }
    assert stream_hist == batch_hist


def test_quantile_bounds_bracket_truth(spark, tmp_path):
    src, rows = _stage(spark, tmp_path, 3)
    hist = grid_quantiles_drain(
        spark,
        f"{src}/*",
        SCHEMA,
        str(tmp_path / "qstate_b"),
        str(tmp_path / "qckpt_b"),
        value_col="value",
        width=WIDTH,
    )
    qs = [0.5, 0.9, 0.99]
    bounds = {r.q: (r.lo, r.hi) for r in quantile_bounds(hist, WIDTH, qs).collect()}
    values = sorted(v for _, v in rows)
    n = len(values)
    for q in qs:
        true_q = values[max(0, math.ceil(q * n) - 1)]
        lo, hi = bounds[q]
        assert lo <= true_q < hi, (q, lo, true_q, hi)
        assert hi - lo == pytest.approx(WIDTH)


def test_grid_merge_replay_idempotent(spark, tmp_path):
    from automated_agro_climatic_data_warehouse_spark.streaming.state_chain import (
        commit_state,
        committed_states,
    )

    state_dir = str(tmp_path / "qstate_m")
    b0 = spark.createDataFrame([(0, 1.0), (1, 1.2), (2, 9.9)], SCHEMA)
    commit_state(
        state_dir, "tok", 0, lambda prev: _grid_merge(b0, prev, "value", WIDTH), spark
    )
    before = {
        r.bin: r.c
        for r in spark.read.parquet(
            committed_states(state_dir, "tok")[-1][1]
        ).collect()
    }
    # replay of the committed id with different data must be a no-op
    b1 = spark.createDataFrame([(9, 4.0)], SCHEMA)
    commit_state(
        state_dir, "tok", 0, lambda prev: _grid_merge(b1, prev, "value", WIDTH), spark
    )
    after = {
        r.bin: r.c
        for r in spark.read.parquet(
            committed_states(state_dir, "tok")[-1][1]
        ).collect()
    }
    assert before == after == {2: 2, 19: 1}
