"""Streaming KMV quantile sample: the drained bottom-k state must be
BIT-IDENTICAL to the batch-built sample for ANY file→micro-batch
partitioning (bottom-k under a total order is a semilattice: merge =
bottomk of the union, associative + commutative + idempotent), and the
drain must be exactly-once per checkpoint.

This is the strongest pin in the streaming sketch family — exact row
equality of the state itself, same tier as CMS cells and the grid
histogram, strictly stronger than MG's lower-bound pin.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # multi-minute suite: excluded from the default (driver) tier
from pyspark.sql import functions as F

from automated_agro_climatic_data_warehouse_spark.operators.sketches import (
    kmv_state,
    quantiles_from_sample,
)
from automated_agro_climatic_data_warehouse_spark.streaming.kmv_quantiles import (
    kmv_quantiles_drain,
)

SCHEMA = "event_id long, value double"
K = 32  # small k so bottom-k genuinely selects (n = 200 > k)


def _rows():
    # deterministic skewed values; ids 0..199
    return [(i, float((i * 37) % 199) / 8.0 + (i % 7)) for i in range(200)]


def _stage(spark, tmp_path, n_files: int):
    rows = _rows()
    src = str(tmp_path / f"src{n_files}")
    per = [[] for _ in range(n_files)]
    for i, r in enumerate(rows):
        per[i % n_files].append(r)
    for i, chunk in enumerate(per):
        spark.createDataFrame(chunk, SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/f{i}")
    return src, rows


def _batch_state(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    return {
        (r.h, r.id, r.value)
        for r in kmv_state(df, "event_id", "value", K).collect()
    }


@pytest.mark.parametrize("n_files", [1, 4])
def test_stream_state_equals_batch_any_partitioning(
    spark, tmp_path, n_files
):
    src, rows = _stage(spark, tmp_path, n_files)
    state = kmv_quantiles_drain(
        spark,
        f"{src}/*",
        SCHEMA,
        str(tmp_path / f"state{n_files}"),
        str(tmp_path / f"ckpt{n_files}"),
        id_col="event_id",
        value_col="value",
        k=K,
    )
    got = {(r.h, r.id, r.value) for r in state.collect()}
    assert got == _batch_state(spark, rows)
    assert len(got) == K
    # and the percentile readout (shared operator) matches batch too
    streamed_q = {
        r.p: r.est_value
        for r in quantiles_from_sample(state).collect()
    }
    batch_samp = kmv_state(
        spark.createDataFrame(rows, SCHEMA), "event_id", "value", K
    )
    batch_q = {
        r.p: r.est_value
        for r in quantiles_from_sample(batch_samp).collect()
    }
    assert streamed_q == batch_q


def test_redrain_same_checkpoint_is_noop(spark, tmp_path):
    src, _ = _stage(spark, tmp_path, 3)
    args = (
        spark,
        f"{src}/*",
        SCHEMA,
        str(tmp_path / "state_r"),
        str(tmp_path / "ckpt_r"),
    )
    kw = dict(id_col="event_id", value_col="value", k=K)
    first = {
        (r.h, r.id, r.value)
        for r in kmv_quantiles_drain(*args, **kw).collect()
    }
    again = {
        (r.h, r.id, r.value)
        for r in kmv_quantiles_drain(*args, **kw).collect()
    }
    assert first == again
