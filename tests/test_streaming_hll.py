"""Streaming per-key HLL distinct counts: the chained per-batch union
must equal the one-shot batch sketch for ANY file→micro-batch
partitioning (register-max union is associative + commutative), and
the drain must be exactly-once per checkpoint.

Unlike the MG summary (lower bounds), the HLL pin IS exact equality —
not of the estimate to the true distinct count, but of the streamed
sketch's estimate to the batch sketch's estimate: merge ≡ direct, the
same property the batch rollup pins in tests/test_round4_ops.py.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # multi-minute suite: excluded from the default (driver) tier
from pyspark.sql import functions as F

from automated_agro_climatic_data_warehouse_spark.streaming.hll_distinct import (
    LG_K,
    hll_distinct_drain,
)

SCHEMA = "event_id long, user_id long, week string"


def _rows():
    """Two weekly keys with overlapping repeat users: week w1 has users
    0..39 each twice (40 distinct, 80 rows), week w2 has users 20..49
    once (30 distinct)."""
    rows = []
    eid = 0
    for u in range(40):
        for _ in range(2):
            rows.append((eid, u, "w1"))
            eid += 1
    for u in range(20, 50):
        rows.append((eid, u, "w2"))
        eid += 1
    return rows


def _stage(spark, tmp_path, n_files: int):
    rows = _rows()
    src = str(tmp_path / f"src{n_files}")
    per = [[] for _ in range(n_files)]
    # round-robin so every key straddles every micro-batch
    for i, r in enumerate(rows):
        per[i % n_files].append(r)
    for i, chunk in enumerate(per):
        spark.createDataFrame(chunk, SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/f{i}")
    return src, rows


def _batch_estimates(spark, rows):
    return {
        r.key: r.n_distinct_est
        for r in spark.createDataFrame(rows, SCHEMA)
        .groupBy(F.col("week").alias("key"))
        .agg(F.hll_sketch_agg("user_id", F.lit(LG_K)).alias("sk"))
        .select(
            "key",
            F.round(F.hll_sketch_estimate("sk"), 0)
            .cast("bigint")
            .alias("n_distinct_est"),
        )
        .collect()
    }


@pytest.mark.parametrize("n_files", [1, 4])
def test_stream_equals_batch_any_partitioning(spark, tmp_path, n_files):
    src, rows = _stage(spark, tmp_path, n_files)
    out = hll_distinct_drain(
        spark,
        f"{src}/*",
        SCHEMA,
        str(tmp_path / f"state{n_files}"),
        str(tmp_path / f"ckpt{n_files}"),
        key_col=F.col("week"),
        item_col="user_id",
    )
    streamed = {r.key: r.n_distinct_est for r in out.collect()}
    assert streamed == _batch_estimates(spark, rows)
    # at these tiny cardinalities the HLL estimate is exact
    assert streamed == {"w1": 40, "w2": 30}


def test_redrain_same_checkpoint_is_noop(spark, tmp_path):
    src, _ = _stage(spark, tmp_path, 3)
    args = (
        spark,
        f"{src}/*",
        SCHEMA,
        str(tmp_path / "state_r"),
        str(tmp_path / "ckpt_r"),
    )
    kw = dict(key_col=F.col("week"), item_col="user_id")
    first = {
        r.key: r.n_distinct_est
        for r in hll_distinct_drain(*args, **kw).collect()
    }
    again = {
        r.key: r.n_distinct_est
        for r in hll_distinct_drain(*args, **kw).collect()
    }
    assert first == again
