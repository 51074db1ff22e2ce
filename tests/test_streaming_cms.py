"""Streaming Count-Min sketch: CMS is linear, so the chained cell-wise
merge must be BIT-IDENTICAL to the batch-built sketch under any
micro-batch partitioning — exact cell equality, the strongest of the
sketch-sink pins (MG pins bounds, HLL pins estimate equality, CMS pins
the whole state). Point estimates must match the batch sketch's and
never undercount."""

from __future__ import annotations

import collections

import pytest

pytestmark = pytest.mark.slow  # multi-minute suite: excluded from the default (driver) tier
from pyspark.sql import functions as F

from automated_agro_climatic_data_warehouse_spark.operators.sketches import (
    cms_cells,
    cms_estimate,
)
from automated_agro_climatic_data_warehouse_spark.streaming.cms_state import (
    cms_drain,
)

SCHEMA = "event_id long, user_id long"


def _rows():
    """Skewed keys: user 7 dominates, a mid tier, singleton tail."""
    rows, eid = [], 0
    for _ in range(25):
        rows.append((eid, 7))
        eid += 1
    for u in (11, 13):
        for _ in range(8):
            rows.append((eid, u))
            eid += 1
    for u in range(200, 220):
        rows.append((eid, u))
        eid += 1
    return rows


def _stage(spark, tmp_path, n_files):
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


@pytest.mark.parametrize("n_files", [1, 5])
def test_stream_cells_equal_batch_cells(spark, tmp_path, n_files):
    src, rows = _stage(spark, tmp_path, n_files)
    streamed = cms_drain(
        spark,
        f"{src}/*",
        SCHEMA,
        str(tmp_path / f"state{n_files}"),
        str(tmp_path / f"ckpt{n_files}"),
        key_col="user_id",
    )
    batch = cms_cells(
        spark.createDataFrame(rows, SCHEMA), F.col("user_id")
    )
    s = {(r.j, r.bucket): r.cell for r in streamed.collect()}
    b = {(r.j, r.bucket): r.cell for r in batch.collect()}
    assert s == b


def test_estimates_match_batch_and_never_undercount(spark, tmp_path):
    src, rows = _stage(spark, tmp_path, 3)
    cells = cms_drain(
        spark,
        f"{src}/*",
        SCHEMA,
        str(tmp_path / "state_e"),
        str(tmp_path / "ckpt_e"),
        key_col="user_id",
    )
    true = collections.Counter(u for _, u in rows)
    keys = spark.createDataFrame(
        [(u,) for u in true], "user_id long"
    )
    est = {
        r.key: r.cms_est
        for r in cms_estimate(cells, keys, "user_id").collect()
    }
    assert set(est) == set(true)
    for u, c in true.items():
        assert est[u] >= c
    # an absent key estimates via its (possibly empty) cells — never
    # negative, and 0 when all its cells are empty
    ghost = spark.createDataFrame([(999999,)], "user_id long")
    g = cms_estimate(cells, ghost, "user_id").collect()[0]
    assert g.cms_est >= 0


def test_redrain_same_checkpoint_is_noop(spark, tmp_path):
    src, _ = _stage(spark, tmp_path, 2)
    args = (
        spark,
        f"{src}/*",
        SCHEMA,
        str(tmp_path / "state_r"),
        str(tmp_path / "ckpt_r"),
    )
    first = {
        (r.j, r.bucket): r.cell
        for r in cms_drain(*args, key_col="user_id").collect()
    }
    again = {
        (r.j, r.bucket): r.cell
        for r in cms_drain(*args, key_col="user_id").collect()
    }
    assert first == again
