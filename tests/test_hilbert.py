"""Hilbert-curve layout: recurrence correctness (bijection + unit-step
adjacency, exhaustive), Spark-chain ≡ Python-reference equality, and the
clustering-quality pin (Hilbert bounding boxes ≤ Z-order's).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from automated_agro_climatic_data_warehouse_spark.functions.hilbert import (
    with_hilbert,
    xy2d_py,
)
from automated_agro_climatic_data_warehouse_spark.plans import QUERIES


def test_xy2d_bijection_and_adjacency_exhaustive():
    """The defining Hilbert properties on the full 16x16 grid: every
    cell gets a distinct index (bijection) and consecutive indexes are
    Manhattan-adjacent cells (no jumps — the property Z-order lacks)."""
    bits = 4
    n = 1 << bits
    inv = {}
    for x in range(n):
        for y in range(n):
            d = xy2d_py(bits, x, y)
            assert 0 <= d < n * n
            assert d not in inv
            inv[d] = (x, y)
    for d in range(1, n * n):
        (x0, y0), (x1, y1) = inv[d - 1], inv[d]
        assert abs(x0 - x1) + abs(y0 - y1) == 1


def test_spark_chain_matches_python_reference(spark):
    """The unrolled projection chain computes the identical index to
    the per-bit Python loop (bits=10, deterministic scatter of 500
    points including grid corners)."""
    bits = 10
    pts = [(i * 37 % 1024, i * 101 % 1024) for i in range(496)]
    pts += [(0, 0), (1023, 0), (0, 1023), (1023, 1023)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r.x, r.y): r.hval
        for r in with_hilbert(df, "x", "y", bits).collect()
    }
    for x, y in pts:
        assert got[(x, y)] == xy2d_py(bits, x, y)


def test_hilbert_beats_zorder_on_bbox_area(spark, sf_dir):
    """The reason the operator exists: contiguous Hilbert ranges cover
    tighter (x, y) bounding boxes than contiguous Z-order ranges on the
    same data, so min/max pruning skips more. Total AND worst-case box
    area must not regress vs Z-order; row counts must reconcile."""
    rows = {
        r.curve: r
        for r in QUERIES["layout_hilbert_vs_zorder"].spark_fn(spark, sf_dir).collect()
    }
    h, z = rows["hilbert"], rows["zorder"]
    assert h.n_rows == z.n_rows > 0
    assert h.sum_bbox_area <= z.sum_bbox_area
    assert h.max_bbox_area <= z.max_bbox_area


def test_hilbert_plan_is_one_codegen_scan(spark, sf_dir):
    """Plan hygiene: the 10-level recurrence stays pure column
    arithmetic — no Python evaluation node — and the audit reads the
    events scan once (stack() fans out rows; it must not duplicate the
    scan)."""
    df = QUERIES["layout_hilbert_vs_zorder"].spark_fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert plan.count("FileScan parquet") <= 2  # events + broadcast anchor


def test_with_hilbert_rejects_braced_column_names(spark):
    """`{` / `}` in a column name would reach the `{src}`-bound SQL
    template as a format field; the boundary rejects them before any
    SQL is built, for the input columns and the output name alike."""
    import pytest

    df = spark.range(4).selectExpr("id AS x", "id AS y", "id AS `a{b}`")
    for args in (("a{b}", "y", "h"), ("x", "c}", "h"), ("x", "y", "{src}")):
        with pytest.raises(ValueError, match="contain"):
            with_hilbert(df, args[0], args[1], 4, out=args[2])
    # plain names still work on the same frame
    assert with_hilbert(df, "x", "y", 4).count() == 4
