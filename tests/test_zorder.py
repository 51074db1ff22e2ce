"""Z-order clustering: interleave correctness + measurable pruning win.

The pruning test is the point: lay the same 2-D data out (a) sorted by x
only and (b) z-ordered on (x, y), then measure each file's per-column
value ranges. Single-column sort leaves y's per-file span at ~the full
domain (filters on y read every file); z-order must shrink BOTH spans —
that shrink IS the min/max row-group pruning a 100 TB scan relies on.
"""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from automated_agro_climatic_data_warehouse_spark.functions.zorder import (
    normalize_rank,
    write_zordered,
    zvalue,
)


def _py_zvalue(vals: list[int], bits: int) -> int:
    z = 0
    for b in range(bits - 1, -1, -1):
        for v in vals:
            z = (z << 1) | ((v >> b) & 1)
    return z


def test_zvalue_matches_python_reference(spark):
    rows = [(0, 0), (1, 2), (3, 3), (5, 9), (15, 7), (13, 14)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", zvalue([F.col("x"), F.col("y")], bits=4).alias("z")
        ).collect()
    }
    for x, y in rows:
        assert got[(x, y)] == _py_zvalue([x, y], 4), (x, y)


def test_zvalue_preserves_locality_order(spark):
    # z-values of the 4 quadrant corners of a 2-bit space sort by quadrant
    df = spark.createDataFrame(
        [(0, 0), (0, 1), (1, 0), (1, 1)], "qx long, qy long"
    )
    z = {
        (r["qx"], r["qy"]): r["z"]
        for r in df.select(
            "qx", "qy", zvalue([F.col("qx"), F.col("qy")], bits=1).alias("z")
        ).collect()
    }
    assert sorted(z.values()) == [0, 1, 2, 3]


def test_normalize_rank_clamps_and_scales(spark):
    df = spark.createDataFrame([(0.0,), (50.0,), (100.0,), (120.0,)], "v double")
    got = [
        r["r"]
        for r in df.select(
            normalize_rank(F.col("v"), 0.0, 100.0, bits=8).alias("r")
        ).collect()
    ]
    assert got[0] == 0 and got[2] == 255 and got[3] == 255
    assert 120 <= got[1] <= 135  # mid-scale


def _file_spans(spark, path: str, col: str) -> list[int]:
    df = spark.read.parquet(path).withColumn("__f", F.input_file_name())
    rows = (
        df.groupBy("__f")
        .agg((F.max(col) - F.min(col)).alias("span"))
        .collect()
    )
    return [r["span"] for r in rows]


def test_zorder_shrinks_per_file_spans(spark, tmp_path):
    n, side = 20_000, 1 << 7
    base = (
        spark.range(n)
        .select(
            (F.xxhash64("id").bitwiseAND(F.lit(side - 1))).alias("x"),
            (
                F.xxhash64("id", F.lit(1)).bitwiseAND(F.lit(side - 1))
            ).alias("y"),
        )
    )
    naive = f"{tmp_path}/naive"
    zpath = f"{tmp_path}/zorder"
    (
        base.repartitionByRange(8, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(naive)
    )
    write_zordered(
        base,
        zpath,
        ["x", "y"],
        bounds={"x": (0, side - 1), "y": (0, side - 1)},
        bits=7,
    )
    assert len(glob.glob(f"{zpath}/part-*")) > 1

    naive_y = sum(_file_spans(spark, naive, "y")) / 8
    z_x = sum(_file_spans(spark, zpath, "x")) / 8
    z_y = sum(_file_spans(spark, zpath, "y")) / 8
    # x-sorted layout leaves y unclustered: per-file y span ~ full domain
    assert naive_y > side * 0.9
    # z-order clusters BOTH dims well below the full domain.
    # Thresholds carry margin over measured spans (z_x ~42-48,
    # z_y ~73-77 across runs): repartitionByRange SAMPLES its
    # boundaries, so per-file spans jitter a few percent run-to-run —
    # 0.6x once flaked against a 77.0 observation at the 76.8 line.
    assert z_x < side * 0.6, f"z-order x span {z_x}"
    assert z_y < side * 0.75, f"z-order y span {z_y}"
    # and y must still beat the single-dim layout decisively
    assert z_y < naive_y * 0.85, f"z_y {z_y} vs naive_y {naive_y}"
