"""`session.local_frame`: the one way the engine turns driver-local rows
into a DataFrame. It must read back exactly what the list path
(`createDataFrame(<python list>)`) produces, and no engine module may
bypass it."""

from __future__ import annotations

import datetime as dt
import pathlib
import re

from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

import automated_agro_climatic_data_warehouse_spark as pkg
from automated_agro_climatic_data_warehouse_spark.session import local_frame


def _same(spark, rows, schema):
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    return got


def test_scalar_types_and_nulls_match_list_path(spark):
    schema = (
        "k long, i int, v double, s string, b boolean, d date, ts timestamp"
    )
    rows = [
        (1, 7, 1.5, "a", True, dt.date(2024, 2, 29),
         dt.datetime(2024, 2, 29, 23, 59, 59, 123456)),
        (2, None, None, None, None, None, None),
        (None, -3, -0.25, "", False, dt.date(1970, 1, 1),
         dt.datetime(1970, 1, 1, 0, 0, 0)),
    ]
    got = _same(spark, rows, schema)
    # naive datetimes are UTC wall time in the UTC-pinned session
    assert got.selectExpr("CAST(ts AS STRING) AS t").first().t == (
        "2024-02-29 23:59:59.123456"
    )


def test_array_of_strings_matches_list_path(spark):
    """dim_crop.source_urls shape, including an empty and a NULL array."""
    _same(
        spark,
        [(1, ["https://a", "https://b"]), (2, []), (3, None)],
        "k long, source_urls array<string>",
    )


def test_zero_rows_keep_schema(spark):
    got = _same(spark, [], "k long, s string, ts timestamp, a array<string>")
    assert got.count() == 0


def test_struct_type_schema(spark):
    schema = StructType(
        [
            StructField("k", LongType(), False),
            StructField("tags", ArrayType(StringType()), True),
        ]
    )
    got = _same(spark, [(1, ["x"]), (2, None)], schema)
    assert got.schema == schema
    assert _same(spark, [], schema).count() == 0


def test_plan_is_a_local_scan(spark):
    """No pickled PythonRDD behind the frame: the plan is a JVM-local
    relation, so jobs over it need no Python worker."""
    plan = (
        local_frame(spark, [("a", 1.0)], "s string, v double")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_engine_builds_local_rows_only_through_local_frame():
    """Scan the package source: `createDataFrame(` is called only inside
    `local_frame` itself (on an Arrow table)."""
    root = pathlib.Path(pkg.__file__).parent
    calls = []
    for path in sorted(root.rglob("*.py")):
        for n, line in enumerate(path.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            if re.search(r"\.createDataFrame\(", code):
                calls.append((str(path.relative_to(root)), n, line.strip()))
    assert [(f, code) for f, _, code in calls] == [
        ("session.py", "return spark.createDataFrame(table, schema=struct)")
    ], calls
