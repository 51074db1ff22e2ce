"""Testdata schema drift gate (sources/readers.py).

Round 2 lost the whole bench + 23 tests to a silent driver-side testdata
regeneration (events.ts TIMESTAMP(NANOS) → TIMESTAMP(MICROS)). The gate
pins each table's physical parquet schema and must turn any future drift
into ONE clear load-time error naming the drifted column.
"""

from __future__ import annotations

import pytest

from automated_agro_climatic_data_warehouse_spark.sources import readers

SF_DIR = "/root/testdata/sf0.001"


def test_current_testdata_passes_gate():
    for name in readers.TABLES:
        readers._assert_testdata_schema(SF_DIR, name)


def test_gate_caches_per_table():
    readers._assert_testdata_schema(SF_DIR, "region")
    assert (SF_DIR, "region") in readers._SCHEMA_CHECKED


def test_drifted_dtype_raises_one_clear_error(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    # events with ts as plain int32 — neither historical encoding
    bad = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([1], pa.int32()),
            "user_id": pa.array([1], pa.int64()),
            "event_type": pa.array(["click"], pa.string()),
            "value": pa.array([1.0], pa.float64()),
            "props": pa.array(["{}"], pa.string()),
        }
    )
    pq.write_table(bad, tmp_path / "events.parquet")
    with pytest.raises(RuntimeError, match="testdata drifted.*'ts'"):
        readers._assert_testdata_schema(str(tmp_path), "events")


def test_missing_and_extra_columns_reported(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    bad = pa.table(
        {
            "r_regionkey": pa.array([1], pa.int32()),
            "r_shinynew": pa.array(["x"], pa.string()),
        }
    )
    pq.write_table(bad, tmp_path / "region.parquet")
    with pytest.raises(RuntimeError) as exc:
        readers._assert_testdata_schema(str(tmp_path), "region")
    msg = str(exc.value)
    assert "'r_name' missing" in msg
    assert "r_shinynew" in msg


def test_events_loads_as_timestamp(spark):
    """Whatever the parquet encoding, load_table must hand consumers a
    TimestampType `ts` (instant semantics — unix_micros must resolve)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType

    df = readers.load_table(spark, SF_DIR, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    # analysis-time check: instant functions accept the column
    df.select(F.unix_micros("ts")).limit(1).collect()


def test_every_ns_allowed_column_is_normalized():
    """r3 ADVICE: a column the gate accepts as timestamp[ns] but the
    loader does not normalize would silently load as epoch-ns LongType
    after a driver regeneration (order-dependent on the session-wide
    nanosAsLong conf). Pin the sync between the allow-list and the
    normalization map."""
    for table, cols in readers.EXPECTED_SCHEMAS.items():
        for col, allowed in cols.items():
            if "timestamp[ns]" in allowed:
                assert col in readers._NS_NORMALIZED_COLS.get(table, ()), (
                    f"{table}.{col} accepts timestamp[ns] but load_table "
                    "does not normalize it"
                )


def test_ns_encoded_table_loads_as_timestamp(spark, tmp_path):
    """A nanosecond-encoded orders regeneration must come back as a
    timestamp column (floor-converted), never a raw long."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType

    t = pa.table(
        {
            "o_orderkey": pa.array([1], pa.int64()),
            "o_custkey": pa.array([1], pa.int64()),
            "o_orderstatus": pa.array(["O"], pa.string()),
            "o_totalprice": pa.array([1.0], pa.float64()),
            "o_orderdate": pa.array([1704067200123456789], pa.timestamp("ns")),
            "o_orderpriority": pa.array(["1-URGENT"], pa.string()),
        }
    )
    pq.write_table(t, tmp_path / "orders.parquet")
    df = readers.load_table(spark, str(tmp_path), "orders")
    assert not isinstance(df.schema["o_orderdate"].dataType, LongType)
    from pyspark.sql import functions as F

    [row] = df.select(
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("d")
    ).collect()
    assert row.d == "2024-01-01 00:00:00.123456"


def test_rewritten_table_is_rescanned(spark, tmp_path):
    """The lazy-frame cache and the gate are keyed on the file's stamp:
    a table rewritten in place must come back with its new rows (a plan
    built over the old file reads the new one with the old file length,
    and returned 0 rows here), and a drifted rewrite must meet the gate
    again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "region.parquet"

    def write(keys, key_type=pa.int32()):
        names = pa.array([f"region {k}" for k in keys], pa.string())
        pq.write_table(
            pa.table({"r_regionkey": pa.array(keys, key_type), "r_name": names}),
            path,
        )

    write([1, 2])
    first = readers.load_table(spark, str(tmp_path), "region")
    assert first.count() == 2
    assert readers.load_table(spark, str(tmp_path), "region") is first
    write(list(range(5000)))
    assert readers.load_table(spark, str(tmp_path), "region").count() == 5000
    write([1], pa.int64())
    with pytest.raises(RuntimeError, match="testdata drifted.*'r_regionkey'"):
        readers.load_table(spark, str(tmp_path), "region")
