"""Warehouse builder: schema conformance, monthly partitioning with
pruning, deterministic rebuild, RI between facts and dims."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from automated_agro_climatic_data_warehouse_spark import schemas
from automated_agro_climatic_data_warehouse_spark.warehouse import (
    build_dim_crop,
    build_dim_location,
    build_fact_weather,
    write_warehouse,
)


def test_dim_schemas_conform(spark, sf_dir):
    loc = build_dim_location(spark, sf_dir)
    assert [f.name for f in schemas.DIM_LOCATION.fields] == loc.columns
    crop = build_dim_crop(spark)
    assert [f.name for f in schemas.DIM_CROP.fields] == crop.columns
    assert crop.count() == 5


def test_fact_weather_partitioned_write_and_pruning(spark, sf_dir):
    with tempfile.TemporaryDirectory() as d:
        counts = write_warehouse(spark, sf_dir, d)
        assert counts["fact_weather"] > 0 and counts["dim_date"] == 13149
        # every fact date resolves in dim_date (no silent join loss)
        fw_keys = spark.read.parquet(f"{d}/fact_weather").select("date_key")
        dd_keys = spark.read.parquet(f"{d}/dim_date").select("date_key")
        assert fw_keys.join(dd_keys, "date_key", "left_anti").count() == 0
        # monthly partition directories exist (reference RANGE partitions)
        years = [p for p in os.listdir(f"{d}/fact_weather") if p.startswith("year=")]
        assert len(years) >= 5
        months = os.listdir(f"{d}/fact_weather/{years[0]}")
        assert any(m.startswith("month=") for m in months)
        # a month predicate prunes partitions in the executed plan
        fw = spark.read.parquet(f"{d}/fact_weather")
        plan = (
            fw.filter((F.col("year") == 1996) & (F.col("month") == 6))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "PartitionFilters" in plan


def test_fact_weather_deterministic_and_keyed(spark, sf_dir):
    a = build_fact_weather(spark, sf_dir)
    b = build_fact_weather(spark, sf_dir).repartition(5)
    # (exceptAll over dropDuplicates trips INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND
    # in Spark 4.1 — compare materialized rows instead)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    dupes = a.groupBy("date_key", "location_key").count().filter("count > 1")
    assert dupes.count() == 0  # composite PK holds (reference :157)


def test_fact_dim_referential_integrity(spark, sf_dir):
    fw = build_fact_weather(spark, sf_dir)
    loc_keys = build_dim_location(spark, sf_dir).select("location_key")
    orphans = fw.join(loc_keys, "location_key", "left_anti").count()
    assert orphans == 0


def test_bucketed_tables_join_without_exchange(spark, sf_dir):
    """Tables bucketed on their join keys with equal bucket counts must
    join with NO exchange on either side — the write-once-shuffle-never
    path that makes repeated fact joins affordable at 100 TB."""
    from automated_agro_climatic_data_warehouse_spark.sources import load_table
    from automated_agro_climatic_data_warehouse_spark.warehouse import write_bucketed

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    write_bucketed(orders, "bkt_orders", ["o_orderkey"], num_buckets=8)
    write_bucketed(lineitem, "bkt_lineitem", ["l_orderkey"], num_buckets=8)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bkt_lineitem").join(
            spark.table("bkt_orders"),
            spark.table("bkt_lineitem").l_orderkey
            == spark.table("bkt_orders").o_orderkey,
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        # sanity: the join actually produces fact-sized output
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_groupby_without_exchange(spark, sf_dir):
    """Aggregation on the bucket key must also ride the disk layout
    (no exchange before the final agg) — the second shuffle the
    bucketed write amortizes besides the join."""
    from automated_agro_climatic_data_warehouse_spark.sources import load_table
    from automated_agro_climatic_data_warehouse_spark.warehouse import write_bucketed
    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    write_bucketed(orders, "bkt_orders_agg", ["o_orderkey"], num_buckets=8)
    agg = (
        spark.table("bkt_orders_agg")
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, f"bucketed agg still shuffles:\n{plan}"
    assert agg.count() == orders.count()


def test_compact_parquet_dir_reduces_files_preserves_rows(spark, tmp_path):
    """Compaction must collapse a many-small-files table into few files
    with identical content, and keep partition pruning intact when
    partition columns are declared."""
    from automated_agro_climatic_data_warehouse_spark.warehouse import (
        compact_parquet_dir,
    )

    src = str(tmp_path / "t")
    df = spark.range(0, 10_000).selectExpr(
        "id", "id % 4 AS part", "CAST(id AS DOUBLE) AS v"
    )
    # 64 tiny files — the post-micro-batch shape
    df.repartition(64).write.partitionBy("part").parquet(src)
    before = spark.read.parquet(src)
    n_before = before.count()
    chk = before.agg({"v": "sum"}).collect()[0][0]

    stats = compact_parquet_dir(
        spark, src, target_file_bytes=50 * 1024 * 1024,
        partition_cols=["part"],
    )
    assert stats["files_after"] < stats["files_before"]

    after = spark.read.parquet(src)
    assert after.count() == n_before
    assert after.agg({"v": "sum"}).collect()[0][0] == chk
    # partition pruning must survive: a part filter reads one directory
    plan = (
        after.filter("part = 2")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [" in plan


def test_compact_recovers_from_crashed_prior_run(spark, tmp_path):
    """Leftover .old / .compact dirs from a crashed compaction must not
    fail the next run: a mid-swap crash (table dir missing, .old holds
    the data) restores .old; stale leftovers are discarded."""
    import os

    from automated_agro_climatic_data_warehouse_spark.warehouse import compact_parquet_dir

    path = str(tmp_path / "t")
    spark.range(100).write.parquet(path)
    # stale leftovers from a "crashed" previous run
    os.makedirs(path + ".compact")
    os.makedirs(path + ".old")
    stats = compact_parquet_dir(spark, path)
    assert stats["files_after"] >= 1
    assert spark.read.parquet(path).count() == 100
    assert not os.path.exists(path + ".old")
    assert not os.path.exists(path + ".compact")

    # mid-swap crash: table dir gone, .old holds the complete table
    os.rename(path, path + ".old")
    stats = compact_parquet_dir(spark, path)
    assert spark.read.parquet(path).count() == 100


def test_write_warehouse_counts_from_the_write_and_caller_job_group(spark, sf_dir):
    """The counts come from Observations inside the five concurrent
    write jobs; each must equal what is on disk, and every job those
    threads launch must carry the caller's job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    with tempfile.TemporaryDirectory() as d:
        try:
            sc.setJobGroup("write_warehouse_caller", "counts test: write")
            counts = write_warehouse(spark, sf_dir, d)
            sc.setJobGroup("write_warehouse_readback", "counts test: read back")
            on_disk = {t: spark.read.parquet(f"{d}/{t}").count() for t in counts}
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    assert set(counts) == {
        "dim_location", "dim_crop", "dim_soil", "dim_date", "fact_weather"
    }
    assert counts == on_disk
    # at least one write job per table, and none escaped the group
    assert len(tracker.getJobIdsForGroup("write_warehouse_caller")) >= len(counts)
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped_before
