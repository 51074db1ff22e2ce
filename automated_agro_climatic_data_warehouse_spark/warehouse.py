"""Star-schema warehouse builder (SURVEY §1.1 + §3.2's Spark rebuild
shape): derive the full agro warehouse from testdata deterministically,
write it as partitioned parquet, and expose readers.

This is the reference's load path re-expressed set-based:
- dim_location: md5 natural-key hashed coordinates, SCD2 columns
  (reference etl/load/postgres_loader.py:19-63 row-loop → one projection)
- dim_crop: the default crop list with requirement ranges
- fact_weather: daily series per location, PARTITIONED BY (year, month) —
  the parquet equivalent of the reference's PG RANGE partitions
  (db/init/01-schema.sql:158-181); readers get dynamic partition pruning
- fact_soil + dim_soil: point-in-time soil state

All attribute values derive from key arithmetic → any run at any
parallelism produces byte-identical tables.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .functions import keys as K
from .plans.suitability import CROPS
from .session import local_frame
from .sources import load_table
from .sources.date_dim import date_dimension


def build_dim_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    lat = (F.col("c_custkey") % 17000).cast("double") / 100.0 - 85.0
    lon = (F.col("c_custkey") % 35000).cast("double") / 100.0 - 175.0
    return c.select(
        F.col("c_custkey").alias("location_key"),
        K.location_hash(lat, lon).alias("location_hash"),
        lat.alias("latitude"),
        lon.alias("longitude"),
        F.col("c_mktsegment").alias("region_name"),
        F.lit("US").alias("country_code"),
        F.lit("2024-01-01").cast("date").alias("effective_date"),
        F.lit(None).cast("date").alias("expiration_date"),
        F.lit(True).alias("is_current"),
    )


def build_dim_crop(spark: SparkSession) -> DataFrame:
    rows = [
        (i + 1, c, tlo, thi, (wlo + whi) / 2.0, 6.0 + i, plo, phi, 0.95,
         [f"https://landing.example/{c}"])
        for i, (c, tlo, thi, wlo, whi, plo, phi) in enumerate(CROPS)
    ]
    return local_frame(
        spark,
        rows,
        "crop_key long, crop_name string, optimal_temp_min_c double, "
        "optimal_temp_max_c double, water_requirement_mm_day double, "
        "sunlight_hours double, soil_ph_preference_min double, "
        "soil_ph_preference_max double, extraction_confidence double, "
        "source_urls array<string>",
    )


def build_dim_soil(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    clay = (F.col("s_suppkey") % 45 + 5).cast("double")
    sand = (F.col("s_suppkey") % 35 + 10).cast("double")
    silt = 100.0 - clay - sand
    from .functions.cleaning import usda_texture

    return s.select(
        F.col("s_suppkey").alias("soil_key"),
        (F.col("s_suppkey") % 100).alias("location_key"),
        F.lit("2024-03-01").cast("date").alias("extraction_date"),
        usda_texture(clay, sand, silt).alias("soil_texture"),
        clay.alias("clay_percent_0_5cm"),
        sand.alias("sand_percent_0_5cm"),
        silt.alias("silt_percent_0_5cm"),
        (4.5 + (F.col("s_suppkey") % 40).cast("double") / 10.0).alias(
            "ph_level_0_5cm"
        ),
        ((F.col("s_suppkey") % 30).cast("double")).alias("organic_carbon_0_5cm"),
        F.to_json(
            F.struct(
                F.lit("SoilGrids").alias("source"),
                F.col("s_suppkey").alias("entity_key"),
            )
        ).alias("metadata"),
    )


def build_fact_weather(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily weather rows: one per (order date, derived location) from
    orders — a dense multi-year time series with realistic seasonality
    from pure column math."""
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    loc = (F.col("o_custkey") % 100).alias("location_key")
    doy = F.dayofyear(d).cast("double")
    season = F.sin(doy / 365.0 * 2 * 3.141592653589793)
    tmax = 15.0 + 12.0 * season + (F.col("o_orderkey") % 7).cast("double")
    tmin = tmax - 8.0 - (F.col("o_orderkey") % 3).cast("double")
    return o.select(
        K.date_key(d).alias("date_key"),
        loc,
        tmax.alias("temp_max_c"),
        tmin.alias("temp_min_c"),
        ((tmax + tmin) / 2.0).alias("temp_mean_c"),
        ((F.col("o_orderkey") % 25).cast("double")).alias("precipitation_mm"),
        (40.0 + (F.col("o_orderkey") % 60).cast("double")).alias("humidity_percent"),
        ((F.col("o_orderkey") % 20).cast("double") / 2.0).alias("wind_speed_ms"),
        (F.col("o_orderkey") % 100).cast("int").alias("weather_code"),
        F.lit("build").alias("batch_id"),
        F.year(d).alias("year"),
        F.month(d).alias("month"),
    ).dropDuplicates(["date_key", "location_key"])


def write_warehouse(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, int]:
    """Materialize the full star schema. fact_weather is partitioned by
    (year, month) — the reference's monthly RANGE partitions
    (01-schema.sql:160-181) as parquet partition directories, giving
    readers dynamic partition pruning on date predicates.

    The returned row counts come from the write jobs themselves: each
    table carries an `Observation` count that fires inside its write, so
    no table is read back to be counted (statistics as a by-product of a
    materialization already paid for, Shark SIGMOD 2013). The five
    writes share no data, so they are submitted concurrently, one thread
    per table: most of them are small jobs whose cost is the driver-side
    scheduling floor, which overlaps across threads while the fact write
    keeps the cores busy. The threads inherit the caller's job group and
    tags (`inheritable_thread_target`), so tracing still attributes
    every job to the caller."""
    # the reference generates 2020-2030 (01-schema.sql:105); our facts carry
    # TPC-H-era dates, so the calendar spans both — a dim_date that doesn't
    # cover the fact range silently drops every row on the date join
    tables = {
        "dim_location": (build_dim_location(spark, sf_dir), ()),
        "dim_crop": (build_dim_crop(spark), ()),
        "dim_soil": (build_dim_soil(spark, sf_dir), ()),
        "dim_date": (date_dimension(spark, start="1995-01-01"), ()),
        "fact_weather": (build_fact_weather(spark, sf_dir), ("year", "month")),
    }

    @inheritable_thread_target(spark)
    def write(name: str) -> int:
        df, partition_cols = tables[name]
        obs = Observation()
        w = df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(f"{out_dir}/{name}")
        return obs.get["n"]

    with ThreadPoolExecutor(max_workers=len(tables)) as pool:
        futures = {name: pool.submit(write, name) for name in tables}
    return {name: f.result() for name, f in futures.items()}


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_keys: list[str],
    num_buckets: int = 32,
) -> None:
    """Persist a table BUCKETED by its join/agg key — the co-located-join
    path: two tables bucketed on their join keys with the same bucket
    count join with NO exchange on either side (the shuffle happened once
    at write time and is amortized over every later read). This is the
    parquet analog of the reference keeping everything keyed in Postgres;
    at 100 TB it is the difference between re-shuffling a fact table per
    query and never shuffling it again.

    Registered through the session catalog (saveAsTable) because bucket
    metadata lives in the catalog, not in the parquet files.

    The local in-memory catalog forgets tables across sessions while the
    warehouse dir persists, so a stale location blocks `overwrite`; drop
    both before writing. (A production Hive/Glue catalog remembers the
    table and plain overwrite suffices.)"""
    import shutil

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/{table}", ignore_errors=True)
    df.write.mode("overwrite").format("parquet").bucketBy(
        num_buckets, *bucket_keys
    ).saveAsTable(table)


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_cols: list[str] | None = None,
) -> dict[str, int]:
    """Small-file compaction: rewrite a parquet directory so files
    bin-pack to ~`target_file_bytes` each. The 100 TB maintenance job
    streaming/incremental sinks require — every availableNow micro-batch
    and every upsert rewrite leaves files sized by batch cadence, not by
    read efficiency, and scan throughput dies by a thousand 2 MB files
    (driver-side listing, per-file open cost, undersized row groups).

    Sizing comes from the files already on disk (sum of file lengths /
    target, never a collect of data); partitioned tables re-write with
    the SAME partition columns so pruning survives compaction. Returns
    {"files_before": n, "files_after": m}.

    Atomicity note: local parquet has no transaction log, so the rewrite
    lands in `path + ".compact"` and is swapped in with two renames — on
    a real deployment this is the table format's (Iceberg/Delta) rewrite
    action and the swap is a metadata commit. Crash recovery: a leftover
    `.old` from a run that died mid-swap still holds the complete
    pre-compaction table, so on startup it is restored if the table dir
    is missing, else discarded; a leftover `.compact` is always stale
    output and removed before rewriting (previously either leftover made
    the rename fail AFTER the expensive rewrite had already run).
    """
    import glob as _glob
    import os
    import shutil

    tmp = path.rstrip("/") + ".compact"
    old = path.rstrip("/") + ".old"
    if os.path.exists(old):
        if os.path.exists(path):
            shutil.rmtree(old)  # prior run died after the second rename
        else:
            os.rename(old, path)  # prior run died between the renames
    if os.path.exists(tmp):
        shutil.rmtree(tmp)  # stale output of a crashed rewrite
    files = [
        f
        for f in _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if os.path.isfile(f)
    ]
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total_bytes // target_file_bytes))  # ceil
    df = spark.read.parquet(path)
    if partition_cols:
        # one file per (partition, slot): repartition by the partition
        # columns so each output partition directory gets dense files
        writer = (
            df.repartition(int(n_out), *partition_cols)
            .write.mode("overwrite")
            .partitionBy(*partition_cols)
        )
    else:
        writer = df.repartition(int(n_out)).write.mode("overwrite")
    writer.parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    after = [
        f
        for f in _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if os.path.isfile(f)
    ]
    return {"files_before": len(files), "files_after": len(after)}
