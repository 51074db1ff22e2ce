"""Snapshot differencing (change-data-capture at rest).

The reference ingests full API snapshots and upserts them
(etl/load/postgres_loader.py:65-176) — it never *knows* what changed.
Snapshot diff recovers the change set explicitly: given yesterday's and
today's table states, emit insert/update/delete rows. That change set is
what feeds SCD2 (operators/scd2.py) precisely, drives partition-selective
rewrites (only months containing changes), and makes downstream
incremental consumers possible.

Plan shape: ONE full outer join on the natural key — both snapshots
shuffle once on a uniform key. Update detection compares a single md5
row-hash of the non-key columns (computed map-side) instead of N
column-wise comparisons; nulls are sentinel-encoded so NULL→value
transitions are visible. At 100 TB both sides co-partition; if snapshots
are stored bucketed by the key, the shuffle disappears entirely.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_NULL_SENTINEL = "\x00null\x00"


def row_fingerprint(cols: Sequence[str], backend: str = "md5") -> Column:
    """Row fingerprint over columns (null-sentinel-encoded,
    unit-separator-joined — Spark's native hash fns fold NULLs in a way
    that lets (null,'a') collide with ('a',null), so the sentinel encode
    is kept for BOTH backends). backend="md5" is the parity path with the
    DuckDB twin md5(concat_ws(chr(31), coalesce(CAST(c AS VARCHAR),
    chr(0)||'null'||chr(0)), ...)); backend="xxhash64" is the production
    path (native, whole-stage-codegen, no hex string materialized) with
    no oracle twin — same switch as the dedup family
    (operators/dedup.py docstring)."""
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit(_NULL_SENTINEL)) for c in cols
    ]
    joined = F.concat_ws("\x1f", *parts)
    if backend == "md5":
        return F.md5(joined)
    if backend == "xxhash64":
        return F.xxhash64(joined)
    raise ValueError(f"unknown fingerprint backend: {backend!r}")


def ROW_FINGERPRINT_SQL(cols: Sequence[str]) -> str:
    parts = ", ".join(
        f"coalesce(CAST({c} AS VARCHAR), chr(0) || 'null' || chr(0))" for c in cols
    )
    return f"md5(concat_ws(chr(31), {parts}))"


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    backend: str = "md5",
) -> DataFrame:
    """Change set between two snapshots: key columns + `change_type`
    ('insert' | 'update' | 'delete'). Unchanged rows are dropped.
    `backend` picks the fingerprint hash (see row_fingerprint)."""
    keys = list(keys)
    value_cols = [c for c in new.columns if c not in keys]
    o = old.select(*keys, row_fingerprint(value_cols, backend).alias("__old_fp"))
    n = new.select(*keys, row_fingerprint(value_cols, backend).alias("__new_fp"))
    joined = o.join(n, keys, "full_outer")
    change = (
        F.when(F.col("__old_fp").isNull(), F.lit("insert"))
        .when(F.col("__new_fp").isNull(), F.lit("delete"))
        .when(F.col("__old_fp") != F.col("__new_fp"), F.lit("update"))
    )
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(*keys, "change_type")
    )


def changelog_latest(changelog: DataFrame) -> DataFrame:
    """Per-`k` LAST operation of a `seq`-ordered I/U/D changelog — the
    row_number-over-seq-DESC window every CDC consumer runs before
    applying (the S11 upsert discipline extended with an op column).
    `seq` must be unique per key (the standard CDC-log contract: LSN /
    binlog position / Kafka offset); given that, per-key argmax-by-seq
    is a SEMILATTICE — latest(A ∪ B) = latest(latest(A) ∪ B) — so the
    reduction is associative, commutative and idempotent, and any
    micro-batch partitioning of the log reaches the bit-identical
    state (the streaming drain's stream ≡ batch pin,
    streaming/cdc_apply.py). Cost: one window over the CHANGELOG
    (changelog-sized, never base-sized)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    wlast = W.partitionBy("k").orderBy(F.desc("seq"))
    return (
        changelog.withColumn("__rn", F.row_number().over(wlast))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def apply_latest(base: DataFrame, latest: DataFrame) -> DataFrame:
    """Apply a per-key-latest changelog frame (k, op, price) onto a
    (o_orderkey, o_totalprice) base snapshot: untouched base rows carry through (anti-
    join), deletes drop, inserts/updates survive with provenance.
    Shared by the batch query (cdc_apply_changelog) and the streaming
    drain's readout so 'apply' is one definition. Two uniform-key
    shuffles; base scanned once."""
    from pyspark.sql import functions as F

    untouched = base.join(
        latest.select("k"),
        base["o_orderkey"] == F.col("k"),
        "left_anti",
    ).select(
        F.col("o_orderkey"),
        F.col("o_totalprice"),
        F.lit("kept").alias("provenance"),
    )
    applied = latest.filter(F.col("op") != "D").select(
        F.col("k").alias("o_orderkey"),
        F.col("price").alias("o_totalprice"),
        F.when(F.col("op") == "I", "inserted")
        .otherwise("updated")
        .alias("provenance"),
    )
    return untouched.unionByName(applied)
