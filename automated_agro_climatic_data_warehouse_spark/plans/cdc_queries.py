"""CDC / snapshot-diff queries (extension: recover explicit change sets
from the reference's snapshot-upsert world — the input SCD2 and
incremental consumers actually want).

Synthetic "today" snapshot derived deterministically from orders:
- every 500th order re-keyed to -(key+1) → inserts (and deletes of
  the original keys; strictly-negative keys are disjoint from the
  0..6M·sf key space at ANY scale factor, unlike a fixed additive
  offset — and unlike plain negation, which is a no-op for key 0)
- every 7th order's totalprice bumped     → updates
- everything else unchanged               → absent from the diff
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc import ROW_FINGERPRINT_SQL, snapshot_diff
from ..operators.dedup import dedup_hash_backend
from ..session import materialize
from ..sources import load_table
from .registry import query

_VALUE_COLS = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
               "o_orderpriority"]

_NEW_SNAPSHOT_SQL = """
      SELECT CASE WHEN o_orderkey % 500 = 0 THEN -(o_orderkey + 1)
                  ELSE o_orderkey END AS o_orderkey,
             o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM read_parquet('{sf}/orders.parquet')
"""


def _new_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        F.when(F.col("o_orderkey") % 500 == 0, -(F.col("o_orderkey") + 1))
        .otherwise(F.col("o_orderkey"))
        .alias("o_orderkey"),
        "o_custkey",
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 10.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )


_FP = ROW_FINGERPRINT_SQL(_VALUE_COLS)

_CDC_ORACLE = f"""
    WITH old AS (
      SELECT o_orderkey, {_FP} AS old_fp
      FROM read_parquet('{{sf}}/orders.parquet')
    ), new AS (
      SELECT o_orderkey, {_FP} AS new_fp
      FROM ({_NEW_SNAPSHOT_SQL.strip()})
    )
    SELECT coalesce(old.o_orderkey, new.o_orderkey) AS o_orderkey,
           CASE WHEN old.old_fp IS NULL THEN 'insert'
                WHEN new.new_fp IS NULL THEN 'delete'
                WHEN old.old_fp <> new.new_fp THEN 'update' END AS change_type
    FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
    WHERE (old.old_fp IS NULL OR new.new_fp IS NULL OR old.old_fp <> new.new_fp)
    """


@query("cdc_snapshot_diff", oracle=_CDC_ORACLE, tags=("cdc", "J7", "S11"))
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit change set between two snapshots (operators/cdc.py): one
    full-outer join on the key, update detection via a single map-side
    row fingerprint. Feeds SCD2 and partition-selective rewrites.
    Fingerprint backend: same SPARK_GRAFT_DEDUP_HASH switch as the dedup
    family — md5 (default, oracle parity) or xxhash64 (production)."""
    backend = dedup_hash_backend()
    old = load_table(spark, sf_dir, "orders")
    new = _new_snapshot(spark, sf_dir)
    return snapshot_diff(old, new, keys=["o_orderkey"], backend=backend)


@query(
    "mv_incremental_refresh",
    oracle=f"""
    SELECT o_custkey,
           count(*) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 6)
             AS total_price
    FROM ({_NEW_SNAPSHOT_SQL.strip()})
    GROUP BY o_custkey
    """,
    tags=("cdc", "S15", "incremental"),
)
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL materialized-view maintenance: the per-customer
    order-count/revenue MV is NOT recomputed from the new snapshot —
    it is the OLD MV plus a delta aggregation derived purely from the
    CDC change set (insert adds the new row's contribution, delete
    subtracts the old row's, update contributes the difference), with
    zero-count groups dropped. The oracle IS the full recompute over the
    new snapshot, so parity proves incremental ≡ full — the contract
    that lets a 100 TB warehouse refresh an MV from a day's changes
    instead of re-scanning history. Work scales with |delta|, not
    |table|: one shuffle over the change rows + a key-join against the
    (much larger) MV."""
    from ..functions import dsum

    old = load_table(spark, sf_dir, "orders")
    new = _new_snapshot(spark, sf_dir)

    mv_old = old.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total_price"),
    )

    # change rows with their old/new attributes (keyed diff, same
    # fingerprint shape as snapshot_diff but carrying values)
    o = old.select(
        "o_orderkey",
        F.col("o_custkey").alias("old_cust"),
        F.col("o_totalprice").alias("old_price"),
    )
    n = new.select(
        "o_orderkey",
        F.col("o_custkey").alias("new_cust"),
        F.col("o_totalprice").alias("new_price"),
    )
    diff = o.join(n, "o_orderkey", "full_outer").filter(
        F.col("old_cust").isNull()
        | F.col("new_cust").isNull()
        | (F.col("old_price") != F.col("new_price"))
        | (F.col("old_cust") != F.col("new_cust"))
    )
    # per-customer delta: subtract old contributions, add new ones
    minus = diff.filter(F.col("old_cust").isNotNull()).select(
        F.col("old_cust").alias("o_custkey"),
        F.lit(-1).alias("dn"),
        (-F.col("old_price")).alias("dp"),
    )
    plus = diff.filter(F.col("new_cust").isNotNull()).select(
        F.col("new_cust").alias("o_custkey"),
        F.lit(1).alias("dn"),
        F.col("new_price").alias("dp"),
    )
    delta = (
        minus.unionByName(plus)
        .groupBy("o_custkey")
        .agg(F.sum("dn").alias("dn"), dsum("dp").alias("dp"))
    )

    return (
        mv_old.join(delta, "o_custkey", "full_outer")
        .select(
            "o_custkey",
            (F.coalesce(F.col("n_orders"), F.lit(0)) + F.coalesce("dn", F.lit(0)))
            .alias("n_orders"),
            F.round(
                F.coalesce(F.col("total_price"), F.lit(0.0))
                + F.coalesce("dp", F.lit(0.0)),
                6,
            ).alias("total_price"),
        )
        .filter(F.col("n_orders") > 0)
    )


_CHANGELOG_SQL = """
      SELECT 1 AS seq, 'U' AS op, o_orderkey AS k,
             o_totalprice + 10.0 AS price
      FROM read_parquet('{sf}/orders.parquet') WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT 2, 'D', o_orderkey, CAST(NULL AS DOUBLE)
      FROM read_parquet('{sf}/orders.parquet') WHERE o_orderkey % 500 = 0
      UNION ALL
      SELECT 3, 'I', -(o_orderkey + 1), o_totalprice
      FROM read_parquet('{sf}/orders.parquet') WHERE o_orderkey % 500 = 0
      UNION ALL
      SELECT 4, 'U', o_orderkey, o_totalprice + 20.0
      FROM read_parquet('{sf}/orders.parquet') WHERE o_orderkey % 21 = 0
"""


@query(
    "cdc_apply_changelog",
    oracle=f"""
    WITH changelog AS ({_CHANGELOG_SQL}
    ), latest AS (
      SELECT k, op, price FROM (
        SELECT k, op, price,
               row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        FROM changelog) WHERE rn = 1
    ), untouched AS (
      SELECT o.o_orderkey AS k, o.o_totalprice AS price
      FROM read_parquet('{{sf}}/orders.parquet') o
      WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.k = o.o_orderkey)
    )
    SELECT k AS o_orderkey, price AS o_totalprice, 'kept' AS provenance
    FROM untouched
    UNION ALL
    SELECT k, price,
           CASE op WHEN 'I' THEN 'inserted' ELSE 'updated' END
    FROM latest WHERE op <> 'D'
    """,
    tags=("cdc", "changelog", "merge"),
)
def cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered I/U/D changelog APPLICATION — the consumer side of CDC
    (cdc_snapshot_diff produces change sets; this replays one onto a
    base snapshot), with the two semantics plain upsert lacks: DELETES
    remove rows, and multiple operations on one key resolve by
    changelog ORDER (seq), not arrival luck. The synthetic log stacks
    four deterministic waves — update, delete, insert-as-new-key, and
    a second update overriding the first on overlapping keys — so the
    per-key last-writer window (row_number over seq DESC, the S11
    upsert discipline extended with an op column) is genuinely
    exercised. Apply = that window on the changelog (changelog-sized,
    never base-sized) + one anti-join to carry untouched base rows +
    a union of surviving latest ops: two uniform-key shuffles total,
    base scanned once. Provenance column makes the applied action
    auditable row-by-row."""
    # materialize the 2-column base once: the four wave filters plus
    # the untouched branch are five independent plan subtrees, and
    # Spark shares no cross-branch scans — without this checkpoint the
    # parquet is read five times (the docstring's one-scan cost claim
    # would be false)
    o = materialize(
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice"),
        "cdc_apply_changelog.o",
    )
    waves = [
        (1, "U", F.col("o_orderkey") % 7 == 0,
         F.col("o_totalprice") + 10.0),
        (2, "D", F.col("o_orderkey") % 500 == 0,
         F.lit(None).cast("double")),
        (3, "I", F.col("o_orderkey") % 500 == 0, F.col("o_totalprice")),
        (4, "U", F.col("o_orderkey") % 21 == 0,
         F.col("o_totalprice") + 20.0),
    ]
    parts = []
    for seq, op, cond, price in waves:
        key = (
            -(F.col("o_orderkey") + 1) if op == "I" else F.col("o_orderkey")
        )
        parts.append(
            o.filter(cond).select(
                F.lit(seq).alias("seq"),
                F.lit(op).alias("op"),
                key.alias("k"),
                price.alias("price"),
            )
        )
    changelog = parts[0]
    for p in parts[1:]:
        changelog = changelog.unionByName(p)
    from ..operators.cdc import apply_latest, changelog_latest

    latest = changelog_latest(changelog).select("k", "op", "price")
    return apply_latest(o, latest)


@query(
    "cdc_scd2_rebuild",
    oracle=f"""
    WITH history AS (
      SELECT 0 AS seq, 'I' AS op, o_orderkey AS k, o_totalprice AS price
      FROM read_parquet('{{sf}}/orders.parquet')
      UNION ALL {_CHANGELOG_SQL}
    ), versioned AS (
      SELECT k, op, price, seq AS valid_from,
             lead(seq) OVER (PARTITION BY k ORDER BY seq) AS valid_to
      FROM history
    )
    SELECT k AS o_orderkey, price AS o_totalprice,
           CAST(valid_from AS BIGINT) AS valid_from,
           CAST(valid_to AS BIGINT) AS valid_to,
           CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS BIGINT)
             AS is_current
    FROM versioned WHERE op <> 'D'
    """,
    tags=("cdc", "scd2", "changelog"),
)
def cdc_scd2_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL SCD2 HISTORY REBUILD from a changelog — the batch backfill
    that bootstraps a slowly-changing dimension when CDC capture starts
    after the table already exists (scd2_close_and_insert maintains the
    dimension incrementally; THIS query derives the complete
    validity-interval history in one pass). Input = the base snapshot
    replayed as a seq-0 insert, unioned with the same deterministic
    I/U/D changelog cdc_apply_changelog drains. Per key, every non-D
    operation OPENS a version at its seq and the NEXT operation of any
    kind closes it (lead over seq) — deletes close their predecessor
    without opening, so a deleted key simply has no current row.
    Exactly one shuffle: the per-key lead window (per-key history is a
    handful of ops, never data-sized); output is
    |base| + |changelog opens| version rows with (valid_from,
    valid_to, is_current) audit columns. At 100 TB this is the
    changelog-sized backfill pattern: partition by key, window, write —
    no join against the dimension at all."""
    o = materialize(
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice"),
        "cdc_scd2_rebuild.o",
    )
    base = o.select(
        F.lit(0).alias("seq"),
        F.lit("I").alias("op"),
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
    )
    waves = [
        (1, "U", F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 10.0),
        (2, "D", F.col("o_orderkey") % 500 == 0,
         F.lit(None).cast("double")),
        (3, "I", F.col("o_orderkey") % 500 == 0, F.col("o_totalprice")),
        (4, "U", F.col("o_orderkey") % 21 == 0,
         F.col("o_totalprice") + 20.0),
    ]
    history = base
    for seq, op, cond, price in waves:
        key = (
            -(F.col("o_orderkey") + 1) if op == "I" else F.col("o_orderkey")
        )
        history = history.unionByName(
            o.filter(cond).select(
                F.lit(seq).alias("seq"),
                F.lit(op).alias("op"),
                key.alias("k"),
                price.alias("price"),
            )
        )
    from pyspark.sql.window import Window as W

    versioned = history.withColumn(
        "valid_to",
        F.lead("seq").over(W.partitionBy("k").orderBy("seq")),
    )
    return versioned.filter(F.col("op") != "D").select(
        F.col("k").alias("o_orderkey"),
        F.col("price").alias("o_totalprice"),
        F.col("seq").cast("bigint").alias("valid_from"),
        F.col("valid_to").cast("bigint").alias("valid_to"),
        F.when(F.col("valid_to").isNull(), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("is_current"),
    )
