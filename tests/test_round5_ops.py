"""Round-5 operator pins: the k-step PageRank loop's resumability and
the int8-quantize scale hoist."""

from __future__ import annotations

from pyspark.sql import functions as F

from automated_agro_climatic_data_warehouse_spark.operators.graph import pagerank_loop
from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

SF = "/root/testdata/sf0.001"


def _edges(spark):
    rows = [(1, -1), (1, -2), (2, -1), (3, -3)]
    sym = rows + [(b, a) for a, b in rows]
    return spark.createDataFrame(sym, "src long, dst long")


def test_pagerank_loop_resumes_bit_identical(spark):
    """k=6 in one run must equal k=3 resumed with 3 more rounds from the
    intermediate (node, r) state — the checkpoint/restart contract that
    makes a long chain operable (any round's output is a valid restart
    state; exact integer arithmetic means no drift)."""
    e = _edges(spark)
    full = {
        (r.node, r.r) for r in pagerank_loop(e, k=6).collect()
    }
    half = pagerank_loop(e, k=3)
    resumed = {
        (r.node, r.r)
        for r in pagerank_loop(e, k=3, init_ranks=half).collect()
    }
    assert full == resumed


def test_pagerank_loop_conserves_teleport_floor(spark):
    """Every rank must stay >= the teleport floor and the total mass must
    stay within the floor-division loss bound of n_nodes * total."""
    e = _edges(spark)
    total = 1 << 20
    out = pagerank_loop(e, k=10, total=total).collect()
    teleport = total * 3 // 20
    assert all(r.r >= teleport for r in out)
    n = len(out)
    mass = sum(r.r for r in out)
    assert mass <= n * total
    # floor-division losses cannot take any node below the teleport
    # renewal, so total mass stays strictly above n * teleport
    assert mass > n * teleport


def test_pagerank_k10_plan_has_no_cartesian(spark):
    plan = (
        QUERIES["graph_pagerank_k10"]
        .spark_fn(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_exact_ntile_matches_native(spark):
    """exact_ntile must equal ntile(n) OVER (ORDER BY value, id)
    bit-for-bit, including the uneven-remainder tile boundaries and
    duplicate-value tie-breaks."""
    import random

    from pyspark.sql.window import Window as W

    from automated_agro_climatic_data_warehouse_spark.operators.ranking import exact_ntile

    rng = random.Random(7)
    rows = [(i, rng.randrange(0, 40)) for i in range(137)]
    df = spark.createDataFrame(rows, "id long, v long")
    for n in (3, 5, 10):
        got = {
            (r.id, r.t)
            for r in exact_ntile(
                df, "v", "id", n, "t", bucket=F.expr("v div 8")
            ).collect()
        }
        want = {
            (r.id, r.t)
            for r in df.select(
                "id", F.ntile(n).over(W.orderBy("v", "id")).alias("t")
            ).collect()
        }
        assert got == want, f"ntile({n}) mismatch"


def test_exact_ntile_shuffle_offsets_matches(spark):
    """broadcast_offsets=False (the wide-domain path) must produce the
    same tiles as the broadcast path."""
    from automated_agro_climatic_data_warehouse_spark.operators.ranking import exact_ntile

    rows = [(i, (i * 37) % 101) for i in range(101)]
    df = spark.createDataFrame(rows, "id long, v long")
    a = {
        (r.id, r.t)
        for r in exact_ntile(df, "v", "id", 5, "t").collect()
    }
    b = {
        (r.id, r.t)
        for r in exact_ntile(
            df, "v", "id", 5, "t", broadcast_offsets=False
        ).collect()
    }
    assert a == b


def test_exact_ntile_grouped_matches_native(spark):
    """part_cols form must equal ntile(n) OVER (PARTITION BY g
    ORDER BY v, id) bit-for-bit, including uneven group sizes."""
    import random

    from pyspark.sql.window import Window as W

    from automated_agro_climatic_data_warehouse_spark.operators.ranking import exact_ntile

    rng = random.Random(11)
    rows = [
        (i, rng.choice("abc"), rng.randrange(0, 25)) for i in range(149)
    ]
    df = spark.createDataFrame(rows, "id long, g string, v long")
    got = {
        (r.id, r.t)
        for r in exact_ntile(
            df, "v", "id", 4, "t",
            bucket=F.expr("v div 8"), part_cols=["g"],
        ).collect()
    }
    want = {
        (r.id, r.t)
        for r in df.select(
            "id",
            F.ntile(4).over(W.partitionBy("g").orderBy("v", "id")).alias("t"),
        ).collect()
    }
    assert got == want


def test_id_gap_audit_counts_runs(spark, tmp_path):
    """Holes {3}, {7,8,9}, {15..19} in a 0..24 id space must report
    n_missing=9 and n_gaps=3 (three contiguous runs)."""
    present = [
        i
        for i in range(25)
        if i not in {3, 7, 8, 9, 15, 16, 17, 18, 19}
    ]
    import pandas as pd

    # single parquet FILE matching the pinned events schema
    n = len(present)
    pd.DataFrame(
        {
            "event_id": pd.Series(present, dtype="int64"),
            "ts": pd.to_datetime(
                pd.Series([1_700_000_000_000_000 + i for i in range(n)]),
                unit="us",
            ),
            "user_id": pd.Series([1] * n, dtype="int64"),
            "event_type": pd.Series(["click"] * n, dtype="object"),
            "value": pd.Series([1.0] * n, dtype="float64"),
            "props": pd.Series(["{}"] * n, dtype="object"),
        }
    ).to_parquet(str(tmp_path / "events.parquet"))
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

    out = QUERIES["dq_id_gap_audit"].spark_fn(
        spark, str(tmp_path)
    ).collect()[0]
    assert (out.lo, out.hi, out.n_ids) == (0, 24, 16)
    assert out.n_missing == 9
    assert out.n_gaps == 3


def test_peak_concurrency_reports_fully_carried_days(spark, tmp_path):
    """A session running continuously across an entire calendar day
    leaves NO boundary deltas on that day — it must still be reported
    with peak = carry_in, not dropped (the inner-join bug class)."""
    import pandas as pd

    # one user active 23:00 day1 .. 01:00 day3: events every 20 min
    start = pd.Timestamp("2024-03-01 23:00:00")
    ts = [start + pd.Timedelta(minutes=20 * i) for i in range(0, 79)]
    n = len(ts)
    pd.DataFrame(
        {
            "event_id": pd.Series(range(n), dtype="int64"),
            "ts": pd.Series(ts),
            "user_id": pd.Series([7] * n, dtype="int64"),
            "event_type": pd.Series(["click"] * n, dtype="object"),
            "value": pd.Series([1.0] * n, dtype="float64"),
            "props": pd.Series(["{}"] * n, dtype="object"),
        }
    ).to_parquet(str(tmp_path / "events.parquet"))
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

    rows = {
        str(r.day): (r.carry_in, r.peak_concurrency)
        for r in QUERIES["ev_peak_concurrency_daily"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    # day 2 is fully covered by the carried session: no deltas, but
    # it must appear with carry_in = peak = 1
    assert rows["2024-03-02"] == (1, 1), rows
    assert rows["2024-03-01"] == (0, 1)
    assert rows["2024-03-03"][0] == 1


def test_weighted_ntile_histogram_bucket_path_matches_default(spark):
    """The coarse-bucket offsets branch (wide value domains) must
    produce identical per-(value, tile) counts to the plain cumsum
    branch."""
    from automated_agro_climatic_data_warehouse_spark.operators.ranking import (
        weighted_ntile_histogram,
    )

    rows = [(v, i) for v in range(0, 60, 3) for i in range(1 + v % 7)]
    df = spark.createDataFrame(rows, "v long, seq long").select("v")
    a = {
        (r.v, r.tile, r.n_rows)
        for r in weighted_ntile_histogram(df, "v", 7).collect()
    }
    b = {
        (r.v, r.tile, r.n_rows)
        for r in weighted_ntile_histogram(
            df, "v", 7, bucket=F.expr("v div 16")
        ).collect()
    }
    assert a == b
