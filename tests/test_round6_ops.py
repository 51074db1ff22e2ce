"""Round-6 pins: session_window boundary semantics, the
emb_variance_explained int64 bound, the power-iteration sign
precondition, RFM monetary rounding, and structural idempotence of the
streaming ingest-dedup sink (the r5 ADVICE/VERDICT items)."""

from __future__ import annotations

import datetime as dt
import os

import pytest

pytestmark = pytest.mark.slow  # multi-minute suite: excluded from the default (driver) tier
from pyspark.sql import functions as F

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"

# ---------------------------------------------------------------- sessions
def test_session_window_touch_merges(spark):
    """Pin the engine boundary the session-family oracles encode: an
    event at EXACTLY prev_ts + 30 min merges into the session (Spark's
    merge condition is start <= prev_end — touch-inclusive — even
    though the window range itself is half-open). The gaps-and-islands
    oracles therefore split on `gap > 30 min`, never `>=`. If a Spark
    upgrade ever flips this, every session oracle needs the same flip —
    this test is the tripwire."""
    rows = [
        # user 1: gap of exactly 30:00 → ONE session of 3 events
        (1, dt.datetime(2024, 1, 1, 0, 0, 0)),
        (1, dt.datetime(2024, 1, 1, 0, 30, 0)),
        (1, dt.datetime(2024, 1, 1, 1, 0, 0)),
        # user 2: gap of 30:00.000001 → TWO sessions
        (2, dt.datetime(2024, 1, 1, 0, 0, 0)),
        (2, dt.datetime(2024, 1, 1, 0, 30, 0, 1)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    native = {
        (r.user_id, r.n)
        for r in df.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert native == {(1, 3), (2, 1)}, native
    # and the lag-based gaps-and-islands rule with `> 30 min` agrees
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts")
    new_sess = F.when(
        F.lag("ts").over(w).isNull()
        | (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
            > 30 * 60 * 1_000_000
        ),
        1,
    ).otherwise(0)
    islands = {
        (r.user_id, r.n_sessions)
        for r in df.withColumn("ns", new_sess)
        .groupBy("user_id")
        .agg(F.sum("ns").alias("n_sessions"))
        .collect()
    }
    assert islands == {(1, 1), (2, 2)}, islands


# ------------------------------------------------- variance-explained bound
@pytest.mark.parametrize("sf_dir_case", [SF001, SF01])
def test_variance_explained_int64_bound(spark, sf_dir_case):
    """Pin the docstring claim that every g·uᵢ·uⱼ term of the Rayleigh
    quadratic form stays inside int64 after the `v div 16` prescale
    (plans/similarity_queries.py emb_variance_explained). Data-derived
    static bound: |g| <= N·B² with B = max|round(x·2¹⁴)| over the
    actual embeddings, and |u| <= 4096/16 = 256 (|v| <= 2¹² by the
    re-quantized-unit-vector construction). An int64 wraparound here
    would be a silent hash-red, not an error — hence the tripwire."""
    from automated_agro_climatic_data_warehouse_spark.sources import load_table

    emb = load_table(spark, sf_dir_case, "embeddings")
    stats = emb.select(
        F.posexplode("embedding").alias("pos", "x")
    ).agg(
        F.max(
            F.abs(F.round(F.col("x").cast("double") * (1 << 14), 0))
        ).alias("b"),
        F.count(F.lit(1)).alias("terms"),
    ).collect()[0]
    n_vec = emb.count()
    b = int(stats.b)
    max_g = n_vec * b * b          # worst-case Gram entry magnitude
    max_u = (1 << 12) // 16        # 256
    worst_term = max_g * max_u * max_u
    # require an order-of-magnitude headroom, not a squeaker
    assert worst_term < 2**63 / 8, (
        f"N={n_vec} B={b}: worst term {worst_term:.3e} too close to 2^63"
    )


def test_variance_explained_actual_gram_bound(spark):
    """Same bound against the ACTUAL max |g| of the sf0.001 Gram frame
    (not just the N·B² envelope), via the shared eigensolve helper —
    also re-checks the helper runs standalone."""
    from automated_agro_climatic_data_warehouse_spark.plans.similarity_queries import (
        _power_iteration_direction,
    )

    gram, v = _power_iteration_direction(spark, SF001)
    max_g = gram.agg(F.max(F.abs("g")).alias("m")).collect()[0].m
    max_u = (
        v.select(F.expr("abs(v div 16)").alias("u"))
        .agg(F.max("u").alias("m"))
        .collect()[0]
        .m
    )
    assert max_g * max_u * max_u < 2**63 / 8


def test_integer_division_truncates_on_both_engines(spark):
    """The power-iteration prescales (`w div 2^35`, `v div 16`) hit
    NEGATIVE, non-divisible operands on the real testdata (probed:
    14-23 negative w entries by round 5 at sf0.01), so the oracles are
    exact only because Spark's `div` and DuckDB's INTEGER `//` BOTH
    truncate toward zero — unlike Python's flooring `//`. Pin that
    equivalence on a sign/divisibility matrix so an engine upgrade
    that flips either semantics fails here instead of as a silent
    driver hash-red. (The earlier repo rule 'div and // agree only on
    non-negative operands' is true for Python, NOT for DuckDB integer
    division.)"""
    import duckdb

    cases = [(-33, 16), (-7, 2), (7, 2), (-32, 16), (0, 5), (33, 16)]
    got_spark = [
        spark.sql(f"SELECT CAST({a} AS BIGINT) div {b} AS d").collect()[0].d
        for a, b in cases
    ]
    got_duck = [
        duckdb.sql(
            f"SELECT CAST({a} AS BIGINT) // CAST({b} AS BIGINT)"
        ).fetchone()[0]
        for a, b in cases
    ]
    trunc = [int(a / b) for a, b in cases]  # toward-zero reference
    assert got_spark == trunc, got_spark
    assert got_duck == trunc, got_duck


# ----------------------------------------------------------- RFM rounding
def test_rfm_monetary_rounds_half_up(spark, tmp_path):
    """Sub-cent event values must ROUND into monetary_cents, not
    truncate (r5 ADVICE: Spark's decimal→bigint cast truncates while
    DuckDB's CAST rounds — the plan now rounds explicitly on both
    sides). 1.005 + 2.001 = 3.006 → 300.6 cents → 301, where the old
    truncating cast gave 300."""
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

    import pyarrow as pa
    import pyarrow.parquet as pq

    # single parquet FILE (the testdata layout the schema gate reads)
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(
                [
                    dt.datetime(2024, 1, 2, 10, 0, 0),
                    dt.datetime(2024, 1, 3, 10, 0, 0),
                ],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([7, 7], pa.int64()),
            "event_type": pa.array(["purchase", "purchase"]),
            "value": pa.array([1.005, 2.001], pa.float64()),
            "props": pa.array(["{}", "{}"]),
        }
    )
    sf = str(tmp_path)
    pq.write_table(table, f"{sf}/events.parquet")
    out = QUERIES["ev_rfm_scores"].spark_fn(spark, sf).collect()
    assert len(out) == 1
    # 1.005 and 2.001 are not exact doubles; the decimal(28,6) cast
    # captures their printed value exactly, so the sum is exactly 3.006
    assert out[0].monetary_cents == 301, out[0]


# ---------------------------------------------- ingest-dedup idempotence
DOC_SCHEMA = "doc_id long, text string"


def test_gate_replay_is_idempotent_for_zero_shingle_docs(spark, tmp_path):
    """The r5 ADVICE scenario: a doc too short to produce one 3-word
    shingle never enters the LSH path, so nothing would catch its
    double-append on a foreachBatch replay. The batch-commit subdir
    must absorb the replay structurally: same commit_id twice → one
    copy."""
    from automated_agro_climatic_data_warehouse_spark.streaming.ingest_dedup import (
        dedup_gate_batch,
    )

    acc = str(tmp_path / "acc")
    batch = spark.createDataFrame([(1, "too short")], DOC_SCHEMA)
    dedup_gate_batch(batch, acc, commit_id="tok-000000")
    dedup_gate_batch(batch, acc, commit_id="tok-000000")  # crash replay
    got = spark.read.parquet(f"{acc}/batch-tok-000000")
    assert got.count() == 1
    assert {r.doc_id for r in got.collect()} == {1}


def test_gate_replay_overwrites_crashed_half_write(spark, tmp_path):
    """A half-written batch subdir (part files present, no _SUCCESS)
    must be (a) excluded from the index — a doc must never reject
    against its own partial output — and (b) overwritten by the
    replay."""
    from automated_agro_climatic_data_warehouse_spark.streaming.ingest_dedup import (
        dedup_gate_batch,
    )

    acc = str(tmp_path / "acc")
    text = " ".join(f"word{i:02d}" for i in range(24))
    batch = spark.createDataFrame([(5, text)], DOC_SCHEMA)
    # simulate the crash: the batch's own output exists without _SUCCESS
    half = f"{acc}/batch-tok-000001"
    batch.coalesce(1).write.parquet(half)
    os.remove(f"{half}/_SUCCESS")
    dedup_gate_batch(batch, acc, commit_id="tok-000001")
    got = spark.read.parquet(half)
    assert {r.doc_id for r in got.collect()} == {5}, (
        "doc rejected against its own half-written output"
    )
    assert os.path.isfile(f"{half}/_SUCCESS")


def test_committed_empty_batch_skips_replay(spark, tmp_path):
    """An all-rejected batch commits an EMPTY subdir; the replay must
    still skip it (commit marker, not row count, is the idempotence
    key) and the index reader must not choke on the empty dir."""
    from automated_agro_climatic_data_warehouse_spark.streaming.ingest_dedup import (
        dedup_gate_batch,
    )
    from automated_agro_climatic_data_warehouse_spark.streaming.state_chain import (
        committed,
    )

    def corpus():
        paths = [p for _, p in committed(acc, "batch-")]
        return spark.read.schema(DOC_SCHEMA).parquet(*paths)

    acc = str(tmp_path / "acc")
    text = " ".join(f"word{i:02d}" for i in range(24))
    # batch 0 accepts the doc
    dedup_gate_batch(
        spark.createDataFrame([(1, text)], DOC_SCHEMA),
        acc,
        commit_id="tok-000000",
    )
    # batch 1: near-dup of doc 1 → all rejected → empty commit
    dedup_gate_batch(
        spark.createDataFrame([(2, text + " tail")], DOC_SCHEMA),
        acc,
        commit_id="tok-000001",
    )
    assert os.path.isfile(f"{acc}/batch-tok-000001/_SUCCESS")
    # the empty commit contributes no rows, with or without a part
    # file: the corpus read gives the schema instead of inferring it
    assert {r.doc_id for r in corpus().collect()} == {1}
    # replaying the empty commit stays a no-op
    dedup_gate_batch(
        spark.createDataFrame([(2, text + " tail")], DOC_SCHEMA),
        acc,
        commit_id="tok-000001",
    )
    assert {r.doc_id for r in corpus().collect()} == {1}


# ------------------------------------------------- round-6 new queries
def test_pca_deflation_orthogonal_unit(spark):
    """The deflated second direction must be (a) near-orthogonal to the
    first direction on the grid (|cos| below 1%ish — grid quantization
    noise, not drift) and (b) near-unit after /4096, and its prescale
    must keep most components nonzero (a zero norm would NaN the
    round)."""
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES
    from automated_agro_climatic_data_warehouse_spark.plans.similarity_queries import (
        _power_iteration_direction,
    )

    v2 = {
        r.pos: r.v2_q
        for r in QUERIES["emb_pca_deflation"].spark_fn(spark, SF001).collect()
    }
    v1 = {
        r.pos: r.v
        for r in _power_iteration_direction(spark, SF001)[1].collect()
    }
    assert set(v2) == set(v1) and len(v2) == 64
    dot = sum(v2[p] * v1[p] for p in v2)
    n1 = sum(x * x for x in v1.values()) ** 0.5
    n2 = sum(x * x for x in v2.values()) ** 0.5
    assert n2 > 0.9 * 4096, n2          # near-unit on the grid
    assert abs(dot) / (n1 * n2) < 0.01  # near-orthogonal
    assert sum(1 for x in v2.values() if x != 0) > 32


def test_hll_exact_twin_anchors_sketch_shape(spark):
    """The exact twin must agree with the sketch rollup on grouping
    keys and day counts, and the HLL estimate must sit within its
    ~1% relative-error envelope (lgK=14) of the exact distincts —
    the shape+accuracy anchor the rows-only sketch check lacks."""
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

    exact = {
        r.week: r
        for r in QUERIES["ev_hll_weekly_rollup_exact"]
        .spark_fn(spark, SF001)
        .collect()
    }
    sketch = {
        r.week: r
        for r in QUERIES["ev_hll_weekly_rollup"].spark_fn(spark, SF001).collect()
    }
    assert set(exact) == set(sketch)
    for wk, e in exact.items():
        s = sketch[wk]
        assert s.n_days == e.n_days, (wk, s.n_days, e.n_days)
        rel = abs(s.approx_weekly_users - e.exact_weekly_users) / max(
            e.exact_weekly_users, 1
        )
        assert rel < 0.05, (wk, rel)


def test_ks_two_sample_invariants(spark):
    """KS statistic must be a valid probability-scale sup: within
    [0, 1], with the exact integer numerator consistent with the
    emitted double, and one row per source."""
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

    rows = QUERIES["dq_ks_two_sample"].spark_fn(spark, SF001).collect()
    assert len(rows) == 20  # one per source
    for r in rows:
        assert 0.0 <= r.ks_stat <= 1.0
        assert r.ks_stat == r.d_num / (r.n_s * r.n_rest)
        assert r.d_num <= r.n_s * r.n_rest


def test_sliding_window_fanout_is_exact(spark):
    """Every event lands in exactly span/slide = 3 sliding windows, so
    the window-level event counts must sum to 3x the corpus."""
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES
    from automated_agro_climatic_data_warehouse_spark.sources import load_table

    out = QUERIES["ev_sliding_3h_counts"].spark_fn(spark, SF001)
    n_win = out.agg(F.sum("n_events")).collect()[0][0]
    n_ev = load_table(spark, SF001, "events").count()
    assert n_win == 3 * n_ev


def test_autocorr_and_trend_bounds(spark):
    """|acf1| <= 1 (Cauchy-Schwarz) and every emitted OLS slope has a
    positive denominator with the double equal to the exact ratio."""
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

    acf = QUERIES["ev_autocorr_lag1"].spark_fn(spark, SF001).collect()
    assert len(acf) == 1 and abs(acf[0].acf1) <= 1.0
    for r in QUERIES["agro_gdd_trend"].spark_fn(spark, SF001).collect():
        assert r.slope_den > 0
        assert r.slope_microgdd_per_day == r.slope_num / r.slope_den


def test_union_by_name_null_pattern(spark):
    """Each schema vintage fully populates its own column and is fully
    NULL on the other's — the alignment contract of
    unionByName(allowMissingColumns=True)."""
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

    rows = {
        r.schema_version: r
        for r in QUERIES["s19_union_by_name_evolution"]
        .spark_fn(spark, SF001)
        .collect()
    }
    assert set(rows) == {0, 1}
    assert rows[0].n_price == rows[0].n_rows and rows[0].n_priority == 0
    assert rows[1].n_priority == rows[1].n_rows and rows[1].n_price == 0


def test_bfs_hops_invariants(spark):
    """Seeds at distance 0; every planted near-dup copy of a seed at
    distance <= 1 (the LSH graph contains the orig-copy edge by
    construction); no distance exceeds the 4-round horizon."""
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

    rows = {
        r.doc_id: r.hops
        for r in QUERIES["graph_bfs_hops"].spark_fn(spark, SF001).collect()
    }
    assert rows, "BFS reached nothing"
    seeds = [d for d in rows if d >= 0 and d % 10 == 0]
    assert seeds and all(rows[d] == 0 for d in seeds)
    assert all(0 <= h <= 4 for h in rows.values())
    # planted copies -(2*id+1)/-(2*id+2) of a seed id are 1 hop away
    for d in seeds:
        for copy in (-(2 * d + 1), -(2 * d + 2)):
            if copy in rows:
                assert rows[copy] == 1, (copy, rows[copy])


def test_asof_nearest_picks_smaller_gap(spark):
    """nearest must never report a side whose gap exceeds the other
    side's gap (recomputed independently from the raw events)."""
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES
    from automated_agro_climatic_data_warehouse_spark.sources import load_table

    out = QUERIES["ev_asof_join_nearest"].spark_fn(spark, SF001).collect()
    ev = load_table(spark, SF001, "events")
    views = sorted(
        (r.user_id, r.ts)
        for r in ev.filter(F.col("event_type") == "view")
        .select("user_id", "ts")
        .collect()
    )
    import bisect

    by_user = {}
    for u, t in views:
        by_user.setdefault(u, []).append(t)
    for r in out:
        vts = by_user.get(r.user_id, [])
        i = bisect.bisect_right(vts, r.ts)
        back = (r.ts - vts[i - 1]).total_seconds() if i > 0 else None
        j = bisect.bisect_left(vts, r.ts)
        fwd = (vts[j] - r.ts).total_seconds() if j < len(vts) else None
        if back is None and fwd is None:
            assert r.side == "none"
        elif fwd is None or (back is not None and back <= fwd):
            assert r.side == "backward", (r, back, fwd)
        else:
            assert r.side == "forward", (r, back, fwd)


def test_gate_ablation_cube_consistency(spark):
    """The 16 fully-specified cells sum to the grand total, and every
    rollup cell equals the sum of the cells it aggregates."""
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

    rows = QUERIES["pipe_gate_ablation"].spark_fn(spark, SF001).collect()
    full = [r for r in rows if r.gid == 0]
    grand = [r for r in rows if r.gid == 15]
    assert len(grand) == 1 and len(full) <= 16
    assert sum(r.n_docs for r in full) == grand[0].n_docs
    # one-gate marginal: len_gate specified, rest rolled up (gid=7)
    for r in rows:
        if r.gid == 7:
            assert r.n_docs == sum(
                f.n_docs for f in full if f.len_gate == r.len_gate
            )


def test_two_stage_rerank_beats_or_ties_adc_order(spark):
    """The rerank's final ranking must be by EXACT distance: for each
    query, the reported top-5 exact distances are non-decreasing, and
    every reported neighbor is drawn from the ADC top-20 shortlist."""
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

    rer = QUERIES["ann_two_stage_rerank"].spark_fn(spark, SF001).collect()
    adc = QUERIES["ann_pq_adc_topk"].spark_fn(spark, SF001).collect()
    by_q = {}
    for r in sorted(rer, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r)
    assert by_q
    for q, rs in by_q.items():
        ds = [r.exact_d for r in rs]
        assert ds == sorted(ds)
    # ADC top-5 queries all appear in the rerank output too
    assert {r.query_id for r in adc} <= set(by_q)


def test_curriculum_order_matches_naive_rank(spark):
    """The decomposed interleave rank must equal the naive global
    row_number over (leg, source) — recomputed driver-side on the
    collected frame — and be a 1..N permutation."""
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

    rows = QUERIES["pipe_curriculum_order"].spark_fn(spark, SF001).collect()
    n = len(rows)
    ranks = sorted(r.curriculum_rank for r in rows)
    assert ranks == list(range(1, n + 1)), "not a permutation"
    naive = sorted(rows, key=lambda r: (r.leg, r.source))
    for i, r in enumerate(naive, 1):
        assert r.curriculum_rank == i, (r, i)


def test_centroid_drift_nonnegative_and_symmetric_zero(spark):
    """Drift is a squared norm: >= 0 always, and exactly 0 iff the two
    halves' scaled sums coincide; the normalized form divides the raw
    one by (n0*n1)^2 exactly."""
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

    for r in QUERIES["emb_centroid_drift"].spark_fn(spark, SF001).collect():
        assert r.drift_sq >= 0 and r.n0 > 0 and r.n1 > 0
        assert r.drift_mean_sq == r.drift_sq / (
            float(r.n0) * r.n0 * r.n1 * r.n1
        )


def test_common_neighbors_excludes_direct_edges(spark):
    """No predicted pair may be an actual LSH edge, every Jaccard is in
    (0, 1], and cn is bounded by both degrees."""
    from automated_agro_climatic_data_warehouse_spark.operators.dedup import (
        minhash_lsh_dedup,
    )
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES
    from automated_agro_climatic_data_warehouse_spark.plans.graph_queries import (
        _chain_docs,
    )

    out = QUERIES["graph_common_neighbors"].spark_fn(spark, SF001).collect()
    edges = {
        (min(p.doc_a, p.doc_b), max(p.doc_a, p.doc_b))
        for p in minhash_lsh_dedup(
            _chain_docs(spark, SF001)
        ).collect()
    }
    for r in out:
        assert (r.doc_u, r.doc_v) not in edges, r
        assert 0.0 < r.jaccard <= 1.0
        assert r.common_neighbors >= 1


def test_station_correlation_bounds(spark):
    """Pearson r in [-1, 1], pairs ordered (a < b), overlap >= 20."""
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

    rows = (
        QUERIES["agro_station_correlation"].spark_fn(spark, SF001).collect()
    )
    assert rows, "no station pairs survived"
    for r in rows:
        assert r.station_a < r.station_b
        assert r.n_days >= 20
        assert -1.0 <= r.pearson_r <= 1.0


def test_knn_eval_accuracy_consistency(spark):
    """accuracy == n_correct/n_queries per class; query counts sum to
    the 50-probe set; accuracy bounded in [0, 1]."""
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

    rows = (
        QUERIES["emb_knn_classifier_eval"].spark_fn(spark, SF001).collect()
    )
    assert sum(r.n_queries for r in rows) == 50
    for r in rows:
        assert 0 <= r.n_correct <= r.n_queries
        assert r.accuracy == r.n_correct / r.n_queries


def test_balanced_downsample_equalizes_classes(spark):
    """Every class ends at exactly the min class size, and the id-sum
    differs across classes (i.e. real per-class selections, not a
    copy-paste of one class)."""
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

    rows = (
        QUERIES["sample_balanced_class_downsample"]
        .spark_fn(spark, SF001)
        .collect()
    )
    assert len(rows) >= 2
    k = min(r.n_class for r in rows)
    assert all(r.n_selected == k for r in rows)
    assert all(r.n_selected <= r.n_class for r in rows)
    assert len({r.selected_id_sum for r in rows}) == len(rows)


def test_observed_counters_match_direct_aggregation(spark, tmp_path):
    """observe() metrics accumulated during a single write action must
    equal the same counters computed as a direct aggregation — the
    zero-extra-pass in-flight DQ pattern
    (operators/quality.observed_quality_counters)."""
    from automated_agro_climatic_data_warehouse_spark.operators.quality import (
        observed_quality_counters,
    )
    from automated_agro_climatic_data_warehouse_spark.sources import load_table

    ev = load_table(spark, SF001, "events")
    counters = {
        "n_rows": F.count(F.lit(1)),
        "n_null_value": F.count(F.when(F.col("value").isNull(), 1)),
        "n_negative": F.count(F.when(F.col("value") < 0, 1)),
        "max_ts": F.max("ts"),
    }
    observed, obs = observed_quality_counters(ev, dict(counters))
    observed.write.mode("overwrite").parquet(str(tmp_path / "out"))
    got = obs.get
    want = ev.agg(
        *[expr.alias(k) for k, expr in counters.items()]
    ).collect()[0].asDict()
    assert got == want and got["n_rows"] > 0


def test_modularity_total_bounds_and_consistency(spark):
    """Σ q_contrib = Q of the partition must be in [-0.5, 1]; intra
    edge counts are even (directed double-count) and bounded by the
    cluster's degree sum; q_num/(2m)^2 reproduces q_contrib."""
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

    rows = QUERIES["graph_modularity"].spark_fn(spark, SF001).collect()
    assert rows
    q_total = sum(r.q_contrib for r in rows)
    assert -0.5 <= q_total <= 1.0, q_total
    for r in rows:
        assert r.intra_2e % 2 == 0
        assert r.intra_2e <= r.degree_sum
    # CC labels partition a dup graph: expect a clearly-positive Q
    assert q_total > 0.5, q_total
