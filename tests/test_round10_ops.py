"""Round-10 operator tests: the blocked Fellegi-Sunter linkage and its
audit-justified block-key choice, the shared-primitive refactors
(FS pair/scoring, Nelson-Aalen readout) that must not move any
verified readout, invariants + hand fixtures for the round's new
statistics (KW, SRM, Wasserstein, Cramér's V, Yule's K, Jaccard
links, spilled IVF, sequential Poisson), and full python
differentials for each — the oracle gate proves cross-engine
agreement, these prove the arithmetic.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from automated_agro_climatic_data_warehouse_spark.plans import QUERIES
from automated_agro_climatic_data_warehouse_spark.plans.dedup_queries import (
    _fs_pairs,
    _fs_union,
)


def test_blocking_audit_justifies_fs_blocked_scheme(spark, sf_dir):
    """dedup_fs_blocked hardcodes nation×segment because the audit
    says so; this pin fails if the audit's evidence ever stops
    supporting that choice (pc must stay 1.0 and rr must beat the
    production nation block)."""
    rows = {
        r.strategy: r
        for r in QUERIES["dedup_blocking_audit"].spark_fn(
            spark, sf_dir
        ).collect()
    }
    natseg, nation = rows["nation_segment"], rows["nation"]
    assert natseg.pc_e6 == 1_000_000, (
        "nation×segment no longer recall-complete on the injected "
        "truth pairs — dedup_fs_blocked's block key is now lossy"
    )
    assert natseg.rr_e6 > nation.rr_e6, (
        "nation×segment no longer reduces more than the nation block "
        "— the blocked variant's reason to exist"
    )


def test_fs_blocked_candidate_space_strictly_smaller(spark, sf_dir):
    """The blocked variant's pair frame (the linkage's only
    superlinear stage) must shrink, and must keep EVERY true pair
    (recall completeness at the pair level, not just the audit's
    block-key level)."""
    u = _fs_union(spark, sf_dir).cache()
    nation = _fs_pairs(u, ("nat",)).agg(
        F.count(F.lit(1)).alias("n"), F.sum("is_true").alias("t")
    ).collect()[0]
    blocked = _fs_pairs(u, ("nat", "seg")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("is_true").alias("t")
    ).collect()[0]
    u.unpersist()
    assert blocked.n < nation.n
    assert blocked.t == nation.t and blocked.t > 0


def test_fs_blocked_histogram_shape(spark, sf_dir):
    """Band histogram sanity on the blocked scheme: every injected
    copy lands in some band exactly once, and the true matches
    separate upward (every true-match band sits above every band
    that holds only non-matches' bulk — min true band > median
    non-match band)."""
    hist = QUERIES["dedup_fs_blocked"].spark_fn(spark, sf_dir).collect()
    n_copies = (
        _fs_union(spark, sf_dir).filter(F.col("key") < 0).count()
    )
    assert sum(r.n_true_match for r in hist) == n_copies
    true_bands = [r.band for r in hist if r.n_true_match > 0]
    nonmatch = sorted(
        r.band
        for r in hist
        for _ in range(int(r.n_pairs - r.n_true_match))
    )
    assert nonmatch, "degenerate: every candidate pair is a true match"
    median_nonmatch = nonmatch[len(nonmatch) // 2]
    assert min(true_bands) > median_nonmatch


def _fs_band_py(pairs):
    """Python replay of the shared FS decision layer: Laplace-smoothed
    m/u, per-field ln-grid weights, sign-split banding — used to pin
    BOTH linkage queries per-band."""
    import math

    nm = sum(1 for p in pairs if p[4] == 1)
    m = [sum(p[i] for p in pairs if p[4] == 1) for i in range(4)]
    uslice = [p for p in pairs if p[4] == 0 and p[5] < 20]
    nu = len(uslice)
    u = [sum(p[i] for p in uslice) for i in range(4)]
    G = 1 << 20

    def lnq(x):
        return round(math.log(x) * G)

    hist = {}
    for p in pairs:
        w_q = 0
        for i in range(4):
            if p[i] == 1:
                w_q += lnq((m[i] + 1) * (nu + 2)) - lnq((u[i] + 1) * (nm + 2))
            else:
                w_q += lnq((nm + 1 - m[i]) * (nu + 2)) - lnq(
                    (nu + 1 - u[i]) * (nm + 2)
                )
        band = w_q // G if w_q >= 0 else -((-w_q) // G)
        np_, nt = hist.get(band, (0, 0))
        hist[band] = (np_ + 1, nt + p[4])
    return hist


def test_fs_refactor_nation_block_unchanged(spark, sf_dir):
    """The _fs_pairs/_fs_band_histogram hoist must be expression-
    identical for the nation block: every (band, n_pairs,
    n_true_match) row of the registered query matches the python
    replay of the ORIGINAL arithmetic (r10 review finding: a
    sum-only assertion would let a band-shifting regression pass)."""
    got = {
        r.band: (r.n_pairs, r.n_true_match)
        for r in QUERIES["dedup_fellegi_sunter"].spark_fn(
            spark, sf_dir
        ).collect()
    }
    pairs = [
        (r.g1, r.g2, r.g3, r.g4, r.is_true, r.h)
        for r in _fs_pairs(_fs_union(spark, sf_dir), ("nat",)).collect()
    ]
    assert got == _fs_band_py(pairs)


def test_na_curve_fold_matches_km_state(spark, sf_dir):
    """ev_hazard_nelson_aalen (now the shared na_curve readout) and
    ev_survival_km must read the SAME histogram: identical (dur,
    n_risk, churned, censored_n) frames."""
    km = {
        r.dur: (r.n_risk, r.churned, r.censored_n)
        for r in QUERIES["ev_survival_km"].spark_fn(spark, sf_dir).collect()
    }
    na = {
        r.dur: (r.n_risk, r.churned, r.censored_n)
        for r in QUERIES["ev_hazard_nelson_aalen"]
        .spark_fn(spark, sf_dir)
        .collect()
    }
    assert km == na


def test_kruskal_wallis_invariants(spark, sf_dir):
    """KW over all five types: k pins the type count, n the non-null
    value count, the tie-corrected statistic can only grow (C <= 1),
    and H > 0 on real (non-degenerate) data."""
    from automated_agro_climatic_data_warehouse_spark.sources import load_table

    r = QUERIES["ev_kruskal_wallis"].spark_fn(spark, sf_dir).collect()[0]
    ev = load_table(spark, sf_dir, "events")
    assert r.k == ev.select("event_type").distinct().count()
    assert r.n == ev.filter(F.col("value").isNotNull()).count()
    assert r.tie_term >= 0
    assert r.h_stat > 0
    assert r.h_adj >= r.h_stat


def test_srm_check_invariants(spark, sf_dir):
    """Per-day arm counts reassemble the assigned total; the flag is
    exactly the e6 threshold compare; a fair hash split should not
    flag most days."""
    from automated_agro_climatic_data_warehouse_spark.sources import load_table

    rows = QUERIES["ev_srm_check"].spark_fn(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    assert sum(r.n_a + r.n_b for r in rows) == ev.count()
    for r in rows:
        assert r.chi2_e6 >= 0
        assert r.srm_flag == int(r.chi2_e6 >= 3841459)
    flagged = sum(r.srm_flag for r in rows)
    assert flagged <= len(rows) // 2, (
        f"{flagged}/{len(rows)} days flag SRM on a fair 50/50 hash "
        "split — the statistic or the split is broken"
    )


def test_wasserstein_drift_invariants(spark, sf_dir):
    """W1 is nonnegative, bounded by the per-type value range, and the
    split covers every non-null-value row exactly once."""
    from automated_agro_climatic_data_warehouse_spark.sources import load_table

    rows = QUERIES["dq_wasserstein_drift"].spark_fn(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    ranges = {
        r.event_type: r.rng
        for r in ev.groupBy("event_type")
        .agg(
            (
                F.max(F.round(F.col("value") * 100))
                - F.min(F.round(F.col("value") * 100))
            ).alias("rng")
        )
        .collect()
    }
    assert sum(r.n1 + r.n2 for r in rows) == ev.count()
    for r in rows:
        assert 0 <= r.w1_e6 <= ranges[r.event_type] * 1_000_000


def test_wasserstein_zero_on_identical_halves(spark):
    """Hand-built frame whose early and late halves are identical
    value-for-value must score W1 = 0 (and a shifted type must not)."""
    import datetime

    rows = []
    t0 = datetime.datetime(2024, 1, 1)
    for i in range(100):
        # 'same': value i%10 in both halves; 'shift': +5 cents late
        rows.append((i, t0 + datetime.timedelta(minutes=i), "same",
                     float(i % 10)))
        rows.append(
            (10000 + i, t0 + datetime.timedelta(days=30, minutes=i),
             "same", float(i % 10))
        )
        rows.append((20000 + i, t0 + datetime.timedelta(minutes=i),
                     "shift", float(i % 10)))
        rows.append(
            (30000 + i, t0 + datetime.timedelta(days=30, minutes=i),
             "shift", float(i % 10) + 0.05)
        )
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array([r[3] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    with tempfile.TemporaryDirectory() as d:
        pq.write_table(table, os.path.join(d, "events.parquet"))
        got = {
            r.event_type: r.w1_e6
            for r in QUERIES["dq_wasserstein_drift"]
            .spark_fn(spark, d)
            .collect()
        }
    assert got["same"] == 0
    # every value moved exactly 5 cents -> W1 = 5 cents = 5e6 on the grid
    assert got["shift"] == 5_000_000


def test_cramers_v_invariants(spark, sf_dir):
    r = QUERIES["dq_cramers_v"].spark_fn(spark, sf_dir).collect()[0]
    assert r.k_r == 5 and 1 <= r.k_c <= 7
    assert r.chi2_e6 >= 0
    assert 0.0 <= r.cramers_v <= 1.0


def test_yule_k_invariants(spark, sf_dir):
    rows = QUERIES["ts_yule_k"].spark_fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_types <= r.n_tokens
        assert r.s2 >= r.n_tokens  # sum f^2 >= sum f
        assert r.yule_k_e6 >= 0


def test_jaccard_links_invariants(spark, sf_dir):
    rows = QUERIES["graph_jaccard_links"].spark_fn(spark, sf_dir).collect()
    assert rows, "near-dup graph lost its 2-hop candidates"
    for r in rows:
        assert 0 < r.common_neighbors <= r.union_size
        assert 0 < r.jaccard_e6 <= 1_000_000
        assert r.doc_u < r.doc_v


def test_ivf_spill_recall_vs_brute(spark, sf_dir):
    """Spilled assignment's whole point is recall: overlap@5 with the
    brute-force truth must beat a measured floor (deterministic data,
    floor set below the observed value so only a real regression
    trips)."""
    brute = {
        (r.query_id, r.neighbor_id)
        for r in QUERIES["ann_brute_topk"].spark_fn(spark, sf_dir).collect()
    }
    spill = {
        (r.query_id, r.neighbor_id)
        for r in QUERIES["ann_ivf_spill"].spark_fn(spark, sf_dir).collect()
    }
    assert spill, "spilled IVF returned nothing"
    recall = len(brute & spill) / len(brute)
    assert recall >= 0.3, f"spilled-IVF recall@5 collapsed: {recall:.2f}"


def test_seq_poisson_prn_coordination(spark, sf_dir):
    """Sequential Poisson and Pareto ride the same permanent-random-
    number stream, so their samples must overlap heavily (Ohlsson's
    coordination property) — and both must plan the bottom-n as
    TakeOrderedAndProject, never a global sort."""
    sp = {
        r.okey
        for r in QUERIES["sample_seq_poisson"].spark_fn(spark, sf_dir).collect()
    }
    pa_ = {
        r.okey
        for r in QUERIES["sample_pareto_pps"].spark_fn(spark, sf_dir).collect()
    }
    assert len(sp) == len(pa_)
    overlap = len(sp & pa_) / len(sp)
    assert overlap >= 0.8, f"PRN coordination lost: overlap {overlap:.2f}"
    plan = (
        QUERIES["sample_seq_poisson"]
        .spark_fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_yule_k_matches_python(spark, sf_dir):
    """Full python differential: tokenize the real documents table in
    python, rebuild the frequency spectrum, and reproduce every
    output column including the e6 staging."""
    import re

    from automated_agro_climatic_data_warehouse_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "text"
    ).collect()
    freq = {}
    for r in docs:
        for tok in re.split(r"\s+", r.text.lower()):
            if tok:
                freq[(r.source, tok)] = freq.get((r.source, tok), 0) + 1
    per = {}
    for (src, _), f in freq.items():
        n, ty, s2 = per.get(src, (0, 0, 0))
        per[src] = (n + f, ty + 1, s2 + f * f)
    exp = {
        src: (n, ty, s2, ((s2 - n) * 10_000_000_000) // (n * n))
        for src, (n, ty, s2) in per.items()
    }
    got = {
        r.source: (r.n_tokens, r.n_types, r.s2, r.yule_k_e6)
        for r in QUERIES["ts_yule_k"].spark_fn(spark, sf_dir).collect()
    }
    assert got == exp


def test_seq_poisson_matches_python(spark, sf_dir):
    """Full python differential of the PRN rank: u_q from the md5
    grid, xi = (u_q * D) div (n*w), bottom-500 with (xi, okey)
    tiebreak — the sample is engine-independent by construction."""
    import hashlib

    from automated_agro_climatic_data_warehouse_spark.sources import load_table

    w = {
        r.okey: r.w_cents
        for r in load_table(spark, sf_dir, "orders")
        .selectExpr(
            "o_orderkey as okey",
            "cast(round(o_totalprice * 100) as bigint) as w_cents",
        )
        .collect()
    }
    d = sum(w.values())
    ranked = []
    for okey, wc in w.items():
        u_q = (
            int(hashlib.md5(f"pareto:{okey}".encode()).hexdigest()[:8], 16)
            % 1048575
            + 1
        )
        xi = 0 if 500 * wc >= d else (u_q * d) // (500 * wc)
        ranked.append((xi, okey, wc))
    exp = sorted(ranked)[:500]
    got = [
        (r.xi_q, r.okey, r.w_cents)
        for r in QUERIES["sample_seq_poisson"].spark_fn(spark, sf_dir).collect()
    ]
    assert sorted(got) == exp
    assert len(got) == min(500, len(w))


def test_fs_band_histogram_matches_python(spark, sf_dir):
    """Full python differential of the Fellegi-Sunter decision layer
    (covers BOTH linkage queries through the shared helpers): m/u
    estimation with Laplace smoothing, per-field ln-grid weights,
    sign-split banding — replayed from the collected blocked pair
    frame."""
    import math

    pairs = [
        (r.g1, r.g2, r.g3, r.g4, r.is_true, r.h)
        for r in _fs_pairs(_fs_union(spark, sf_dir), ("nat", "seg")).collect()
    ]
    got = {
        r.band: (r.n_pairs, r.n_true_match)
        for r in QUERIES["dedup_fs_blocked"].spark_fn(spark, sf_dir).collect()
    }
    assert got == _fs_band_py(pairs)


def test_jaccard_links_matches_python(spark, sf_dir):
    """Brute-force replica from the same LSH edge list: adjacency sets
    in python, 2-hop candidate pairs, jaccard via inclusion-exclusion,
    direct edges excluded — every output row must match."""
    from automated_agro_climatic_data_warehouse_spark.operators.dedup import (
        dedup_hash_backend,
        minhash_lsh_dedup,
    )
    from automated_agro_climatic_data_warehouse_spark.plans.graph_queries import (
        _chain_docs,
    )

    backend = dedup_hash_backend()
    pairs = minhash_lsh_dedup(
        _chain_docs(spark, sf_dir), backend=backend
    ).collect()
    adj = {}
    for r in pairs:
        adj.setdefault(r.doc_a, set()).add(r.doc_b)
        adj.setdefault(r.doc_b, set()).add(r.doc_a)
    exp = {}
    for via, nbrs in adj.items():
        for u in nbrs:
            for v in nbrs:
                if u < v and v not in adj[u]:
                    cn = len(adj[u] & adj[v])
                    union = len(adj[u]) + len(adj[v]) - cn
                    exp[(u, v)] = (cn, union, (cn * 1_000_000) // union)
    got = {
        (r.doc_u, r.doc_v): (r.common_neighbors, r.union_size, r.jaccard_e6)
        for r in QUERIES["graph_jaccard_links"].spark_fn(spark, sf_dir).collect()
    }
    assert got == exp


def test_degenerate_readouts_are_null_not_inf(spark):
    """r10 review finding: all-tied or one-armed prefixes must read
    out NULL, never Inf/NaN — the silent-poison values a monitor
    consumer can't range-check."""
    import math

    from automated_agro_climatic_data_warehouse_spark.operators.quality import (
        cramers_v_readout,
        ct_merge,
        kw_histogram_merge,
        kw_readout,
        mw_histogram_merge,
        mw_readout,
    )

    # every value tied -> MW variance 0 -> z NULL
    tied = spark.createDataFrame([(7, i % 2) for i in range(10)],
                                 "cents bigint, g1 int")
    r = mw_readout(mw_histogram_merge(tied, None)).collect()[0]
    assert r.z_score is None
    # one-armed -> also NULL (n1*n2 = 0)
    onearm = spark.createDataFrame([(i, 1) for i in range(6)],
                                   "cents bigint, g1 int")
    assert (
        mw_readout(mw_histogram_merge(onearm, None)).collect()[0].z_score
        is None
    )
    # KW: single distinct value -> tie correction 1 -> h_adj NULL
    kt = spark.createDataFrame([("g0", 3), ("g1", 3), ("g1", 3)],
                               "grp string, cents bigint")
    kr = kw_readout(kw_histogram_merge(kt, None)).collect()[0]
    assert kr.h_adj is None
    assert not math.isinf(kr.h_stat) and not math.isnan(kr.h_stat)
    # Cramér: 1-column table -> V NULL (chi2 still 0, defined)
    cv = spark.createDataFrame([("a", 0), ("b", 0)],
                               "event_type string, dow bigint")
    cr = cramers_v_readout(ct_merge(cv, None)).collect()[0]
    assert cr.cramers_v is None and cr.chi2_e6 == 0
