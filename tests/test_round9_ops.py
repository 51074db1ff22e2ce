"""Round-9 additions: full independent Python recomputation of each
new query's arithmetic from the raw parquet tables.
"""

from __future__ import annotations

import hashlib
from collections import Counter

from automated_agro_climatic_data_warehouse_spark.plans import QUERIES


def _fs_records(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").collect()
    recs = []
    for r in cust:
        if r.c_custkey >= 2000:
            continue
        cents = round(r.c_acctbal * 100)
        recs.append(
            (r.c_custkey, r.c_nationkey, r.c_name, r.c_mktsegment, cents)
        )
        if r.c_custkey % 20 == 0:
            recs.append(
                (
                    -r.c_custkey,
                    r.c_nationkey,
                    r.c_name,
                    r.c_mktsegment,
                    cents + (1 if r.c_custkey % 40 == 0 else 0),
                )
            )
    return recs


def test_blocking_audit_matches_python(spark, sf_dir):
    recs = _fs_records(spark, sf_dir)

    def kilo(c):
        return c // 1000 if c >= 0 else -((-c) // 1000)

    schemes = {
        "nation": lambda r: str(r[1]),
        "segment": lambda r: r[3],
        "nation_segment": lambda r: f"{r[1]}|{r[3]}",
        "cents_kilo": lambda r: str(kilo(r[4])),
    }
    by_key = {r[0]: r for r in recs}
    true_pairs = [
        (by_key[-k], by_key[k]) for k in by_key if k < 0
    ]
    n_rec = len(recs)
    total = n_rec * (n_rec - 1) // 2
    expect = {}
    for name, keyf in schemes.items():
        blocks = Counter(keyf(r) for r in recs)
        cands = sum(n * (n - 1) // 2 for n in blocks.values())
        covered = sum(1 for c, o in true_pairs if keyf(c) == keyf(o))
        expect[name] = (
            len(blocks),
            cands,
            len(true_pairs),
            covered,
            (total - cands) * 1000000 // total,
            covered * 1000000 // len(true_pairs),
        )
    got = {
        r.strategy: (
            r.n_blocks,
            r.n_candidates,
            r.n_true,
            r.n_true_covered,
            r.rr_e6,
            r.pc_e6,
        )
        for r in QUERIES["dedup_blocking_audit"]
        .spark_fn(spark, sf_dir)
        .collect()
    }
    assert got == expect
    # the production nation block must be recall-complete on this
    # corpus (injected copies keep nationkey) while still pruning the
    # bulk of the comparison space
    assert got["nation"][5] == 1000000
    assert got["nation"][4] > 900000


def test_katz_matches_python(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").collect()
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    cust_of = {r.o_orderkey: r.o_custkey for r in orders}
    e0 = {(cust_of[r.l_orderkey], r.l_suppkey) for r in li}
    edges = set()
    for c, s in e0:
        edges.add((c, -(s + 1)))
        edges.add((-(s + 1), c))
    nodes = {u for u, _ in edges} | {v for _, v in edges}
    T = 1 << 20
    x = {n: T for n in nodes}
    for _ in range(4):
        sm = Counter()
        for u, v in edges:
            sm[v] += x[u]
        x = {n: sm[n] // 1024 + T for n in nodes}
    got = {
        r.node: r.score_q
        for r in QUERIES["graph_katz_k4"].spark_fn(spark, sf_dir).collect()
    }
    assert got == x
    # Katz semantics: suppliers touched by many customers outrank the
    # beta baseline; every score is at least beta
    assert min(got.values()) >= T


def test_page_hinkley_matches_python(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    daily = Counter((r.event_type, r.ts.date()) for r in ev)
    by_type = {}
    for (et, day), x in daily.items():
        by_type.setdefault(et, []).append((day, x))
    T = 1 << 20
    expect = {}
    for et, rows in by_type.items():
        rows.sort()
        s = 0
        m = 0
        min_m = 0
        ph_series = []
        for i, (day, x) in enumerate(rows, start=1):
            s += x
            num = x * i - s
            d_q = (num * T) // i if num >= 0 else -(((-num) * T) // i)
            m += d_q - 524288
            min_m = min(min_m, m)  # running min incl. current row
            ph_series.append((day, m - min(0, min_m)))
        alarms = [(d, p) for d, p in ph_series if p > 20971520]
        expect[et] = (
            len(ph_series),
            max(p for _, p in ph_series),
            len(alarms),
            alarms[0][0] if alarms else None,
        )
    got = {
        r.event_type: (
            r.n_days,
            r.max_ph_q,
            r.n_alarm_days,
            r.first_alarm_day,
        )
        for r in QUERIES["dq_page_hinkley"].spark_fn(spark, sf_dir).collect()
    }
    assert got == expect


def test_anova_f_matches_python(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    grp = {}
    for r in ev:
        if r.value is None:
            continue
        cents = round(r.value * 100)
        n, s1, s2 = grp.get(r.event_type, (0, 0, 0))
        grp[r.event_type] = (n + 1, s1 + cents, s2 + cents * cents)
    k = len(grp)
    n = sum(g[0] for g in grp.values())
    s1 = sum(g[1] for g in grp.values())
    s2 = sum(g[2] for g in grp.values())
    a_q = sum((g[1] * g[1] * 1000) // g[0] for g in grp.values())
    ssb_q = a_q - (s1 * s1 * 1000) // n
    ssw_q = s2 * 1000 - a_q
    f = (float(ssb_q) / (k - 1)) / (float(ssw_q) / (n - k))
    row = QUERIES["ev_anova_f"].spark_fn(spark, sf_dir).collect()[0]
    assert (row.k, row.n, row.ssb_q, row.ssw_q) == (k, n, ssb_q, ssw_q)
    assert abs(row.f_stat - f) < 1e-9 * max(1.0, abs(f))


def test_mann_whitney_matches_python(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    vals = [
        (round(r.value * 100), 1 if r.event_type == "purchase" else 0)
        for r in ev
        if r.value is not None and r.event_type in ("purchase", "click")
    ]
    hist = {}
    for c, g in vals:
        t, t1 = hist.get(c, (0, 0))
        hist[c] = (t + 1, t1 + g)
    n1 = sum(t1 for _, t1 in hist.values())
    n2 = sum(t - t1 for t, t1 in hist.values())
    r1_x2 = 0
    tie = 0
    c_lt = 0
    for c in sorted(hist):
        t, t1 = hist[c]
        r1_x2 += t1 * (2 * c_lt + t + 1)
        tie += t * t * t - t
        c_lt += t
    u1_x2 = r1_x2 - n1 * (n1 + 1)
    nn = n1 + n2
    var = n1 * n2 * (nn * (nn - 1) * (nn + 1) - tie) / (12 * nn * (nn - 1))
    z = (u1_x2 - n1 * n2) / (2.0 * var**0.5)
    row = QUERIES["ev_mann_whitney"].spark_fn(spark, sf_dir).collect()[0]
    assert (row.n1, row.n2, row.u1_x2, row.mu_x2, row.tie_term) == (
        n1,
        n2,
        u1_x2,
        n1 * n2,
        tie,
    )
    assert abs(row.z_score - z) < 1e-9 * max(1.0, abs(z))


def test_eb_shrinkage_matches_python(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    grp = {}
    for r in ev:
        if r.user_id is None:
            continue
        n, x = grp.get(r.user_id % 20, (0, 0))
        grp[r.user_id % 20] = (
            n + 1,
            x + (1 if r.event_type == "purchase" else 0),
        )
    nn = sum(g[0] for g in grp.values())
    xx = sum(g[1] for g in grp.values())
    expect = {
        c: (
            n,
            x,
            x * 1000000 // n,
            (x * nn + 200 * xx) * 1000000 // (nn * (n + 200)),
            n * 1000000 // (n + 200),
        )
        for c, (n, x) in grp.items()
    }
    got = {
        r.cohort: (r.n, r.x, r.raw_e6, r.shrunk_e6, r.w_e6)
        for r in QUERIES["ev_eb_shrinkage"].spark_fn(spark, sf_dir).collect()
    }
    assert got == expect
    # shrinkage must pull every cohort strictly toward the pooled rate
    pooled_e6 = xx * 1000000 // nn
    for _, (_, _, raw, shrunk, _) in expect.items():
        if raw > pooled_e6:
            assert raw >= shrunk >= pooled_e6 - 1
        elif raw < pooled_e6:
            assert raw <= shrunk <= pooled_e6 + 1


def test_pareto_pps_matches_python(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    w = {r.o_orderkey: round(r.o_totalprice * 100) for r in orders}
    d = sum(w.values())
    T = 1 << 20
    ranked = []
    for okey, wc in w.items():
        h = int(
            hashlib.md5(f"pareto:{okey}".encode()).hexdigest()[:8], 16
        )
        u = h % (T - 1) + 1
        if 500 * wc >= d:
            q = 0
        else:
            q = (u * (d - 500 * wc) * T) // ((T - u) * 500 * wc)
        ranked.append((q, okey, wc))
    ranked.sort()
    expect = [(okey, wc, q) for q, okey, wc in ranked[:500]]
    got = [
        (r.okey, r.w_cents, r.q_q)
        for r in QUERIES["sample_pareto_pps"].spark_fn(spark, sf_dir).collect()
    ]
    assert got == expect
    # PPS semantics: the sample's mean weight must exceed the corpus's
    n = len(got)
    assert sum(wc for _, wc, _ in got) * len(w) > d * n


def test_ocr_garbage_matches_python(spark, sf_dir):
    import re

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    per_source = {}
    for r in docs:
        text = r.text
        low = text.lower()
        n_chars = len(re.sub(r"\s", "", text))
        n_nonalnum = len(re.sub(r"[a-z0-9\s]", "", low))
        runs = re.findall(r"[bcdfghjklmnpqrstvwxz]+", low)
        max_run = max((len(x) for x in runs), default=0)
        toks = re.split(r"\s+", text.strip())
        n_tokens = len(toks)
        n_single = sum(1 for t in toks if len(t) == 1)
        lowtoks = re.split(r"\s+", low.strip())
        n_mixed = sum(
            1
            for t in lowtoks
            if re.search(r"[0-9]", t) and re.search(r"[a-z]", t)
        )
        f_run = max_run >= 7
        f_symbol = 10 * n_nonalnum > n_chars
        f_single = 5 * n_single > n_tokens
        s = per_source.setdefault(r.source, [0, 0, 0, 0, 0, 0, 0])
        s[0] += 1
        s[1] += 1 if (f_run or f_symbol or f_single) else 0
        s[2] += 1 if f_run else 0
        s[3] += 1 if f_symbol else 0
        s[4] += 1 if f_single else 0
        s[5] = max(s[5], max_run)
        s[6] += n_mixed
    got = {
        r.source: [
            r.n_docs,
            r.n_garbage,
            r.n_run_flag,
            r.n_symbol_flag,
            r.n_single_flag,
            r.max_consonant_run,
            r.n_mixed_tokens,
        ]
        for r in QUERIES["ts_ocr_garbage_detect"]
        .spark_fn(spark, sf_dir)
        .collect()
    }
    assert got == per_source


def _srp_py(emb_rows):
    """Python twin of the SRP bucket assignment (8 md5 planes, 2^12
    grid)."""
    T = 4096
    planes = []
    for p in range(8):
        row = []
        for i in range(64):
            h = int(
                hashlib.md5(f"srp:{p}:{i}".encode()).hexdigest()[:8], 16
            )
            row.append(1 if h % 2 == 0 else -1)
        planes.append(row)
    out = {}
    for r in emb_rows:
        qv = [round(float(x) * T) for x in r.embedding]
        b = 0
        for p in range(8):
            d = sum(q * w for q, w in zip(qv, planes[p]))
            if d > 0:
                b |= 1 << p
        out[r.vec_id] = (b, r.embedding)
    return out


def test_srp_multiprobe_matches_python(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    buckets = _srp_py(emb)

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return round(num / na / nb, 12)

    by_bucket = {}
    for vid, (b, e) in buckets.items():
        by_bucket.setdefault(b, []).append((vid, e))
    expect = {}
    for qid, (qb, qe) in buckets.items():
        if qid >= 50:
            continue
        cands = []
        for dist, probes in ((0, [qb]), (1, [qb ^ (1 << p) for p in range(8)])):
            for pb in probes:
                for nid, ne in by_bucket.get(pb, []):
                    if nid != qid:
                        cands.append((-cos(qe, ne), nid, dist))
        cands.sort()
        expect[qid] = [
            (nid, dist, rank)
            for rank, (_, nid, dist) in enumerate(cands[:3], start=1)
        ]
    got = {}
    for r in (
        QUERIES["ann_srp_multiprobe"].spark_fn(spark, sf_dir).collect()
    ):
        got.setdefault(r.query_id, []).append(
            (r.neighbor_id, r.probe_dist, r.rank)
        )
    for qid in got:
        got[qid].sort(key=lambda t: t[2])
    assert got == {k: v for k, v in expect.items() if v}
    # multi-probe must surface at least one neighbor the home bucket
    # alone would have missed somewhere in the corpus
    assert any(
        dist == 1 for hits in got.values() for _, dist, _ in hits
    )


def test_stl_weekday_matches_python(spark, sf_dir):
    from datetime import date

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    daily = Counter(r.ts.date() for r in ev)
    days = sorted(daily)
    xs = [daily[d] for d in days]
    det = {}
    for i, d in enumerate(days):
        lo, hi = max(0, i - 3), min(len(days), i + 4)
        t_sum, t_n = sum(xs[lo:hi]), hi - lo
        trend_e6 = t_sum * 1000000 // t_n
        d_q = xs[i] * 1000000 - trend_e6
        dow = (d - date(1970, 1, 1)).days % 7
        det[d] = (xs[i], dow, trend_e6, d_q)
    season = {}
    for dow in set(v[1] for v in det.values()):
        ds = [v[3] for v in det.values() if v[1] == dow]
        s = sum(ds)
        season[dow] = s // len(ds) if s >= 0 else -((-s) // len(ds))
    expect = {
        d: (x, dow, tr, season[dow], d_q - season[dow])
        for d, (x, dow, tr, d_q) in det.items()
    }
    got = {
        r.day: (r.x, r.dow, r.trend_e6, r.season_e6, r.resid_e6)
        for r in QUERIES["ev_stl_weekday_profile"]
        .spark_fn(spark, sf_dir)
        .collect()
    }
    assert got == expect
    # the decomposition must reassemble exactly: x*1e6 = trend + season + resid
    for d, (x, _, tr, se, re_) in got.items():
        assert x * 1000000 == tr + se + re_


def test_bench_history_stats_shape():
    """The co-load clamp's history loader: per-query (median, bound)
    keyed by the CURRENT sf only, robust to junk lines. The bound is
    the r10-verdict variance-aware trigger median + max(0.5*median,
    4*IQR) — tight-band queries re-rep at ~1.5x their median, noisy
    ones keep roughly the old 2x bar, and <4 idle samples fall back
    to the flat 2x rule."""
    import json
    import os
    from pathlib import Path

    import bench

    os.environ["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.1"
    try:
        stats = bench._history_stats()
    finally:
        del os.environ["SPARK_GRAFT_SF_DIR"]
    assert stats, "BENCH_FULL.jsonl history should yield sf0.1 stats"
    assert all(m > 0 and b >= 1.5 * m for m, b in stats.values())
    # median must reproduce: odd/even counts both pick a real sample;
    # lines tagged "loaded": true are co-loaded runs and must be
    # skipped (r9 verdict, What's wrong #2)
    with open(Path(bench.__file__).with_name("BENCH_FULL.jsonl")) as fh:
        lines = [json.loads(x) for x in fh if x.strip()]
    assert any(l.get("loaded") for l in lines), (
        "the tagged co-loaded r9 line went missing — the loaded-skip "
        "leg of this test no longer exercises anything"
    )
    q = next(iter(stats))
    samples = sorted(
        float(l["queries"][q])
        for l in lines
        if str(l.get("sf")) == "0.1"
        and not l.get("loaded")
        and q in l.get("queries", {})
    )
    med, bound = stats[q]
    assert med == samples[len(samples) // 2]
    if len(samples) >= 4:
        iqr = samples[(3 * len(samples)) // 4] - samples[len(samples) // 4]
        assert bound == med + max(0.5 * med, 4.0 * iqr)
    else:
        assert bound == 2.0 * med
