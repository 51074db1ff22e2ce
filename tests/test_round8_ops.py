"""Round-8 operators: the tail-biased rank digest (KLL/t-digest family,
deterministic) — rank-error bound, DKW head-to-head under heavy skew,
and the streaming drain's stream ≡ batch pin.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # multi-minute suite: excluded from the default (driver) tier

import numpy as np
from pyspark.sql import functions as F

from automated_agro_climatic_data_warehouse_spark.operators.dedup import hash32
from automated_agro_climatic_data_warehouse_spark.operators.sketches import (
    biased_digest_local,
    biased_digest_merge,
    biased_digest_quantiles,
    kmv_state,
    quantiles_from_sample,
)
from automated_agro_climatic_data_warehouse_spark.streaming.tdigest import (
    tdigest_drain,
    tdigest_readout,
)

N = 20000
PERMILLE = (500, 950, 990, 999)


def _skewed_rows():
    """Deterministic heavy-right-skew integers: a fixed permutation of
    0..N-1 cubed — the tail regime where additive (DKW) bounds are
    weakest and relative (digest) bounds shine."""
    vals = np.array([(i * 2654435761) % N for i in range(N)], dtype=np.int64)
    qv = vals**3
    return [(int(i), int(qv[i])) for i in range(N)], np.sort(qv)


def _digest_estimates(spark, rows):
    df = spark.createDataFrame(rows, "id long, qv long")
    ev = df.withColumn(
        "shard",
        hash32(F.concat(F.lit("td:"), F.col("id").cast("string"))) % 8,
    )
    c1 = biased_digest_local(ev, "shard", "qv", "id")
    c1 = c1.withColumn(
        "tb",
        F.concat_ws(
            ":",
            *[F.col(c).cast("string") for c in ("shard", "side", "l", "sub")],
        ),
    )
    digest = biased_digest_merge(c1)
    return (
        {r.p_permille: r.est_e6
         for r in biased_digest_quantiles(digest, permille=PERMILLE).collect()},
        c1.count(),
    )


def _rank_err(sorted_vals, est, target):
    return abs(int(np.searchsorted(sorted_vals, est, side="right")) - target)


def test_tdigest_relative_rank_error_bound(spark):
    """Every estimate's rank error must respect the composable relative
    bound: d/delta1 (per-shard bucketing) + d/delta2 (re-cluster) +
    one rounding unit per shard, with d the tail distance of the
    target rank — the biased-quantiles guarantee the construction
    encodes (operators/sketches.biased_digest_local docstring)."""
    rows, sv = _skewed_rows()
    est, _ = _digest_estimates(spark, rows)
    for p in PERMILLE:
        t = max(1, (p * N + 999) // 1000)
        d = min(t, N + 1 - t)
        bound = d // 16 + d // 32 + 8
        err = _rank_err(sv, est[p], t)
        assert err <= bound, f"p{p}: rank error {err} > bound {bound}"


def test_tdigest_beats_bottomk_sample_at_tails(spark):
    """DKW-vs-digest head-to-head (r7 verdict #8): under heavy skew the
    digest's TAIL estimates (p990/p999) must out-rank the k=1024
    uniform bottom-k sample's p99 — relative error vs the additive DKW
    regime — at comparable state (level-1 digest ~1.8k centroids,
    final ~600, vs the 1024-row sample). The sample stays better at
    the MEDIAN (its error is uniform in rank; the digest spends its
    budget at the tails) — both directions are pinned so the trade is
    visible, not accidental."""
    rows, sv = _skewed_rows()
    est, level1_size = _digest_estimates(spark, rows)
    assert level1_size <= 2048  # comparable state budget
    df = spark.createDataFrame(rows, "id long, qv long").withColumn(
        "value", F.col("qv").cast("double")
    )
    samp = kmv_state(df, "id", "value", 1024)
    sq = {
        r.p: r.est_value
        for r in quantiles_from_sample(
            samp, percentiles=(50, 99)
        ).collect()
    }
    samp_p99_err = _rank_err(sv, sq[99], max(1, (99 * N + 99) // 100))
    samp_p50_err = _rank_err(sv, sq[50], max(1, (50 * N + 99) // 100))
    dig_p990_err = _rank_err(sv, est[990], max(1, (990 * N + 999) // 1000))
    dig_p999_err = _rank_err(sv, est[999], max(1, (999 * N + 999) // 1000))
    dig_p500_err = _rank_err(sv, est[500], max(1, (500 * N + 999) // 1000))
    assert dig_p990_err < samp_p99_err, (
        f"digest p990 err {dig_p990_err} !< sample p99 err {samp_p99_err}"
    )
    assert dig_p999_err < samp_p99_err
    # the price of tail bias, honestly pinned: coarser at the median
    assert dig_p500_err >= samp_p50_err


def test_tdigest_stream_equals_batch(spark, tmp_path):
    """3-file availableNow drain accumulating per-batch local digests;
    the final readout must be BIT-IDENTICAL to the batch twin sharded
    by the same (file-ordinal, hash) composite — the digest is a
    deterministic function of the shard partition, and the drain
    respects it by construction. Re-drain on the same checkpoint is an
    exactly-once no-op."""
    rows, _ = _skewed_rows()
    rows = rows[:6000]
    src = str(tmp_path / "src")
    full = []
    for f in range(3):
        chunk = [
            (i, qv, f * 8 + (i * 11) % 8)
            for (i, qv) in rows[f * 2000 : (f + 1) * 2000]
        ]
        full.extend(chunk)
        spark.createDataFrame(
            chunk, "id long, qv long, shard long"
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f{f}")
    args = (
        spark,
        f"{src}/*",
        "id long, qv long, shard long",
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
    )
    state = tdigest_drain(*args)
    streamed = {
        tuple(r) for r in tdigest_readout(state, permille=PERMILLE).collect()
    }
    batch = spark.createDataFrame(full, "id long, qv long, shard long")
    bc = biased_digest_local(batch, "shard", "qv", "id")
    batched = {
        tuple(r) for r in tdigest_readout(bc, permille=PERMILLE).collect()
    }
    assert streamed == batched and len(streamed) == len(PERMILLE)
    # exactly-once: re-drain over the same checkpoint changes nothing
    state2 = tdigest_drain(*args)
    assert {tuple(r) for r in state2.collect()} == {
        tuple(r) for r in state.collect()
    }


def test_weighted_digest_token_vs_doc_weighted_gap(spark, sf_dir):
    """The token-weighted length digest must (a) sit within the
    relative rank-error bound against the exact numpy weighted
    quantile, and (b) read out at-or-above the doc-weighted digest at
    the median — long documents carry proportionally more tokens, so
    the loss-eye-view length distribution is right-shifted (the
    curation diagnostic the query exists to expose)."""
    import pandas as pd

    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

    out = {
        int(r.p_permille): int(r.est_len)
        for r in QUERIES["ts_tdigest_token_weighted_len"]
        .spark_fn(spark, sf_dir)
        .collect()
    }
    pdf = pd.read_parquet(f"{sf_dir}/documents.parquet")
    pdf = pdf[pdf["text"].notna() & (pdf["text"].str.strip() != "")]
    wt = pdf["text"].str.strip().str.split().str.len().to_numpy()
    qv = pdf["n_chars"].to_numpy()
    order = np.argsort(qv, kind="stable")
    qs, ws = qv[order], wt[order]
    cum = np.cumsum(ws)
    W = int(cum[-1])
    for p in (500, 900, 990):
        t = max(1, (p * W + 999) // 1000)
        d = min(t, W + 1 - t)
        # exact weighted quantile: first value whose cum weight >= t
        exact = int(qs[np.searchsorted(cum, t)])
        # rank error of the estimate, in WEIGHT units
        est_rank = int(cum[min(np.searchsorted(qs, out[p], side="right"),
                               len(cum)) - 1]) if out[p] >= qs[0] else 0
        bound = d // 16 + d // 32 + 2 * max(ws)  # +granularity of one doc
        assert abs(est_rank - t) <= bound, (p, est_rank, t, bound, exact)
    # the right-shift diagnostic: token-weighted median length sits
    # at-or-above the plain doc-weighted median
    med_doc = int(np.median(qv))
    assert out[500] >= med_doc


def test_tdigest_drain_compaction_bounds_state(spark, tmp_path):
    """Unbounded-stream mode: with max_state_rows set, the drain must
    recompress on overflow — final state stays under the cap (+ one
    batch's worth before the next check) and the readout still
    respects the COMPOSED error bound (each compaction adds one
    d/delta2 term). 6 micro-batches with a tiny cap force several
    compactions."""
    rows, sv = _skewed_rows()
    rows = rows[:12000]
    src = str(tmp_path / "srcc")
    for f in range(6):
        chunk = [
            (i, qv, f * 8 + (i * 11) % 8)
            for (i, qv) in rows[f * 2000 : (f + 1) * 2000]
        ]
        spark.createDataFrame(
            chunk, "id long, qv long, shard long"
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f{f}")
    cap = 600
    state = tdigest_drain(
        spark,
        f"{src}/*",
        "id long, qv long, shard long",
        str(tmp_path / "statec"),
        str(tmp_path / "ckptc"),
        max_state_rows=cap,
    )
    n_state = state.count()
    assert n_state <= cap + 900  # cap + one uncompacted batch of digests
    est = {
        int(r.p_permille): int(r.est_e6)
        for r in tdigest_readout(state, permille=PERMILLE).collect()
    }
    n = 12000
    svc = np.sort(np.array([q for _, q in rows], dtype=np.int64))
    for p in PERMILLE:
        t = max(1, (p * n + 999) // 1000)
        d = min(t, n + 1 - t)
        # <=6 compactions (one per batch worst-case) + final merge,
        # each adding d/32; local stage adds d/16; + rounding slack
        bound = d // 16 + 7 * (d // 32) + 48
        err = _rank_err(svc, est[p], t)
        assert err <= bound, f"p{p}: err {err} > bound {bound}"
