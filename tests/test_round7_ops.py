"""Round-7 operator pins: the PPJoin quasi-clique guard and its audit.

The guard's contract: ppjoin_pairs' OUTPUT is unchanged (losslessness
pins in test_wave9_ops / test_property_wave9 still cover it), but the
internal candidate frame is computed over DISTINCT token-sets — so a
k-document identical-set clique contributes exactly one set to
candidate generation, and cand_rep_pairs is INDEPENDENT of k.
"""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from automated_agro_climatic_data_warehouse_spark.operators.dedup import (
    ppjoin_audit,
    ppjoin_pairs,
)


def _tok(spark, sets: dict[int, set[str]]):
    rows = [(i, t) for i, s in sets.items() for t in s]
    return spark.createDataFrame(rows, "doc_id long, token string")


def _clique_corpus(k: int) -> dict[int, set[str]]:
    """k identical template docs + three distinct near/far docs."""
    template = {f"t{i}" for i in range(20)}
    sets = {i: set(template) for i in range(k)}
    sets[1000] = set(template) - {"t0"} | {"x0"}  # near (J = 18/22 < .95)
    sets[1001] = {f"y{i}" for i in range(20)}  # far
    sets[1002] = set(template) - {"t1"}  # J = 19/20 = .95 exactly
    return sets


def test_clique_guard_candidates_independent_of_multiplicity(spark):
    """cand_rep_pairs and n_sets must not grow with clique width k —
    the whole point of the identical-set collapse."""
    audits = {}
    for k in (2, 10):
        a = ppjoin_audit(_tok(spark, _clique_corpus(k))).collect()[0]
        audits[k] = a
        assert a.n_docs == k + 3
        assert a.n_sets == 4  # template, near, far, J=.95 neighbor
    assert (
        audits[2].cand_rep_pairs == audits[10].cand_rep_pairs
    ), "candidate frame grew with identical-set multiplicity"
    assert audits[2].true_rep_pairs == audits[10].true_rep_pairs


def test_audit_counts_match_bruteforce(spark):
    sets = _clique_corpus(5)
    a = ppjoin_audit(_tok(spark, sets)).collect()[0]
    true_pairs = sum(
        1
        for (ia, sa), (ib, sb) in itertools.combinations(
            sorted(sets.items()), 2
        )
        if 39 * len(sa & sb) >= 19 * (len(sa) + len(sb))
    )
    assert a.true_pairs == true_pairs
    assert a.cand_rep_pairs >= a.true_rep_pairs
    # expanded >= rep-level: every rep pair expands to >= 1 member pair,
    # plus the within-clique C(5,2) = 10 identical pairs
    assert a.true_pairs >= a.true_rep_pairs + 10


def test_pairs_output_unchanged_by_guard_on_clique(spark):
    """ppjoin_pairs must still enumerate the exact brute-force pair set
    on a corpus dominated by an identical-set clique (the guard's
    expansion path: within-group J=1 pairs + cross-group fan-out)."""
    sets = _clique_corpus(6)
    got = {
        (r.da, r.db): r.j_e4
        for r in ppjoin_pairs(_tok(spark, sets)).collect()
    }
    expected = {}
    for (ia, sa), (ib, sb) in itertools.combinations(
        sorted(sets.items()), 2
    ):
        i = len(sa & sb)
        if 39 * i >= 19 * (len(sa) + len(sb)):
            expected[(ia, ib)] = (10000 * i) // (len(sa) + len(sb) - i)
    assert got == expected
    # sanity on shape: all 15 within-clique pairs present at J = 1
    assert sum(1 for v in got.values() if v == 10000) >= 15


def test_audit_query_registered_with_oracle(spark):
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

    spec = QUERIES["dedup_ppjoin_audit"]
    assert spec.oracle is not None
    row = spec.spark_fn(spark, "/root/testdata/sf0.001").collect()[0]
    assert row.n_sets <= row.n_docs
    assert row.cand_rep_pairs >= row.true_rep_pairs
    assert row.true_pairs >= row.true_rep_pairs


# --- KMV quantile sketch + distinct estimator -------------------------


def test_quantile_sketch_exact_when_n_le_k(spark):
    """With n <= k the sample is the whole input, so the readout equals
    the same order-statistic rule applied to ALL values — exact."""
    from automated_agro_climatic_data_warehouse_spark.operators.sketches import (
        kmv_state,
        quantiles_from_sample,
    )

    rows = [(i, float(v)) for i, v in enumerate([9, 1, 5, 3, 7, 2, 8])]
    df = spark.createDataFrame(rows, "event_id long, value double")
    samp = kmv_state(df, "event_id", "value", 1024)
    got = {
        r.p: (r.est_value, r.sample_m)
        for r in quantiles_from_sample(samp).collect()
    }
    vs = sorted(v for _, v in rows)
    m = len(vs)
    for p in (1, 5, 25, 50, 75, 95, 99):
        r = max(1, -(-(p * m) // 100))  # ceil
        assert got[p] == (vs[r - 1], m)


def test_quantile_sketch_dkw_rank_error(spark):
    """On the sf0.01 events table (10k rows >> k=1024) every percentile
    estimate's TRUE rank must sit within the DKW band of its target
    (sqrt(ln(2/1e-3)/2k) ~ 0.061 at k=1024; the fixed corpus + fixed
    hash make the observed error deterministic, so this cannot flake)."""
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

    sf = "/root/testdata/sf0.01"
    est = {
        r.p: r.est_value
        for r in QUERIES["ev_quantile_sketch"].spark_fn(spark, sf).collect()
    }
    values = sorted(
        r.value
        for r in spark.read.parquet(f"{sf}/events.parquet")
        .filter(F.col("value").isNotNull())
        .select("value")
        .collect()
    )
    n = len(values)
    import bisect

    for p, v in est.items():
        lo = bisect.bisect_left(values, v) / n
        hi = bisect.bisect_right(values, v) / n
        target = p / 100.0
        # distance from target to the [lo, hi] rank interval of v
        err = max(lo - target, target - hi, 0.0)
        assert err <= 0.061, (p, v, lo, hi)


def test_kmv_distinct_exact_below_k_and_bounded_error_above(spark):
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

    row = (
        QUERIES["ev_kmv_distinct"]
        .spark_fn(spark, "/root/testdata/sf0.001")
        .collect()[0]
    )
    # estimator sanity: within 5x either way even at worst
    assert 0 < row.est_distinct < 5 * row.exact_distinct
    assert row.est_distinct > row.exact_distinct // 5
    # and the small-cardinality EXACT path: fewer distinct hashes than
    # k=64 means est == number of distinct hashes (== exact count
    # unless 32-bit collisions, which this fixture doesn't have)
    if row.exact_distinct < 64:
        assert row.est_distinct == row.exact_distinct


# --- iterative BPE: differential vs a plain-Python reference ----------


def _bpe_reference(word_freqs: dict[str, int], k: int):
    """Plain-Python BPE trainer: greedy leftmost-first non-overlapping
    merge of the (count desc, pair asc) winner, k rounds."""
    seqs = {w: (list(w), f) for w, f in word_freqs.items()}
    out = []
    for rnd in range(1, k + 1):
        counts = {}
        for syms, f in seqs.values():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), n = best
        out.append((rnd, a, b, n))
        for w, (syms, f) in seqs.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            seqs[w] = (merged, f)
    return out


def test_bpe_train_small_fixed(spark):
    from automated_agro_climatic_data_warehouse_spark.operators.bpe import bpe_train

    freqs = {"abab": 3, "aaaa": 2, "abc": 5, "bc": 4, "a": 7}
    words = spark.createDataFrame(
        list(freqs.items()), "w string, freq long"
    )
    got = sorted(
        (r.round, r.s1, r.s2, r.n) for r in bpe_train(words, 4).collect()
    )
    assert got == sorted(_bpe_reference(freqs, 4))


def test_bpe_train_hypothesis_differential(spark):
    """Random small-alphabet corpora (runs of repeated chars stress the
    leftmost-nonoverlap parity) — Spark loop == Python reference."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from automated_agro_climatic_data_warehouse_spark.operators.bpe import bpe_train

    words_st = st.dictionaries(
        st.text(alphabet="ab", min_size=1, max_size=8),
        st.integers(min_value=1, max_value=9),
        min_size=1,
        max_size=6,
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(words_st)
    def inner(freqs):
        words = spark.createDataFrame(
            list(freqs.items()), "w string, freq long"
        )
        got = sorted(
            (r.round, r.s1, r.s2, r.n)
            for r in bpe_train(words, 3).collect()
        )
        assert got == sorted(_bpe_reference(freqs, 3))

    inner()


def test_bpe_compression_consistent_with_training(spark):
    """tokens_after must equal tokens_before minus the sum of merge
    frequencies (each applied merge removes exactly one symbol per
    occurrence) — ties the compression readout to the training loop."""
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"
    comp = QUERIES["ts_bpe_compression"].spark_fn(spark, sf).collect()[0]
    merges = (
        QUERIES["ts_bpe_iterative_merges"].spark_fn(spark, sf).collect()
    )
    assert comp.tokens_after == comp.tokens_before - sum(
        r.n for r in merges
    )
    assert 0 < comp.saved_e4 < 10000
    assert (
        comp.saved_e4
        == 10000
        * (comp.tokens_before - comp.tokens_after)
        // comp.tokens_before
    )


def test_grouped_quantile_sketch_exact_for_small_groups(spark):
    """A group with fewer than k=256 rows keeps ALL its rows, so its
    readout equals the order-statistic rule on the full group."""
    from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"
    got = {
        (r.event_type, r.p): (r.est_value, r.sample_m)
        for r in QUERIES["ev_quantile_sketch_by_type"]
        .spark_fn(spark, sf)
        .collect()
    }
    rows = (
        spark.read.parquet(f"{sf}/events.parquet")
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select("event_type", "value")
        .collect()
    )
    by_type: dict[str, list[float]] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r.value)
    for (et, p), (est, m) in got.items():
        vs = sorted(by_type[et])
        if len(vs) <= 256:
            assert m == len(vs)
            rank = max(1, -(-(p * m) // 100))
            assert est == vs[rank - 1], (et, p)
