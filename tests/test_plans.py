"""Physical-plan regression guards.

Correctness is the oracle harness's job; these tests pin the SCALE
properties — the plan shapes that make each operator survive a 100×
data scale-up. If a refactor silently turns a broadcast join into a
shuffle join or breaks parquet pushdown, this is the net that catches it.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # multi-minute suite: excluded from the default (driver) tier

from automated_agro_climatic_data_warehouse_spark.plans import QUERIES

SF = "/root/testdata/sf0.01"


def _plan(spark, name: str) -> str:
    df = QUERIES[name].spark_fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    """Range predicates must reach the parquet reader (PushedFilters),
    not evaluate post-scan — at 100 TB that is the difference between
    reading row groups and skipping them."""
    plan = _plan(spark, "p02_current_filter")
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), f"no filters pushed: {pushed!r}"


def test_projection_prunes_scan_columns(spark):
    """A 2-column projection must not read the whole table (ReadSchema
    pruning) — column pruning is most of the I/O win on wide tables."""
    plan = _plan(spark, "d3_distinct_sources")
    read_schema = plan.split("ReadSchema: ", 1)[1].split("\n", 1)[0]
    assert "source" in read_schema
    assert "text" not in read_schema and "n_chars" not in read_schema


def test_dim_lookup_is_broadcast(spark):
    """Key-resolution joins against small dims must broadcast — a shuffle
    join here would move the fact table for no reason."""
    plan = _plan(spark, "j4_broadcast_lookup")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_avoids_full_sort(spark):
    """ORDER BY .. LIMIT k must plan as TakeOrderedAndProject (true
    top-k: per-partition heaps + merge), never a global sort."""
    plan = _plan(spark, "w3_ordered_topk")
    assert "TakeOrderedAndProject" in plan


def test_window_topk_uses_group_limit(spark):
    """Per-group top-k (row_number <= k) must push the rank filter into
    WindowGroupLimit so partial limits run before the shuffle."""
    plan = _plan(spark, "w4_topk_per_group")
    assert "WindowGroupLimit" in plan


def test_flagship_mv_has_no_shuffle_joins(spark):
    """The MV query joins facts to small dims and cross-joins the tiny
    crop dim — every join should be broadcast-side; a SortMergeJoin means
    a dim lost its size estimate."""
    plan = _plan(spark, "mv_compatibility")
    assert "SortMergeJoin" not in plan


def test_q3_topk_and_broadcast_dim(spark):
    """The 3-way star join must broadcast the filtered customer dim and
    plan its ORDER BY+LIMIT as a true top-k."""
    plan = _plan(spark, "q3_shipping_priority")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_q5_join_tree_has_no_nested_loop(spark):
    """Six-table join tree: everything equi-joins (broadcast or shuffle);
    a nested-loop join means a join condition fell out of the equi set."""
    plan = _plan(spark, "q5_nation_revenue")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_salted_join_spreads_hot_keys(spark):
    """The salted join must key on (hot_key, __salt) — salt present in
    the join's partitioning is the entire point of the operator."""
    plan = _plan(spark, "j8_salted_join")
    assert "__salt" in plan


@pytest.mark.parametrize("name", ["sample_uniform_hash", "split_train_val_test"])
def test_sampling_is_narrow(spark, name):
    """Hash sampling must stay a scan+filter/agg pipeline: no join, no
    window — the zero/one-shuffle shape is the operator's contract."""
    plan = _plan(spark, name)
    assert "Join" not in plan
    assert "Window" not in plan


def test_ivf_candidate_join_is_equi_not_cross(spark):
    """The IVF probe→list join must be an equi-join on centroid_id (plus
    the broadcast centroid scoring); a cartesian/nested-loop over the
    corpus would defeat the inverted-list point entirely."""
    plan = _plan(spark, "ann_ivf_topk")
    assert "CartesianProduct" not in plan
    # the only nested-loop allowed is the broadcast against the tiny
    # centroid table (16 rows)
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_training_prep_pipeline_shape(spark):
    """The composite prep pipeline must stay shuffle-lean: no cartesian
    products anywhere, and the LSH verify stage's candidate-doc
    restriction must be a broadcast semi-join, not a shuffle."""
    plan = _plan(spark, "pipe_training_prep")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


@pytest.mark.parametrize(
    "name", ["ts_chunking", "ts_repetition_filter", "ts_pii_scrub"]
)
def test_narrow_text_ops_have_no_shuffle(spark, name):
    """Chunking, repetition screening, and PII scrubbing are pure
    per-document maps — any Exchange in their plans is a regression."""
    plan = _plan(spark, name)
    assert "Exchange" not in plan, f"{name} shuffles:\n{plan}"


def test_seq_packing_single_exchange(spark):
    """Sequence packing partitions once on the bucket key; the downstream
    (bucket, seq_id) aggregation must reuse that partitioning (subset
    clustering), not add a second shuffle. One Exchange total — that is
    what makes the pack step one pass at 100 TB."""
    plan = _plan(spark, "ts_seq_packing")
    assert plan.count("Exchange") == 1, f"expected 1 exchange:\n{plan}"


def test_source_mix_is_partial_agg(spark):
    """The source-mix report must map-side combine (partial_count / two
    HashAggregate tiers) so the single exchange carries per-source
    partials, never raw rows."""
    plan = _plan(spark, "ts_source_mix")
    assert "partial_count" in plan or "partial count" in plan.lower()


def test_contamination_ngram_join_shape(spark):
    """The 13-gram inverted-index join must stay an equi-join (no
    nested-loop/cartesian fallback) with partial aggregation on both
    distinct legs — the shape that keeps decontamination one shuffle
    keyed by gram at 100 TB."""
    plan = _plan(spark, "dedup_contamination_ngram")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_q6_pure_scan_aggregate(spark):
    """TPC-H-Q6 shape: every predicate pushed to the scan, 4-of-11
    columns read, and no join/window anywhere — the plan is scan →
    partial agg → single-row exchange → final agg."""
    plan = _plan(spark, "q6_revenue_change")
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed
    read_schema = plan.split("ReadSchema: ", 1)[1].split("\n", 1)[0]
    assert "l_extendedprice" in read_schema
    assert "l_returnflag" not in read_schema and "l_tax" not in read_schema
    assert "Join" not in plan


def test_q18_having_reduces_before_join(spark):
    """The HAVING aggregation must run BEFORE the orders/customer joins
    (lineitem collapses to qualifying orderkeys first); the final top-100
    must be TakeOrderedAndProject, not a global sort."""
    plan = _plan(spark, "q18_big_spenders")
    assert "TakeOrderedAndProject" in plan
    # executedPlan prints the sink first, leaves last: the HAVING
    # aggregate must appear BELOW (after, in text order) the last join,
    # i.e. it is a join INPUT, not a post-join pass over the wide result
    last_join = plan.rindex("Join")
    assert "HashAggregate" in plan[last_join:], "no pre-join HAVING aggregate"


def test_grouping_sets_single_expand_single_shuffle(spark):
    """GROUPING SETS must plan as ONE Expand + ONE exchange — three
    separate scans/aggregations would triple the I/O."""
    plan = _plan(spark, "a11_grouping_sets")
    assert plan.count("Expand") >= 1
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") <= 2  # pre-agg expand exchange + AQE read


def test_session_window_native_single_shuffle(spark):
    """The native session_window aggregation must shuffle ONCE on the
    grouping key and merge sessions engine-side (no lag/cumsum window
    chain, which would add a second sort+window pass)."""
    plan = _plan(spark, "ev_session_window_native")
    assert "MergingSessions" in plan or "SessionWindow" in plan or (
        plan.count("Exchange") <= 2
    )
    assert "Window" not in plan  # no lag()-based fallback


def test_simhash_hamming_band_join_is_equi(spark):
    """The hamming-pair search must be a band equi-join (hash-partitioned
    on (band, value)), never a nested-loop/cartesian all-pairs compare —
    the all-pairs form is the oracle's job, not the engine's."""
    plan = _plan(spark, "dedup_simhash_hamming")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zscore_stats_broadcast_back(spark):
    """Per-type moments are tiny — rejoining them onto events must
    broadcast, not shuffle the fact table a second time."""
    plan = _plan(spark, "dq_zscore_outliers")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_funnel_stage_joins_shrink(spark):
    """Funnel stages must join on user_id as hash joins (no nested
    loops); the three single-row stage counts are scalar subqueries."""
    plan = _plan(spark, "ev_funnel_conversion")
    assert "CartesianProduct" not in plan


def test_markov_totals_broadcast(spark):
    """The per-source totals re-join onto transition counts must be a
    broadcast (the key space is |event_types|²) — shuffling the pair
    table again would be pure waste."""
    plan = _plan(spark, "ev_markov_transitions")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_unigram_totals_are_scalar_subqueries(spark):
    """Corpus totals are scalar subqueries, not a nested-loop join; the
    word-count join stays a hash join on the token."""
    plan = _plan(spark, "ts_unigram_logprob")
    assert "Subquery" in plan
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_dedup_lines_single_doc_shuffle(spark):
    """Intra-doc line dedup partitions by document only — no global
    state: the plan may sort within doc partitions but must not add a
    second aggregation exchange beyond the doc key."""
    plan = _plan(spark, "ts_dedup_lines")
    assert "CartesianProduct" not in plan
    # every Exchange must be hash-partitioned on doc_id
    for frag in plan.split("Exchange hashpartitioning(")[1:]:
        assert frag.startswith("doc_id"), frag[:60]


def test_skew_profile_is_two_level_aggregate(spark):
    """Key-skew profiling is a per-key partial agg then a single-row
    reduction — no joins, no windows."""
    plan = _plan(spark, "dq_key_skew_profile")
    assert "Join" not in plan
    assert "Window" not in plan


def test_pmi_topk_and_broadcast_totals(spark):
    """PMI top-50 must plan as TakeOrderedAndProject; the corpus total
    is a scalar subquery; no cartesian."""
    plan = _plan(spark, "ts_pmi_bigrams")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def _unpartitioned_windows(plan: str) -> list[str]:
    """Window nodes whose spec has NO partition columns: inside
    windowspecdefinition(...) the first argument is then a sort spec
    (ends with ASC/DESC); partitioned specs list partition exprs (no
    sort direction) first."""
    import re

    hits = []
    for line in plan.splitlines():
        if "windowspecdefinition(" not in line:
            continue
        for m in re.finditer(r"windowspecdefinition\(([^,]*?)\s+(ASC|DESC)", line):
            hits.append(line.strip()[:160])
            break
    return hits


def test_ntile_deciles_has_no_global_window(spark):
    """w7's exact-ntile rewrite must never move the table to a single
    partition: every Window in the plan is partitioned (the r3 plan had
    a whole-table unpartitioned ntile — a one-task sort at 100 TB)."""
    plan = _plan(spark, "w7_ntile_deciles")
    bad = _unpartitioned_windows(plan)
    assert not bad, f"unpartitioned Window in plan: {bad}"
    assert "CartesianProduct" not in plan


def test_unpartitioned_window_detector_fires(spark):
    """Sanity for the detector itself: a deliberate global ntile must
    be flagged."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    df = spark.range(10).withColumn("r", F.ntile(2).over(W.orderBy("id")))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert _unpartitioned_windows(plan)


def test_q10_topk_and_broadcast_dims(spark):
    """Q10: the top-20 must plan as TakeOrderedAndProject and the
    customer/nation dims must broadcast — a global sort or a shuffled
    dim join would dominate at 100 TB."""
    plan = _plan(spark, "q10_returned_items")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_q15_max_is_a_scalar_subquery_no_window(spark):
    """Q15: the max-revenue filter compares against a scalar subquery,
    not a window — zero Window nodes in the plan."""
    plan = _plan(spark, "q15_top_supplier")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "Subquery" in plan


def test_q19_part_side_prunes_before_broadcast(spark):
    """Q19: the disjunctive brand/size bands must filter the part side
    BEFORE the broadcast (PushedFilters reach the part scan)."""
    plan = _plan(spark, "q19_discounted_revenue")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ewma_single_shuffle_no_join(spark):
    """w11: the 8-tap lag unroll must stay ONE partitioned window over
    one user_id exchange — no self-join and no unpartitioned Window."""
    plan = _plan(spark, "w11_ewma")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert not _unpartitioned_windows(plan)


def test_tfidf_df_broadcasts_and_topk_window_partitioned(spark):
    """ts_tfidf_topk: the vocabulary-sized df side must broadcast back
    onto tf (not shuffle-join), and the per-doc top-5 window must be
    partitioned by doc_id."""
    plan = _plan(spark, "ts_tfidf_topk")
    assert "BroadcastHashJoin" in plan
    assert not _unpartitioned_windows(plan)


def test_gram_column_no_join_single_pos_shuffle(spark):
    """emb_gram_column: projecting x[0] before the posexplode means NO
    join anywhere; the only exchange groups on pos."""
    plan = _plan(spark, "emb_gram_column")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_bloom_prefilter_semi_join_broadcasts(spark):
    """j12: the bucket-occupancy prefilter must reach the fact side as a
    broadcast LEFT SEMI join (the runtime-filter shape), and the exact
    join must still be present behind it."""
    plan = _plan(spark, "j12_bloom_prefilter_join")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_q21_single_fact_shuffle_no_self_joins(spark):
    """q21: the EXISTS/NOT-EXISTS decorrelation must NOT replay the
    textbook two extra lineitem self-joins — lineitem is scanned once
    and the heavy shuffle is the per-order aggregate."""
    plan = _plan(spark, "q21_waiting_suppliers")
    assert plan.count("Scan parquet") <= 3  # lineitem + orders + supplier
    assert "TakeOrderedAndProject" in plan


def test_q2_best_cost_broadcasts_back(spark):
    """q2: the per-part min-cost filter joins back as a BROADCAST hash
    join (the decorrelated correlated-subquery), and the top-100 plans
    as TakeOrderedAndProject."""
    plan = _plan(spark, "q2_min_cost_supplier")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_repo_wide_plan_hygiene(spark):
    """EVERY registered query's physical plan must be free of the two
    instant 100 TB killers: CartesianProduct (unbroadcast cross joins)
    and unpartitioned Window frames (whole-table single-task sorts).
    Allowlist: w9_cumulative_reach and dq_volume_anomaly run their
    windows over per-DAY tables — bounded by calendar cardinality, not
    corpus size (documented in their docstrings)."""
    UNPARTITIONED_OK = {
        "w9_cumulative_reach",
        "dq_volume_anomaly",
        "dq_cusum_shift",  # two ordered windows over the per-DAY table
        # centered 7-day trend window over the per-DAY table
        # (calendar-bounded, the dq_cusum_shift justification)
        "ev_stl_weekday_profile",
        # below-rank cumsum over the (cents, count) HISTOGRAM frame —
        # bounded by the value domain, never corpus-sized (the
        # w14_weighted_ntile_histogram justification)
        "ev_mann_whitney",
        # the same value-domain below-rank cumsum, k-sample variant
        # (the per-group rank sums join the histogram AFTER the window)
        "ev_kruskal_wallis",
        "ev_autocorr_lag1",  # one lag over the per-DAY series (calendar-sized)
        # cumsum over the (value, count) HISTOGRAM frame — bounded by
        # the 50-value quantity domain, never corpus-sized
        "w14_weighted_ntile_histogram",
        # cumsum over the generated 10-row checkpoint spine — constant
        # size by construction (the corpus-sized work is aggregated to
        # first-seen buckets before the window)
        "ts_vocab_growth_heaps",
        # remainder ranking over the SOURCE-cardinality frame (catalog-
        # bounded, never corpus-sized; aggregated before the window)
        "sample_quota_largest_remainder",
        # same quota window composed into the PPS sampler (the PPS
        # cumsum itself is partitioned by source)
        "sample_systematic_pps",
        # same remainder-ranking quota window on the source-cardinality
        # weight frame (Neyman weights instead of counts)
        "sample_neyman_allocation",
        # same catalog-bounded quota window composed into the PPS
        # inference audit (the per-source HT cumsum is partitioned)
        "sample_ht_estimator",
        # cumsum over the per-user-count HISTOGRAM frame — bounded by
        # the distinct activity-count domain, never user- or
        # corpus-sized (docstring's histogram-ECDF argument)
        "ev_lorenz_curve",
        # rank window over the TakeOrderedAndProject'd top-1000
        # vocabulary frame — constant-bounded by _ZIPF_TOPN
        "ts_zipf_fit",
        # reverse-risk cumsum + log-space survival cumsum, both over
        # the session-duration HISTOGRAM (minute-domain-bounded)
        "ev_survival_km",
        # replicate-mean rank over the constant 32-row bootstrap frame
        "sample_poisson_bootstrap",
        # digest-merge + readout cumsums over the CENTROID frame —
        # bounded O(shards * delta * log m) by construction, never
        # corpus-sized (the corpus-sized rank window is shard-
        # partitioned; operators/sketches.biased_digest_merge)
        "ev_quantile_tdigest",
        # same bounded centroid-frame windows, weighted variant (the
        # corpus-sized weighted-rank window is shard-partitioned)
        "ts_tdigest_token_weighted_len",
        # day-rank + day-count windows over the per-DAY table —
        # calendar-bounded (the corpus collapses to daily counts first)
        "sample_time_series_cv",
        # reverse-risk cumsum + two hazard cumsums over the session-
        # duration HISTOGRAM (minute-domain-bounded, the KM argument)
        "ev_hazard_nelson_aalen",
        # same histogram-bounded frame: all-cause KM cumsums + the lag
        # + two CIF cumsums of the Aalen-Johansen estimator
        "ev_competing_risks_cif",
        # greedy-knapsack prefix-sum over the SOURCE-cardinality frame
        # (catalog-bounded, the quota-window argument)
        "pipe_token_budget_allocation",
        # two reverse-risk cumsums over the duration HISTOGRAM for the
        # log-rank O/E/V terms (minute-domain-bounded, the KM argument)
        "ev_survival_logrank",
        # whole-frame n/S aggregates + 7 leads + the 7-row lag cumsum,
        # ALL on the per-DAY frame — calendar-bounded (<= 3650 rows at
        # 10 years; the corpus collapses to daily counts first)
        "dq_ljung_box",
    }
    cart, upw, seen_unpartitioned = [], [], set()
    for name, spec in QUERIES.items():
        plan = (
            spec.spark_fn(spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        if "CartesianProduct" in plan:
            cart.append(name)
        if _unpartitioned_windows(plan):
            seen_unpartitioned.add(name)
            if name not in UNPARTITIONED_OK:
                upw.append(name)
    assert not cart, f"CartesianProduct in: {cart}"
    assert not upw, f"unpartitioned Window in: {upw}"
    # the allowlist must be EXACT: an entry whose plan no longer has an
    # unpartitioned window is rot that would hide a future regression
    stale = UNPARTITIONED_OK - seen_unpartitioned
    assert not stale, f"stale allowlist entries (no global window now): {stale}"


def test_mau_rolling_has_no_nested_loop_join(spark):
    """ev_mau_rolling_28d's contribution step must stay the
    explode(sequence(day, day+27)) projection + broadcast equi
    semi-join — NOT the old broadcast-nested-loop range join whose
    predicate cost was O(activity_rows × distinct_days). Exact 28×
    fan-out, zero join comparisons."""
    plan = _plan(spark, "ev_mau_rolling_28d")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan
    assert "BroadcastHashJoin" in plan


def test_filtered_ann_candidate_join_is_keyed(spark):
    """ann_filtered_topk's metadata filter must participate in the
    candidate equi-join key (composite (label, bucket) hash join), never
    degrade to a cross product with post-filtering — the filtered-ANN
    recall bug AND the 100 TB plan killer in one."""
    plan = _plan(spark, "ann_filtered_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_cosine_histogram_pair_join_is_bucketed(spark):
    """emb_cosine_pair_histogram's pair generation must be the
    fixed-budget (bucket, position) equi-join; the share comes from a
    window over the 40-bin histogram, so NO nested-loop join of any
    kind appears and the pair pipeline runs exactly once (single linear
    plan, no fan-out branch)."""
    plan = _plan(spark, "emb_cosine_pair_histogram")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # pair join is a hash join on the composite (bucket, position) key
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_minmax_skipping_single_aggregate(spark):
    """layout_minmax_skipping is one partial-final aggregate over the
    partition key — stats collection must stay a single scan with
    map-side partials, no joins anywhere."""
    plan = _plan(spark, "layout_minmax_skipping")
    assert "partial_" in plan  # map-side combine
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # one shuffle + AQE read


def test_chill_hours_window_over_daily_grain(spark):
    """agro_chill_hours' cumulative window must run over the
    (station, day)-collapsed frame (aggregate BEFORE window), so window
    state is days, never raw readings."""
    plan = _plan(spark, "agro_chill_hours")
    # exactly one window operator, fed by an aggregate below it
    assert plan.count("Window") == 1
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("Window")
    assert 0 <= win_pos < agg_pos, "window must sit above the daily agg"


def test_ppjoin_all_joins_keyed(spark):
    """dedup_ppjoin_prefix must keep every join an equi-join — the
    candidate join on the prefix token, the verify joins on da/db —
    with the PPJoin length/positional prunes as join-level filters.
    No nested-loop or cartesian fallback anywhere (the prunes are
    range predicates; if they ever migrate into a join CONDITION of a
    non-equi join, the plan degrades to BNLJ)."""
    plan = _plan(spark, "dedup_ppjoin_prefix")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_winnowing_window_is_doc_partitioned(spark):
    """ts_winnowing_fingerprint's window-min must partition by doc_id
    (partition-local frame scan); the plan has no joins at all — one
    explode, one window, one aggregate."""
    plan = _plan(spark, "ts_winnowing_fingerprint")
    assert "Join" not in plan
    assert "Generate explode" in plan


def test_cms_cells_broadcast_to_estimates(spark):
    """ev_cms_user_counts' estimate join must broadcast the 2048-cell
    sketch table, never shuffle the per-user frame against it."""
    plan = _plan(spark, "ev_cms_user_counts")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_tdigest_single_corpus_exchange(spark):
    """ev_quantile_tdigest's only corpus-sized shuffle must be the ONE
    hashpartitioning(shard) exchange feeding the rank window; the
    centroid groupBy reuses that partitioning (shard leads the key),
    and every later exchange is the SinglePartition move of the
    BOUNDED centroid frame. The scan must prune to (event_id, value)."""
    plan = _plan(spark, "ev_quantile_tdigest")
    import re

    hashex = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(hashex) == 1 and hashex[0].startswith("shard"), hashex
    assert plan.count("Exchange SinglePartition") >= 1
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "event_id" in scan and "value" in scan
    assert "user_id" not in scan and "event_type" not in scan


def test_semdedup_pair_join_is_cluster_equi(spark):
    """dedup_semdedup's pair stage must join on centroid_id (the
    O(n²) → O(n²/k) SemDeDup reduction) — only the 16-row centroid
    broadcast may be a nested-loop; the vector-vector join never."""
    plan = _plan(spark, "dedup_semdedup")
    assert "CartesianProduct" not in plan
    # the only nested-loops are the 16-row centroid broadcast, once per
    # assign consumer (a-leg, b-leg, totals) — never vector×vector
    assert plan.count("BroadcastNestedLoopJoin") <= 3
    # the pair stage itself must be the centroid_id equi-join
    assert "SortMergeJoin [centroid_id" in plan or (
        "BroadcastHashJoin [centroid_id" in plan
    )


def test_grouped_tdigest_has_no_global_stage(spark):
    """ev_quantile_tdigest_by_type is the million-group form: every
    window is partitioned (by event_type / (event_type, shard)) and no
    stage collapses to a single partition — the whole query must plan
    group-parallel end to end."""
    plan = _plan(spark, "ev_quantile_tdigest_by_type")
    assert not _unpartitioned_windows(plan)
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan
