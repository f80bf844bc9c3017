"""Plan-shape gates for the r17–r19 staged keys (the test_lm_plan_gates
pattern): the scale claims each registration's docstring makes —
single scans, broadcast dims, no cartesian products, no row-at-a-time
Python — asserted against the EXECUTED plan so a regression in any
upstream operator surfaces here, not in a 100 TB run. Explain-only:
nothing executes."""

from __future__ import annotations

from conftest import SF_DIR

from extended_ops.plans.staged_r17 import (
    q_dq_benford,
    q_lm_backoff_tiers,
    q_rel_supplier_delay,
    q_win_changepoint,
)
from extended_ops.plans.staged_r18 import (
    q_text_bpe_pairs,
    q_win_ewma,
)
from extended_ops.plans.staged_r19 import (
    q_rel_small_quantity,
    q_win_zscore,
)


def _plan(spark, fn) -> str:
    return (
        fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    )


def _no_python_no_cartesian(plan: str) -> None:
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_single_scan_window_keys(spark):
    """The three bucketed-count keys each read events ONCE; everything
    downstream rides the O(types × hours) relation."""
    for fn in (q_win_changepoint, q_win_zscore, q_win_ewma):
        plan = _plan(spark, fn)
        assert plan.count("FileScan parquet") == 1, fn.__name__
        _no_python_no_cartesian(plan)


def test_benford_is_one_scan_one_counting_exchange(spark):
    plan = _plan(spark, q_dq_benford)
    assert plan.count("FileScan parquet") == 1
    # exactly ONE hash exchange: the conditional 9-column counting
    # aggregation (the only operator that sees event volume). The
    # full-domain fill, n_total, χ² and the 9-row explode are pure
    # projections over the O(groups)-row wide relation (r13: the
    # former domain-join formulation cost a second exchange + window)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan
    _no_python_no_cartesian(plan)


def test_bpe_pairs_is_one_scan(spark):
    plan = _plan(spark, q_text_bpe_pairs)
    assert plan.count("FileScan parquet") == 1
    _no_python_no_cartesian(plan)


def test_supplier_delay_broadcasts_the_dim(spark):
    plan = _plan(spark, q_rel_supplier_delay)
    assert "BroadcastHashJoin" in plan
    _no_python_no_cartesian(plan)


def test_small_quantity_broadcasts_threshold_and_dim(spark):
    plan = _plan(spark, q_rel_small_quantity)
    # per-part thresholds AND the part dim both broadcast: the big
    # lineitem side is never shuffled for either join
    assert plan.count("BroadcastHashJoin") >= 2
    _no_python_no_cartesian(plan)


def test_lm_tiers_stays_jvm_side(spark):
    plan = _plan(spark, q_lm_backoff_tiers)
    _no_python_no_cartesian(plan)
    assert "MapInPandas" not in plan


# -- r22/r23 staged keys (added r13) ----------------------------------------


def test_top_terms_compiles_to_window_group_limit(spark):
    from extended_ops.plans.staged_r22 import (
        q_text_top_terms,
    )

    plan = _plan(spark, q_text_top_terms)
    # the per-doc top-k prunes partial-side: rank never materializes
    # the full per-doc term list post-shuffle
    assert "WindowGroupLimit" in plan
    _no_python_no_cartesian(plan)


def test_greedy_acc_broadcasts_the_modal_table(spark):
    from extended_ops.plans.staged_r22 import (
        q_lm_greedy_acc,
    )

    plan = _plan(spark, q_lm_greedy_acc)
    # the vocabulary-relation trick: the corpus-side bigram explode
    # joins the modal table BROADCAST — the corpus never reshuffles on
    # a token key
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    _no_python_no_cartesian(plan)


def test_important_stock_attaches_scalar_broadcast(spark):
    from extended_ops.plans.staged_r22 import (
        q_rel_important_stock,
    )

    plan = _plan(spark, q_rel_important_stock)
    # the global total re-attaches as a broadcast 1-row relation, never
    # a shuffle of the per-part aggregate
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    _no_python_no_cartesian(plan)


def test_market_share_broadcasts_every_dim(spark):
    from extended_ops.plans.staged_r23 import (
        q_rel_market_share,
    )

    plan = _plan(spark, q_rel_market_share)
    # customer, both nation legs, region and supplier all broadcast
    assert plan.count("BroadcastHashJoin") >= 5
    _no_python_no_cartesian(plan)


# -- r24 staged keys (added r13) ----------------------------------------


def test_disjunctive_revenue_pushes_or_into_one_broadcast_join(spark):
    from extended_ops.plans.staged_r24 import (
        q_rel_disjunctive_revenue,
    )

    plan = _plan(spark, q_rel_disjunctive_revenue)
    # ONE broadcast join with the whole OR-of-ANDs as its filter — the
    # naive per-bracket UNION would scan lineitem three times
    assert plan.count("BroadcastHashJoin") == 1
    assert plan.count("FileScan parquet") == 2
    _no_python_no_cartesian(plan)


def test_session_lengths_single_scan_stacked_windows(spark):
    from extended_ops.plans.staged_r24 import (
        q_win_session_lengths,
    )

    plan = _plan(spark, q_win_session_lengths)
    assert plan.count("FileScan parquet") == 1
    # the lag break and the island prefix sum share the user
    # partitioning: one user exchange + the O(lengths) histogram
    assert plan.count("Exchange hashpartitioning") == 2
    _no_python_no_cartesian(plan)


def test_ngram_coverage_heads_are_per_task_heaps(spark):
    from extended_ops.plans.staged_r24 import (
        COVERAGE_KS,
        q_text_ngram_coverage,
    )

    plan = _plan(spark, q_text_ngram_coverage)
    # every k head compiles to TakeOrderedAndProject — never a global
    # sort of the counted-trigram relation (a global sort would show
    # up as a range-partitioned exchange)
    assert plan.count("TakeOrderedAndProject") == len(COVERAGE_KS)
    assert "rangepartitioning" not in plan
    _no_python_no_cartesian(plan)


def test_top_parts_concat_prunes_topk_partial_side(spark):
    from extended_ops.plans.staged_r24 import (
        q_rel_top_parts_concat,
    )

    plan = _plan(spark, q_rel_top_parts_concat)
    assert "WindowGroupLimit" in plan
    assert plan.count("BroadcastHashJoin") == 2
    _no_python_no_cartesian(plan)


def test_local_volume_broadcasts_every_dim(spark):
    """Q5 (r25): supplier (with the co-location predicate), nation and
    region all broadcast — the only shuffled joins are the fact-side
    lineitem⨝orders and the hint-free customer attach (which AQE
    broadcasts at real scale when the filtered slice is small)."""
    from extended_ops.plans.staged_r25 import (
        q_rel_local_volume,
    )

    plan = _plan(spark, q_rel_local_volume)
    assert plan.count("BroadcastHashJoin") >= 3
    _no_python_no_cartesian(plan)


def test_shipping_volume_broadcasts_both_nation_roles(spark):
    """Q7 (r25): supplier and BOTH nation roles (ns/nc — the two-role
    dimension) broadcast; the pair filter reaches the dimension scans
    so the fact shuffle only carries matchable rows."""
    from extended_ops.plans.staged_r25 import (
        q_rel_shipping_volume,
    )

    plan = _plan(spark, q_rel_shipping_volume)
    assert plan.count("BroadcastHashJoin") >= 3
    # the 1-row nation-pair slices are filtered AT THE SCAN, before
    # broadcast (pushed predicate), never against the joined fact
    assert "PushedFilters: [" in plan
    _no_python_no_cartesian(plan)


def test_product_profit_part_slice_semifilters_first(spark):
    """Q9 (r25): the LIKE-filtered part slice, supplier and nation all
    broadcast — orders is the ONLY join that may shuffle the fact."""
    from extended_ops.plans.staged_r25 import (
        q_rel_product_profit,
    )

    plan = _plan(spark, q_rel_product_profit)
    assert plan.count("BroadcastHashJoin") >= 3
    _no_python_no_cartesian(plan)


def test_shipdelay_priority_two_pruned_scans_no_window(spark):
    """Q12 (r25): exactly the two fact scans, both column-pruned to
    the 2–3 columns the query reads; conditional counts collapse
    map-side — no window operator anywhere."""
    from extended_ops.plans.staged_r25 import (
        q_rel_shipdelay_priority,
    )

    plan = _plan(spark, q_rel_shipdelay_priority)
    assert plan.count("FileScan parquet") == 2
    assert "Window" not in plan
    # pruned scans: neither fact reads prices or flags
    assert "l_extendedprice" not in plan
    assert "o_orderstatus" not in plan
    _no_python_no_cartesian(plan)


def test_top_supplier_argmax_never_sorts_globally(spark):
    """Q15 (r25): the global max attaches as a 1-row broadcast and the
    supplier dim broadcasts — no global sort (rangepartitioning), no
    second fact scan beyond the view's own."""
    from extended_ops.plans.staged_r25 import (
        q_rel_top_supplier,
    )

    plan = _plan(spark, q_rel_top_supplier)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "Exchange rangepartitioning" not in plan
    _no_python_no_cartesian(plan)


def test_part_promotion_aggregate_semijoin_shape(spark):
    """Q20 (r26): the name-filtered part slice and the supplier dim
    broadcast; the dominance test runs on the O(supplier, part)
    aggregate, never a second lineitem scan."""
    from extended_ops.plans.staged_r26 import (
        q_rel_part_promotion,
    )

    plan = _plan(spark, q_rel_part_promotion)
    # supplier attaches broadcast to the O(qualifying suppliers) rows
    assert plan.count("BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan
    # ONE lineitem scan feeds both the per-(supp, part) aggregate and
    # its totals re-aggregation: the aggregate is PINNED (the
    # rel_important_stock two-consumer rule — unpinned, the whole
    # lineitem⨝broadcast(part) subtree planned twice, observed), so
    # the outer plan sees at most the single pre-materialization
    # lineage copy of the fact scan
    assert plan.count("lineitem.parquet") <= 1
    _no_python_no_cartesian(plan)


def test_freq_profile_single_tokenize_jvm_side(spark):
    """lm_freq_profile (r26): one documents scan (the ntile window
    rides the O(vocab) re-aggregation of the same tf relation) and the
    whole tokenize/explode path stays JVM-side."""
    from extended_ops.plans.staged_r26 import (
        q_lm_freq_profile,
    )

    plan = _plan(spark, q_lm_freq_profile)
    assert "MapInPandas" not in plan
    _no_python_no_cartesian(plan)


def test_zipf_ratio_head_is_per_task_heap(spark):
    """text_zipf_ratio (r26): the rank head compiles to
    TakeOrderedAndProject (per-task heaps + single merge), never a
    global sort of the vocabulary."""
    from extended_ops.plans.staged_r26 import (
        q_text_zipf_ratio,
    )

    plan = _plan(spark, q_text_zipf_ratio)
    assert "TakeOrderedAndProject" in plan
    _no_python_no_cartesian(plan)


def test_count_of_counts_single_gram_scan(spark):
    """lm_count_of_counts (r27): rides train_ngram_counts' one-scan
    gram relation; the count-of-counts re-aggregation is O(vocab)."""
    from extended_ops.plans.staged_r27 import (
        q_lm_count_of_counts,
    )

    plan = _plan(spark, q_lm_count_of_counts)
    assert plan.count("documents.parquet") == 1
    _no_python_no_cartesian(plan)


def test_seasonal_error_fact_scanned_once(spark):
    """win_seasonal_error (r27): the daily relation is PINNED (two
    consumers: current + lagged leg — unpinned, the events scan
    planned twice, observed); the join and both aggregates ride
    O(types × days)."""
    from extended_ops.plans.staged_r27 import (
        q_win_seasonal_error,
    )

    plan = _plan(spark, q_win_seasonal_error)
    assert plan.count("events.parquet") <= 1
    _no_python_no_cartesian(plan)


def test_order_gap_median_single_exchange_stacked_windows(spark):
    """rel_order_gap_median (r27): the date-ordered lag window, the
    gap ranking AND the closing aggregate all ride ONE custkey
    exchange (same-key windows stack — the win_session_lengths rule)."""
    from extended_ops.plans.staged_r27 import (
        q_rel_order_gap_median,
    )

    plan = _plan(spark, q_rel_order_gap_median)
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    _no_python_no_cartesian(plan)


def test_holt_single_scan(spark):
    """win_holt (r28): the ewma class — one events scan collapsed
    map-side to O(types × hours); frame/collect/fold ride it."""
    from extended_ops.plans.staged_r28 import (
        q_win_holt,
    )

    plan = _plan(spark, q_win_holt)
    assert plan.count("FileScan parquet") == 1
    _no_python_no_cartesian(plan)


def test_burstiness_single_scan_no_window(spark):
    from extended_ops.plans.staged_r28 import (
        q_win_burstiness,
    )

    plan = _plan(spark, q_win_burstiness)
    assert plan.count("FileScan parquet") == 1
    assert "Window" not in plan
    _no_python_no_cartesian(plan)


def test_pareto_share_windows_ride_the_dimension(spark):
    """rel_pareto_share (r28): orders scanned once and collapsed to
    O(customers) BEFORE the single-partition rank window (the
    documented rel_quantiles_dist class — the global sort touches the
    dimension-sized aggregate, never the fact table)."""
    from extended_ops.plans.staged_r28 import (
        q_rel_pareto_share,
    )

    plan = _plan(spark, q_rel_pareto_share)
    assert plan.count("FileScan parquet") == 1
    _no_python_no_cartesian(plan)


def test_length_gini_single_exchange_stacked(spark):
    """corpus_length_gini (r28): the rank window, the count window and
    the closing aggregate all ride ONE source-keyed exchange."""
    from extended_ops.plans.staged_r28 import (
        q_corpus_length_gini,
    )

    plan = _plan(spark, q_corpus_length_gini)
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    _no_python_no_cartesian(plan)
