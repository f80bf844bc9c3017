"""Physical-plan assertions: the 100 TB properties (pushdown, pruning,
broadcast placement) must be visible in `explain`, not just hoped for."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from extended_ops.plans import QUERIES

from conftest import SF_DIR


def _plan(spark, key):
    buf = io.StringIO()
    with redirect_stdout(buf):
        QUERIES[key](spark, SF_DIR).explain("formatted")
    return buf.getvalue()


def test_filtered_scan_pushes_predicates_and_prunes_columns(spark):
    plan = _plan(spark, "rel_filtered_scan")
    assert "PushedFilters" in plan
    # range + equality predicates reach the parquet reader
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "EqualTo(l_returnflag,R)" in plan
    assert "GreaterThan(l_discount" in plan
    # projection pruned to the 4 referenced columns (no full-width scan)
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read and "l_partkey" not in read


def test_pricing_summary_scan_reads_only_needed_columns(spark):
    plan = _plan(spark, "rel_pricing_summary")
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    for col in ("l_quantity", "l_extendedprice", "l_discount"):
        assert col in read
    assert "l_shipdate" not in read


def test_dimension_joins_are_broadcast(spark):
    plan = _plan(spark, "rel_top_customers")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_clean_corpus_scans_documents_once(spark):
    """The dedup survivor is kept through the aggregation itself
    (min(struct)), so the pipeline needs ONE documents scan — no second
    scan + re-join on doc_id."""
    plan = _plan(spark, "pipeline_clean_corpus")
    # formatted explain prints each scan twice (tree line + detail block)
    assert plan.count("Scan parquet") == 2
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_session_query_has_single_group_exchange(spark):
    plan = _plan(spark, "win_session")
    # one hash exchange on the grouping key feeds the session-window
    # aggregation; no extra repartitions snuck in
    assert "session_window" in plan or "SessionWindow" in plan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "props" not in read  # unused wide column pruned from the scan


def test_shipping_priority_broadcasts_dim_and_pushes_dates(spark):
    plan = _plan(spark, "rel_shipping_priority")
    assert "BroadcastHashJoin" in plan  # filtered customer side broadcast
    # both date predicates reach the parquet readers
    assert "LessThan(o_orderdate" in plan
    assert "GreaterThan(l_shipdate" in plan
    # top-k plans as TakeOrderedAndProject, never a global Sort+collect
    assert "TakeOrderedAndProject" in plan


def test_grouping_sets_reaggregation_has_no_expand(spark):
    """rel_rollup / rel_cube use the two-level re-aggregation
    (operators/groupsets.py): the corpus-replicating Expand operator the
    built-in rollup()/cube() would plan must NOT appear."""
    for key in ("rel_rollup", "rel_cube"):
        plan = _plan(spark, key)
        assert "Expand" not in plan, key


def test_join_anti_builds_on_filtered_side(spark):
    plan = _plan(spark, "join_anti")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan  # pushed to orders scan


def test_pivot_is_one_agg_no_expand(spark):
    """rel_pivot must compile to the same single hash aggregation a
    conditional-sum projection would — PIVOT is syntax, not a plan
    shape: no Expand, no join, one scan."""
    plan = _plan(spark, "rel_pivot")
    assert "Expand" not in plan
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 2  # tree line + detail block


def test_window_share_broadcasts_dims_and_prunes(spark):
    """rel_window_share: nation/region ride broadcast joins (never
    shuffled); the window over the aggregate result must not add a
    second scan of the fact table."""
    plan = _plan(spark, "rel_window_share")
    assert plan.count("BroadcastHashJoin") >= 2
    # lineitem + orders + customer + nation + region, each printed twice
    assert plan.count("Scan parquet") == 10
    read = next(
        l
        for l in plan.splitlines()
        if "ReadSchema" in l and "lineitem" in plan[: plan.index(l)]
    )
    assert "l_comment" not in read


def test_moving_avg_single_exchange(spark):
    """win_moving_avg: one hashpartitioning exchange on user_id feeds the
    window; no extra repartition or join."""
    plan = _plan(spark, "win_moving_avg")
    assert plan.count("Exchange") <= 2  # tree line + detail block
    assert "Join" not in plan
    assert "Window" in plan


def test_no_antipatterns_in_any_registered_plan(spark):
    """Fleet-wide invariant over ALL registered queries: no Cartesian
    product ever reaches a physical plan, and no row-at-a-time Python
    UDF (BatchEvalPython) appears — Python is allowed only as
    Arrow-batched MapInPandas/FlatMapGroupsInPandas. Catches an
    accidental unconditioned join or a F.udf() slipping into any future
    query at test time rather than at 100 TB."""
    offenders = {}
    for key in sorted(QUERIES):
        plan = _plan(spark, key)
        bad = [
            marker
            for marker in ("CartesianProduct", "BatchEvalPython")
            if marker in plan
        ]
        if bad:
            offenders[key] = bad
    assert not offenders, offenders


def test_corpus_freq_reuses_the_tokenize_subtree(spark):
    """corpus_freq_score derives vocabulary and total from the per-(doc,
    word) aggregate; at runtime AQE's ReuseExchange must compute that
    shared subtree once instead of re-scanning the corpus per branch."""
    from extended_ops.plans import QUERIES

    df = QUERIES["text_corpus_freq"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ReusedExchange") >= 2, plan


def test_xform_compact_partial_agg_before_single_exchange(spark):
    plan = _plan(spark, "xform_compact")
    # the scale contract: one exchange carrying O(keys) rows — the
    # partial max(struct) must appear on the scan side of it
    assert plan.count("Exchange") - plan.count("AQEShuffleRead") >= 1
    assert "partial_max" in plan
    # the exchange's input is (key, partial max buffer) — one row per key
    # per task, never the raw 5-column event rows
    import re

    ex = re.search(r"\(\d+\) Exchange\nInput \[(\d+)\]: \[([^\]]*)\]", plan)
    assert ex is not None
    assert int(ex.group(1)) == 2 and "max#" in ex.group(2)
    # and never the row_number window formulation (full-row shuffle)
    assert "Window" not in plan


def test_ngram_dedup_single_scan_single_python_stage(spark):
    """dedup_ngram plan gate, re-anchored for the r6 bounded-buffer pin
    (r6 verdict item 1). Property protected: the corpus is scanned and
    tokenized exactly ONCE, structurally. Two shapes to gate:

    (a) UNCAPPED operator — exactly the subtree that
        ``bounded_posting_lists`` pins when the cap is active: ONE
        parquet scan + ONE Python stage in the finalized adaptive plan.
    (b) REGISTERED capped query — the tokenizer output is pinned with a
        lazy ``localCheckpoint`` (materialized once by RDD-checkpoint
        semantics), so the post-pin plan must contain NO parquet scan
        and NO Python stage in EITHER the final or initial section
        (both the count pass and the list build read the pinned rows),
        and the over-cap anti-join must sit BELOW the
        ``partial_collect_list`` (buffer-bounding: hot keys are dropped
        before the list buffer builds). Gate the join in the INITIAL
        plan: at small SF the blacklist is empty, so AQE's
        empty-relation propagation legitimately deletes the anti-join
        from the final plan."""
    from extended_ops.operators import dedup as D
    from extended_ops.plans import QUERIES
    from extended_ops.sources.tables import load_table

    # (a) the pre-pin subtree, uncapped: structural single scan + stage
    uncapped = D.ngram_jaccard_pairs(
        load_table(spark, SF_DIR, "documents"),
        k=3,
        threshold=0.5,
        max_shingle_df=None,
    )
    uncapped.collect()
    plan = uncapped._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 1, final.count("MapInPandas")
    assert final.count("Scan parquet") == 1, final.count("Scan parquet")

    # (b) the registered capped query: everything upstream of the pin —
    # scan + tokenizer — lives inside the checkpointed lineage
    out = QUERIES["dedup_ngram"](spark, SF_DIR)
    out.collect()  # finalize the adaptive plan (noop-write inspects a clone)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 0, plan.count("MapInPandas")
    assert plan.count("Scan parquet") == 0, plan.count("Scan parquet")
    final, _, initial = plan.partition("== Initial Plan ==")
    assert final.count("Scan ExistingRDD") >= 1, final
    # buffer-bounding: anti-join strictly below the partial list build
    # (tree prints parents first, so below == later in the string)
    anti = initial.index("LeftAnti")
    assert anti > initial.index("partial_collect_list"), initial


def _final_plan(spark, key):
    """Finalized adaptive physical plan (post-AQE) — collect() first;
    explain/noop inspect a clone (memory: the r5 lesson)."""
    df = QUERIES[key](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_r7_large_orders_aggregates_before_joins(spark):
    """rel_large_orders scale gate: the cent-scaled quantity HAVING runs
    BELOW both joins (only surviving orderkeys join orders/customer),
    and the lineitem scan is pruned to its two columns."""
    final = _final_plan(spark, "rel_large_orders")
    # tree prints parents first: the joins must appear BEFORE (above)
    # the quantity aggregation
    agg = final.index("partial_sum(cast(round((l_quantity")
    assert final.index("Join") < agg
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in final


def test_r7_single_agg_no_window_shapes(spark):
    """agg_mode / win_first_touch scale gate: no Window over the fact
    table — argmin/argmax via aggregation; exactly one user-keyed
    exchange for win_first_touch; agg_mode's raw-events stage is the
    HASH agg on (user, type) and the sort-based struct argmin consumes
    only its collapsed output."""
    plans = {
        key: _final_plan(spark, key)
        for key in ("agg_mode", "win_first_touch")
    }
    for key, final in plans.items():
        assert "Window" not in final, key
    assert plans["win_first_touch"].count("Exchange hashpartitioning") == 1
    final = plans["agg_mode"]
    assert "HashAggregate(keys=[user_id" in final
    assert final.index("partial_min(struct") < final.index(
        "HashAggregate(keys=[user_id"
    )


def test_r7_scan_side_ops_zero_hash_exchange(spark):
    """xform_chunk_overlap / embed_quantize / text_token_count scale
    gate: pure scan-side projections — no hash-partitioned exchange
    anywhere (the only exchange allowed is load_table's round-robin
    spread), and embed_quantize's scale fold is STAGED (array_max
    appears once; an inlined alias would replicate it per element)."""
    for key in ("xform_chunk_overlap", "embed_quantize", "text_token_count"):
        assert "Exchange hashpartitioning" not in _final_plan(spark, key), key
    assert _final_plan(spark, "embed_quantize").count("array_max") == 1


def test_r7_sample_per_group_window_group_limit(spark):
    """sample_per_group scale gate: the rank<=k filter compiles to
    WindowGroupLimit with a PARTIAL pass below the exchange — each map
    task forwards at most k rows per group, so the shuffle is
    O(k·groups·tasks), never the corpus."""
    final = _final_plan(spark, "sample_per_group")
    assert "WindowGroupLimit" in final
    assert final.index("Exchange hashpartitioning") < final.index(
        ", Partial"
    )


def test_r8_hashed_features_pure_scan_projection(spark):
    """text_hashed_features scale gate: hashing-trick featurization is a
    pure scan-side projection — no exchange of any kind, no Python, no
    join; the whole cost is per-row HOF work riding the parquet scan."""
    plan = _plan(spark, "text_hashed_features")
    assert "Exchange" not in plan, plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "Join" not in plan


def test_r8_phash_pairs_single_arrow_pass_no_self_join(spark):
    """multimodal_phash_pairs scale gate: ONE Arrow decode+hash pass
    (formatted explain prints each node twice: tree + detail), pairs
    emitted in place from posting lists — never a sort-merge self-join
    of the hash relation."""
    plan = _plan(spark, "multimodal_phash_pairs")
    assert plan.count("MapInPandas") == 2, plan.count("MapInPandas")
    assert "SortMergeJoin" not in plan
