"""Bloom join pruning: exact-join parity (the prune must be invisible in
the result), the no-false-negative guarantee, real prune selectivity on
the corpus, and graceful degradation when the sketch is saturated."""

from __future__ import annotations

import pytest
from conftest import SF_DIR
from oracle_utils import assert_parity

from extended_ops.operators.runtime_filters import (
    bloom_filter_rows,
    bloom_pruned_join,
    build_bloom,
)
from extended_ops.sources.tables import load_table

# oracle SQL: single source of truth = the staged registration
# (plans/staged.py) — review r9 killed the drifting duplicates
from extended_ops.plans.staged import (  # noqa: E501
    _JOIN_BLOOM_ORACLE as PRUNED_JOIN_ORACLE,
)



def _nation1_join(spark, **kw):
    orders = load_table(spark, SF_DIR, "orders")
    cust = load_table(spark, SF_DIR, "customer").where("c_nationkey = 1")
    return bloom_pruned_join(
        orders, cust, fact_key="o_custkey", dim_key="c_custkey", **kw
    ).select("o_orderkey", "o_custkey", "c_name", "o_totalprice")


def test_pruned_join_matches_plain_join(spark):
    assert_parity(_nation1_join(spark), PRUNED_JOIN_ORACLE, SF_DIR)


def test_saturated_sketch_still_exact(spark):
    """64-bit sketch with 6 keys x 2 hashes: heavy false positives, the
    exact join must still absorb them all."""
    got = _nation1_join(spark, num_bits=64, num_hashes=2)
    assert_parity(got, PRUNED_JOIN_ORACLE, SF_DIR)


def test_no_false_negatives_and_real_selectivity(spark):
    orders = load_table(spark, SF_DIR, "orders")
    cust = load_table(spark, SF_DIR, "customer").where("c_nationkey = 1")
    words = build_bloom(cust, "c_custkey")
    pruned = bloom_filter_rows(
        orders, "o_custkey", words, num_bits=1 << 17, num_hashes=5
    )
    true_matches = orders.join(
        cust, orders.o_custkey == cust.c_custkey, "left_semi"
    ).count()
    n_pruned = pruned.count()
    # no false negative: every truly-matching row survives the prune
    assert n_pruned >= true_matches
    # the prune does real work: 6/150 customers selected, so the
    # surviving set must be far below the full fact table
    assert n_pruned < orders.count() / 2
    # at 2^17 bits / 6 keys the fpp is ~0 — the prune should be exact
    assert n_pruned == true_matches


def test_build_bloom_validation_and_bounded_size(spark):
    cust = load_table(spark, SF_DIR, "customer")
    with pytest.raises(ValueError):
        build_bloom(cust, "c_custkey", num_bits=100)  # not a word multiple
    with pytest.raises(ValueError):
        build_bloom(cust, "c_custkey", num_hashes=0)
    words = build_bloom(cust, "c_custkey", num_bits=1 << 10, num_hashes=3)
    assert len(words) == (1 << 10) // 64
    with pytest.raises(ValueError):
        bloom_filter_rows(
            cust, "c_custkey", words, num_bits=1 << 11, num_hashes=3
        )


def test_null_keys_dropped(spark):
    df = spark.createDataFrame(
        [(1, "a"), (None, "b"), (2, "c")], "k bigint, v string"
    )
    words = build_bloom(df.where("k = 1"), "k", num_bits=256, num_hashes=3)
    kept = bloom_filter_rows(
        df, "k", words, num_bits=256, num_hashes=3
    ).collect()
    assert [r.v for r in kept] == ["a"]
