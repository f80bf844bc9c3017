"""incremental_minhash_pairs (growing-corpus near-dup detection over a
persisted signature table): equivalence to the batch twin restricted to
pairs touching the increment, planted cross-batch duplicates, empty
history, estimator sanity, and the zero-history-shuffle plan gate."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from conftest import SF_DIR

from extended_ops.operators.dedup import (
    incremental_minhash_pairs,
    minhash_signatures,
)
from extended_ops.sources.tables import load_table

THRESH = 0.35


def _norm(rows):
    # (new,new) pairs order by id asc; (new,old) put the old id first —
    # normalize to frozenset for comparison
    return {
        (frozenset((r.id_a, r.id_b)), round(r.est_jaccard, 9))
        for r in rows
    }


def test_increment_equals_batch_twin_restricted_to_new(spark):
    """Running the increment against history must find EXACTLY the
    full-corpus pairs that involve at least one new doc — same pairs,
    same estimated Jaccard (all hashes content-derived)."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    sigs = minhash_signatures(docs).localCheckpoint(eager=False)
    old = sigs.where("id % 3 != 0")
    new = sigs.where("id % 3 = 0")
    # batch twin: all pairs over the union = one "increment" with the
    # whole corpus as the new batch and no history
    all_pairs = incremental_minhash_pairs(sigs, threshold=THRESH).collect()
    new_ids = {r.id for r in new.select("id").collect()}
    expected = _norm(
        r for r in all_pairs
        if r.id_a in new_ids or r.id_b in new_ids
    )
    got = _norm(
        incremental_minhash_pairs(new, old, threshold=THRESH).collect()
    )
    assert got == expected
    assert got, "vacuous: corpus yielded no cross/new pairs at threshold"


def test_planted_cross_batch_duplicate(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    old = docs.where("doc_id < 400")
    # new batch: fresh ids, two of which duplicate old texts verbatim
    plant = docs.where("doc_id in (7, 11)").select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    old_sigs = minhash_signatures(old)
    new_sigs = minhash_signatures(plant)
    pairs = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in incremental_minhash_pairs(
            new_sigs, old_sigs, threshold=0.9
        ).collect()
    }
    # identical text -> identical signature -> est exactly 1.0
    assert pairs[(7, 100007)] == 1.0
    assert pairs[(11, 100011)] == 1.0


def test_no_history_yields_only_new_new(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    dup = docs.where("doc_id = 5").select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    sigs = minhash_signatures(docs.where("doc_id in (5, 6)").unionByName(dup))
    rows = incremental_minhash_pairs(sigs, threshold=0.9).collect()
    assert _norm(rows) == {(frozenset((5, 100005)), 1.0)}


def test_validation(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    sigs = minhash_signatures(docs.limit(5))
    with pytest.raises(ValueError, match="divide"):
        incremental_minhash_pairs(sigs, num_hashes=64, bands=7)
    with pytest.raises(ValueError, match="threshold"):
        incremental_minhash_pairs(sigs, threshold=0.0)


def test_history_never_shuffles(spark):
    """The scale contract: the (new x old) path joins the history scan
    against the BROADCAST increment — no sort-merge join anywhere, and
    every exchange in the plan sits on increment-sized or pair-sized
    relations (history rows appear only below the broadcast hash
    join)."""
    docs = load_table(spark, SF_DIR, "documents", spread=False).select(
        "doc_id", "text"
    )
    old = minhash_signatures(docs.where("doc_id % 10 != 0"))
    new = minhash_signatures(docs.where("doc_id % 10 = 0"))
    plan = (
        incremental_minhash_pairs(new, old, threshold=THRESH)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_history_bucket_cap_bounds_fanout_and_keeps_other_bands(spark):
    """max_history_bucket_size drops HOT history band buckets before the
    candidate join (bounded recall): a verbatim duplicate of a history
    doc still surfaces with NO cap (baseline), and with a cap of 1 it
    survives iff its non-boilerplate bands stay under the cap — here the
    planted pair is the only owner of its band values, so the hot-bucket
    drop of 30 identical boilerplate docs must not take it down."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    boiler = (
        docs.where("doc_id = 3")
        .crossJoin(spark.range(30).select(F.col("id").alias("_i")))
        .select((F.lit(200000) + F.col("_i")).alias("doc_id"), "text")
    )
    old = docs.where("doc_id < 100").unionByName(boiler)
    plant = docs.where("doc_id = 42").select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    old_sigs = minhash_signatures(old).localCheckpoint(eager=False)
    new_sigs = minhash_signatures(plant)

    def pairset(**kw):
        return {
            frozenset((r.id_a, r.id_b))
            for r in incremental_minhash_pairs(
                new_sigs, old_sigs, threshold=0.9, **kw
            ).collect()
        }

    uncapped = pairset()
    assert frozenset((42, 100042)) in uncapped
    capped = pairset(max_history_bucket_size=1)
    # the planted duplicate's bands hold exactly {42, 100042-side}: one
    # history member each, below the cap, so the pair survives ...
    assert frozenset((42, 100042)) in capped
    # ... while every hot-bucket-only candidate (the 31-member
    # boilerplate bands of doc 3 and its clones) is gone; recall is
    # otherwise bounded by the uncapped result
    assert capped <= uncapped
    with pytest.raises(ValueError, match="max_history_bucket_size"):
        incremental_minhash_pairs(
            new_sigs, old_sigs, max_history_bucket_size=0
        )
