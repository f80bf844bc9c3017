"""mad_outliers (exact median/MAD robust flagging) and reservoir_sample
(deterministic global k-sample): DuckDB cross-engine parity on real
tables, hand-computed edges, and plan gates (broadcast re-attach /
TakeOrderedAndProject)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from conftest import SF_DIR
from oracle_utils import assert_parity

from extended_ops.operators.corpus import (
    reservoir_sample,
)
from extended_ops.operators.quantiles import (
    mad_outliers,
)
from extended_ops.sources.tables import load_table

# oracle SQL: single source of truth = the staged registration
# (plans/staged.py) — review r9 killed the drifting duplicates
from extended_ops.plans.staged import (  # noqa: E501
    _AGG_MAD_OUTLIERS_ORACLE as MAD_ORACLE,
    _CORPUS_RESERVOIR_ORACLE as RESERVOIR_ORACLE,
    _CORPUS_WEIGHTED_RESERVOIR_ORACLE as WEIGHTED_RESERVOIR_ORACLE,
)

# robust flagging of order totals within each priority class; z rounded
# to 6dp for the cross-engine hash (the flag itself is division-free)



def test_mad_outliers_matches_duckdb(spark):
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    got = mad_outliers(
        orders, group_col="o_orderpriority", value_col="o_totalprice"
    ).select(
        "o_orderkey", "o_orderpriority", "o_totalprice",
        F.round("robust_z", 6).alias("robust_z"), "is_outlier",
    )
    assert_parity(got, MAD_ORACLE, SF_DIR)


def test_mad_outliers_hand_computed(spark):
    # group g: values 1..9 + a monster. med=5.5 -> absdevs
    # {4.5,3.5,2.5,1.5,.5,.5,1.5,2.5,3.5,994.5}; MAD=median=2.5
    # threshold = 3*1.4826*2.5 = 11.1195 -> only the monster flags
    df = spark.createDataFrame(
        [("g", float(v)) for v in range(1, 10)] + [("g", 1000.0), ("g", None)],
        "grp string, v double",
    )
    rows = {r.v: (r.is_outlier, r.robust_z) for r in mad_outliers(
        df, group_col="grp", value_col="v"
    ).collect()}
    assert rows[1000.0][0] is True
    assert all(rows[float(v)][0] is False for v in range(1, 10))
    assert rows[None] == (None, None)
    assert rows[1000.0][1] == pytest.approx((1000.0 - 5.5) / (1.4826 * 2.5))


def test_mad_zero_mad_group_degrades_gracefully(spark):
    # constant group: MAD = 0 -> z NULL everywhere, any deviant flags
    df = spark.createDataFrame(
        [("c", 7.0), ("c", 7.0), ("c", 7.0), ("c", 7.0), ("c", 9.0)],
        "grp string, v double",
    )
    rows = [
        (r.v, r.is_outlier, r.robust_z)
        for r in mad_outliers(df, group_col="grp", value_col="v").collect()
    ]
    assert all(z is None for (_, _, z) in rows)
    assert {(v, o) for (v, o, _) in rows} == {(7.0, False), (9.0, True)}
    with pytest.raises(ValueError):
        mad_outliers(df, group_col="grp", value_col="v", k=0)


def test_mad_plan_broadcast_reattach_no_fact_shuffle(spark):
    """Scale gate: both stat relations re-attach as BROADCAST joins (one
    row per group) — the fact rows are never hash-shuffled by the
    attach; the only hash exchanges belong to the two bounded-memory
    percentile selections."""
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    plan = (
        mad_outliers(
            orders, group_col="o_orderpriority", value_col="o_totalprice"
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    # group-stat attaches onto the fact rows are broadcast (LeftOuter
    # over o_orderpriority); SortMergeJoins appear only INSIDE the
    # percentile selection machinery (on its internal g key), never on
    # a fact-side attach. Since r16 the MEDIAN attach lives inside the
    # pinned deviation relation's lineage (mad_outliers pins
    # `with_dev` so the MAD pass and the output join share ONE
    # materialization — 3 fact scans → 2), so the visible plan holds
    # one broadcast attach (the MAD one) plus ExistingRDD reads of the
    # pin instead of parquet re-scans.
    fact_attaches = [
        l for l in plan.splitlines()
        if "Join" in l and "coalesce(o_orderpriority" in l
    ]
    assert len([l for l in fact_attaches if "BroadcastHashJoin" in l]) >= 1
    assert not [l for l in fact_attaches if "SortMergeJoin" in l]
    # the r16 pin gate: the output join reads the pinned deviation
    # relation (RDD scan), not a third scan of the fact source
    assert "Scan ExistingRDD" in plan


def test_reservoir_sample_matches_duckdb(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "source")
    got = reservoir_sample(docs, key_col="doc_id", k=25)
    assert_parity(got, RESERVOIR_ORACLE, SF_DIR)


def test_reservoir_membership_is_growth_stable(spark):
    """Adding rows can displace sample members but never reshuffle the
    survivors' relative ranks: the k-sample of a superset, intersected
    with the subset, is a PREFIX of the subset's own sample order."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    half = docs.where("doc_id % 2 = 0")
    full_k = [r.doc_id for r in reservoir_sample(
        docs, key_col="doc_id", k=30
    ).collect()]
    half_k = [r.doc_id for r in reservoir_sample(
        half, key_col="doc_id", k=30
    ).collect()]
    survivors = [d for d in half_k if d in set(full_k)]
    # every subset-sample member that also won in the superset keeps
    # its order, and they form the head of the subset ordering
    assert survivors == [d for d in half_k[: len(survivors)]]
    # determinism under repartitioning
    again = [r.doc_id for r in reservoir_sample(
        docs.repartition(13), key_col="doc_id", k=30
    ).collect()]
    assert again == full_k


def test_reservoir_plan_take_ordered_and_validation(spark):
    """Scale gate: orderBy(draw).limit(k) compiles to
    TakeOrderedAndProject — per-task k-row heaps + driver merge, NO
    global sort exchange."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "source")
    plan = (
        reservoir_sample(docs, key_col="doc_id", k=25)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    with pytest.raises(ValueError):
        reservoir_sample(docs, key_col="doc_id", k=0)
    with pytest.raises(ValueError):
        reservoir_sample(docs, key_col="doc_id", k=2_000_000)




def test_weighted_reservoir_matches_duckdb(spark):
    from extended_ops.operators.corpus import (
        weighted_reservoir_sample,
    )

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "n_chars"
    )
    got = weighted_reservoir_sample(
        docs, key_col="doc_id", weight_col="n_chars", k=40
    )
    assert_parity(got, WEIGHTED_RESERVOIR_ORACLE, SF_DIR)
    # weighting is live vs the uniform global sample, and the plan is
    # still the heap-merge shape
    uniform = {
        r.doc_id
        for r in reservoir_sample(
            docs, key_col="doc_id", k=40
        ).collect()
    }
    weighted = {r.doc_id for r in got.collect()}
    assert weighted != uniform
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
