"""KMV/theta sketch (kmv_table / kmv_estimate / kmv_intersect_estimate):
distinct-count bound check vs exact DuckDB counts, exact-when-unsaturated,
merge-by-resketching law, corpus-overlap estimation vs exact overlap, and
the WindowGroupLimit plan gate."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from conftest import SF_DIR
from oracle_utils import assert_parity

from extended_ops.operators.sketches import (
    kmv_estimate,
    kmv_intersect_estimate,
    kmv_table,
)
from extended_ops.sources.tables import load_table

# oracle SQL: single source of truth = the staged registration
# (plans/staged.py) — review r9 killed the drifting duplicates
from extended_ops.plans.staged import (  # noqa: E501
    _AGG_KMV_SKETCH_ORACLE as KMV_BOUND_ORACLE,
)

K = 256  # relative error ~ 1/sqrt(k-2) ~ 6.3%; 3 sigma ~ 19%



def test_kmv_bound_check_matches_duckdb(spark):
    ev = load_table(spark, SF_DIR, "events").where("event_type IS NOT NULL")
    sk = kmv_table(ev, "user_id", group_cols=["event_type"], k=K)
    est = kmv_estimate(sk, k=K, group_cols=["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("true_distinct")
    )
    bound = 3.0 / (K - 2) ** 0.5
    got = est.join(exact, "event_type").select(
        "event_type",
        "true_distinct",
        (
            F.abs(F.col("est_distinct") - F.col("true_distinct"))
            <= F.greatest(F.lit(1.0), F.lit(bound) * F.col("true_distinct"))
        ).alias("within_bound"),
    )
    assert_parity(got, KMV_BOUND_ORACLE, SF_DIR)


def test_kmv_exact_when_unsaturated(spark):
    """Fewer distinct values than k: the sketch IS the distinct set and
    the estimate is exact."""
    ev = load_table(spark, SF_DIR, "events")
    true = ev.select("user_id").distinct().count()
    if true < K:
        est = kmv_estimate(kmv_table(ev, "user_id", k=K), k=K).collect()[0][0]
        assert est == true
    df = spark.createDataFrame([(i % 37,) for i in range(500)], "v bigint")
    est = kmv_estimate(kmv_table(df, "v", k=K), k=K).collect()[0][0]
    assert est == 37


def test_kmv_merge_is_resketching_the_union(spark):
    """Merge law: kmv_table over the unioned sketch rows (treating hv as
    the value... i.e. take the k smallest of the union of two sketches)
    equals the sketch of the unioned data."""
    ev = load_table(spark, SF_DIR, "events")
    a = ev.where("event_id % 2 = 0")
    b = ev.where("event_id % 2 <> 0")
    sa = kmv_table(a, "user_id", k=K)
    sb = kmv_table(b, "user_id", k=K)
    from pyspark.sql.window import Window

    merged = set(
        r.hv
        for r in sa.unionByName(sb)
        .distinct()
        .withColumn("_rn", F.row_number().over(Window.orderBy("hv")))
        .where(F.col("_rn") <= K)
        .drop("_rn")
        .collect()
    )
    whole = {r.hv for r in kmv_table(ev, "user_id", k=K).collect()}
    assert merged == whole


def test_kmv_intersection_estimates_corpus_overlap(spark):
    """The set-operation capability HLL lacks: overlap between two doc-id
    sets. Unsaturated sketches give the EXACT intersection; saturated
    sketches estimate within the theta-sketch error."""
    docs = load_table(spark, SF_DIR, "documents")
    a = docs.where("doc_id % 2 = 0")      # evens
    b = docs.where("doc_id % 3 = 0")      # multiples of 3
    true = docs.where("doc_id % 6 = 0").count()
    # big k -> unsaturated -> exact
    big = kmv_intersect_estimate(
        kmv_table(a, "doc_id", k=4096),
        kmv_table(b, "doc_id", k=4096),
        k=4096,
    ).collect()[0][0]
    assert big == true
    # small k -> saturated -> within 3 sigma (deterministic at this seed)
    small = kmv_intersect_estimate(
        kmv_table(a, "doc_id", k=64),
        kmv_table(b, "doc_id", k=64),
        k=64,
    ).collect()[0][0]
    assert abs(small - true) <= max(2.0, 3.0 / (64 - 2) ** 0.5 * true * 2)
    # disjoint sets -> 0
    z = kmv_intersect_estimate(
        kmv_table(docs.where("doc_id % 2 = 0"), "doc_id", k=64),
        kmv_table(docs.where("doc_id % 2 = 1"), "doc_id", k=64),
        k=64,
    ).collect()[0][0]
    assert z == 0


def test_kmv_validation_and_empty(spark):
    df = spark.createDataFrame([(1,)], "v bigint")
    with pytest.raises(ValueError):
        kmv_table(df, "v", k=4)
    empty = spark.createDataFrame([], "v bigint")
    e = kmv_intersect_estimate(
        kmv_table(empty, "v", k=64), kmv_table(df, "v", k=64), k=64
    ).collect()[0][0]
    assert e == 0


def test_kmv_plan_window_group_limit(spark):
    """Scale gate: the rank<=k filter compiles to WindowGroupLimit with a
    PARTIAL pass below the exchange — each task forwards at most k sketch
    rows per group, never its distinct set."""
    ev = load_table(spark, SF_DIR, "events")
    plan = (
        kmv_table(ev, "user_id", group_cols=["event_type"], k=K)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan
    assert ", Partial" in plan


def test_kmv_difference_exact_when_unsaturated(spark):
    """Both sketches unsaturated (theta = 1, whole hash space): the
    A-not-B estimate IS the exact |A \\ B| — sketches hold the full
    sets. Constructed overlap: A = 0..59, B = 40..99 -> |A\\B| = 40."""
    from extended_ops.operators.sketches import (
        kmv_difference_estimate,
    )

    a = spark.createDataFrame([(i,) for i in range(60)], "v bigint")
    b = spark.createDataFrame([(i,) for i in range(40, 100)], "v bigint")
    est = kmv_difference_estimate(
        kmv_table(a, "v", k=K), kmv_table(b, "v", k=K), k=K
    ).collect()[0][0]
    assert est == 40
    # empty A -> 0, regardless of B
    empty = spark.createDataFrame([], "v bigint")
    est0 = kmv_difference_estimate(
        kmv_table(empty, "v", k=K), kmv_table(b, "v", k=K), k=K
    ).collect()[0][0]
    assert est0 == 0


def test_kmv_inclusion_exclusion_consistency(spark):
    """Saturated regime on the real part baskets: the estimated
    |A∩B| + |A\\B| must reconstruct |A| within the combined estimator
    noise (both estimates read the SAME sub-theta sample, so their sum
    telescopes to |a_below| / theta = the KMV |A| estimate)."""
    from extended_ops.operators.sketches import (
        kmv_difference_estimate,
    )

    li = load_table(spark, SF_DIR, "lineitem")
    a = li.where("l_partkey % 3 != 0").select("l_partkey").distinct()
    b = li.where("l_partkey % 3 != 1").select("l_partkey").distinct()
    n_a = a.count()
    sk_a, sk_b = kmv_table(a, "l_partkey", k=K), kmv_table(b, "l_partkey", k=K)
    inter = kmv_intersect_estimate(sk_a, sk_b, k=K).collect()[0][0]
    diff = kmv_difference_estimate(sk_a, sk_b, k=K).collect()[0][0]
    est_a = kmv_estimate(sk_a, k=K).collect()[0][0]
    # telescoping: when theta == theta_a the two estimates read the
    # SAME sub-theta sample and the sum reconstructs |A| to rounding —
    # but theta may be theta_b (the sides are near-equal cardinality)
    # and the float-reconstructed cut can include/exclude the k-th
    # hash, each worth ~1/theta ≈ n/k; bound by one estimator sigma
    # (n/sqrt(k-2)), not a constant
    import math

    sigma = n_a / math.sqrt(K - 2)
    assert abs((inter + diff) - est_a) <= sigma + 2
    assert abs(est_a - n_a) <= 5 * sigma + 2
