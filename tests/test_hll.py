"""HLL-as-a-DataFrame (hll_table / hll_merge / hll_estimate): accuracy
vs exact DuckDB distinct counts (bound-check shape), the exact merge law,
duplicate invariance, small-range linear counting, grouped sketches, and
the summary-bound plan gate."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from conftest import SF_DIR
from oracle_utils import assert_parity

from extended_ops.operators.sketches import (
    hll_estimate,
    hll_merge,
    hll_table,
)
from extended_ops.sources.tables import load_table

# oracle SQL: single source of truth = the staged registration
# (plans/staged.py) — review r9 killed the drifting duplicates
from extended_ops.plans.staged import (  # noqa: E501
    _AGG_HLL_TABLE_ORACLE as HLL_BOUND_ORACLE,
)

P = 12  # m=4096, standard error 1.04/sqrt(m) = 1.6%

# bound-check registration shape: Spark computes the estimate and checks
# it against the exact count at 3 standard errors; DuckDB pins the exact
# counts and TRUE. Deterministic at fixed seed.


def test_hll_bound_check_matches_duckdb(spark):
    docs = load_table(spark, SF_DIR, "documents")
    sk = hll_table(docs, "doc_id", group_cols=["source"], p=P)
    est = hll_estimate(sk, p=P, group_cols=["source"])
    exact = docs.groupBy("source").agg(
        F.count_distinct("doc_id").alias("true_distinct")
    )
    bound = 3 * 1.04 / (2**P) ** 0.5  # 3 sigma relative
    got = est.join(exact, "source").select(
        "source",
        "true_distinct",
        (
            F.abs(F.col("est_distinct") - F.col("true_distinct"))
            <= F.greatest(
                F.lit(1.0), F.lit(bound) * F.col("true_distinct")
            )
        ).alias("within_bound"),
    )
    assert_parity(got, HLL_BOUND_ORACLE, SF_DIR)


def test_hll_accuracy_whole_tables(spark):
    """Ungrouped estimates on real key columns at several cardinalities:
    within 3 standard errors of exact (deterministic at this seed)."""
    for table, col in (
        ("events", "user_id"),
        ("events", "event_id"),
        ("orders", "o_orderkey"),
        ("lineitem", "l_partkey"),
    ):
        df = load_table(spark, SF_DIR, table)
        true = df.select(col).distinct().count()
        est = hll_estimate(hll_table(df, col, p=P), p=P).collect()[0][0]
        tol = max(1.0, 3 * 1.04 / (2**P) ** 0.5 * true)
        assert abs(est - true) <= tol, (table, col, est, true)


def test_hll_merge_law_and_duplicate_invariance(spark):
    ev = load_table(spark, SF_DIR, "events")
    a = ev.where("event_id % 2 = 0")
    b = ev.where("event_id % 2 <> 0")
    whole = {
        (r.register, r.max_rho)
        for r in hll_table(ev, "user_id", p=P).collect()
    }
    merged = {
        (r.register, r.max_rho)
        for r in hll_merge(
            [hll_table(a, "user_id", p=P), hll_table(b, "user_id", p=P)]
        ).collect()
    }
    assert merged == whole
    # duplicates never move a register: sketch(x3 copies) == sketch
    tripled = ev.unionByName(ev).unionByName(ev)
    again = {
        (r.register, r.max_rho)
        for r in hll_table(tripled, "user_id", p=P).collect()
    }
    assert again == whole


def test_hll_small_range_linear_counting(spark):
    df = spark.createDataFrame([(i % 5,) for i in range(1000)], "v bigint")
    est = hll_estimate(hll_table(df, "v", p=P), p=P).collect()[0][0]
    assert est == 5
    # NULLs skipped; empty input -> no groups (no spurious zero row)
    nulls = spark.createDataFrame([(None,), (7,)], "v bigint")
    est2 = hll_estimate(hll_table(nulls, "v", p=P), p=P).collect()[0][0]
    assert est2 == 1
    with pytest.raises(ValueError):
        hll_table(df, "v", p=3)
    with pytest.raises(ValueError):
        hll_merge([])


def test_hll_incremental_rollup_composition(spark):
    """The capability the opaque builtin can't give: per-day sketches,
    pre-aggregated once, merge into a month total WITHOUT rescanning —
    and the merged estimate equals the direct whole-range estimate
    exactly (same registers)."""
    ev = load_table(spark, SF_DIR, "events").withColumn(
        "day", F.to_date("ts")
    )
    days = [r.day for r in ev.select("day").distinct().limit(4).collect()]
    daily = [
        hll_table(ev.where(F.col("day") == d), "user_id", p=P) for d in days
    ]
    merged_est = hll_estimate(hll_merge(daily), p=P).collect()[0][0]
    direct_est = hll_estimate(
        hll_table(ev.where(F.col("day").isin(days)), "user_id", p=P), p=P
    ).collect()[0][0]
    assert merged_est == direct_est


def test_hll_plan_summary_bound(spark):
    ev = load_table(spark, SF_DIR, "events")
    plan = (
        hll_table(ev, "user_id", p=P)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_max" in plan
    assert plan.index("partial_max") > plan.index("Exchange hashpartitioning")
    assert "Join" not in plan and "BatchEvalPython" not in plan
