"""Co-located (bucketed) join: the plan-shape evidence that the join
skips its shuffle when both sides are bucketed on the key — the property
that amortizes the 100 TB exchange into a one-time write."""

from __future__ import annotations

import pytest

from extended_ops.operators import bucketing as B
from extended_ops.sources.tables import load_table

from conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def bucketed_tables(spark, tmp_path):
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    B.write_bucketed(
        li, "b_lineitem", key="l_orderkey", buckets=4,
        path=str(tmp_path / "li"),
    )
    B.write_bucketed(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"),
        "b_orders", key="l_orderkey", buckets=4,
        path=str(tmp_path / "ord"),
    )
    yield "b_lineitem", "b_orders"
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    left, right = bucketed_tables
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = B.bucketed_join(spark, left, right, "l_orderkey")
        joined.collect()
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan

        # control: the same join over plain parquet shuffles both sides
        li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey")
        orders_df = load_table(spark, SF_DIR, "orders")
        orders = orders_df.select(orders_df.o_orderkey.alias("l_orderkey"))
        control = li.join(orders, "l_orderkey")
        control.collect()
        assert _plan(control).count("Exchange hashpartitioning") >= 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)


def test_bucketed_groupby_on_bucket_key_has_no_exchange(spark, bucketed_tables):
    left, _ = bucketed_tables
    from pyspark.sql import functions as F

    agg = spark.table(left).groupBy("l_orderkey").agg(
        F.sum("l_extendedprice").alias("rev")
    )
    agg.collect()
    assert "Exchange" not in _plan(agg), _plan(agg)


def test_join_result_matches_unbucketed(spark, bucketed_tables):
    left, right = bucketed_tables
    n_bucketed = B.bucketed_join(spark, left, right, "l_orderkey").count()
    li = load_table(spark, SF_DIR, "lineitem")
    orders = load_table(spark, SF_DIR, "orders")
    n_plain = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).count()
    assert n_bucketed == n_plain
