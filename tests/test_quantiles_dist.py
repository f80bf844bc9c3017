"""Distributed exact percentiles (operators/quantiles.py): equality with
the builtin exact aggregate (which IS the reference semantics), edge
shapes, and the bounded-chunk plan contract."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from extended_ops.operators.quantiles import (
    exact_grouped_percentiles,
)
from extended_ops.sources.tables import load_table

from conftest import SF_DIR


def _builtin(df, ps):
    arr = ", ".join(f"{p}D" for p in ps)
    return {
        r["g"]: list(r["p"])
        for r in df.groupBy(F.col("l_returnflag").alias("g"))
        .agg(F.expr(f"percentile(l_extendedprice, array({arr}))").alias("p"))
        .collect()
    }


def test_matches_builtin_exact_on_lineitem(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    ps = [0.0, 0.25, 0.5, 0.75, 0.9, 1.0]
    got = {
        r["l_returnflag"]: [r[f"p{int(round(p*100))}"] for p in ps]
        for r in exact_grouped_percentiles(
            li,
            group_col="l_returnflag",
            value_col="l_extendedprice",
            percentiles=ps,
        ).collect()
    }
    want = _builtin(li, ps)
    assert got.keys() == want.keys()
    for g in want:
        assert got[g] == want[g], g  # bit-exact, incl. p=0 / p=1 edges


def test_heavy_duplicate_runs_and_tiny_groups(spark):
    """A constant-value group (the range-split worst case the per-row
    tiebreak exists for), a single-row group, and a two-row group."""
    rows = (
        [("const", 5.0)] * 1000
        + [("one", 42.0)]
        + [("two", 1.0), ("two", 2.0)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        r["g"]: (r["p25"], r["p50"], r["p75"])
        for r in exact_grouped_percentiles(
            df, group_col="g", value_col="v", percentiles=[0.25, 0.5, 0.75],
            n_range_partitions=8,
        ).collect()
    }
    assert got["const"] == (5.0, 5.0, 5.0)
    assert got["one"] == (42.0, 42.0, 42.0)
    assert got["two"] == (1.25, 1.5, 1.75)


def test_nulls_ignored_like_builtin(spark):
    """NULL values ignored; a NULL group key is a group; an all-NULL
    group still appears with NULL percentiles — builtin semantics."""
    rows = [
        ("a", None), ("a", 1.0), ("a", 3.0), ("a", None),
        (None, 10.0), (None, 20.0),
        ("allnull", None),
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        r["g"]: r["p50"]
        for r in exact_grouped_percentiles(
            df, group_col="g", value_col="v", percentiles=[0.5]
        ).collect()
    }
    assert got == {"a": 2.0, None: 15.0, "allnull": None}


def test_percentile_name_collisions_rejected(spark):
    import pytest

    df = spark.createDataFrame([("a", 1.0)], "g string, v double")
    with pytest.raises(ValueError, match="collide"):
        exact_grouped_percentiles(
            df, group_col="g", value_col="v", percentiles=[0.999, 1.0]
        )


def test_plan_range_partitions_and_chunk_bounded_window(spark):
    """The scale contract in the plan: a range exchange feeds the rank
    window, and the window partitions by (pid, group) — chunk-bounded —
    never by the group alone. Built with eager_checkpoint=False so the
    range exchange is visible in THIS plan (the r15 default pins the
    ranged relation behind a localCheckpoint, gated separately below)."""
    li = load_table(spark, SF_DIR, "lineitem")
    out = exact_grouped_percentiles(
        li,
        group_col="l_returnflag",
        value_col="l_extendedprice",
        percentiles=[0.5],
        eager_checkpoint=False,
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "rangepartitioning" in plan
    # every Window's partition spec includes pid (chunk-bounded); count
    # matches so an explain-format change cannot make this vacuous
    matches = 0
    for line in plan.splitlines():
        if "row_number()" in line and "windowspecdefinition" in line:
            assert "pid" in line
            matches += 1
    assert matches >= 1


def test_include_empty_groups_false_matches_on_nonnull_values(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    kw = dict(
        group_col="l_returnflag",
        value_col="l_extendedprice",
        percentiles=[0.5],
    )
    fast = exact_grouped_percentiles(li, include_empty_groups=False, **kw)
    full = exact_grouped_percentiles(li, **kw)
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, full.collect()))


def test_ranged_exchange_is_physically_reused(spark):
    """The determinism contract for the UNPINNED escape hatch
    (eager_checkpoint=False, the pre-r15 default): the chunk-count and
    rank branches MUST share one physical range exchange — separate
    evaluations would sample range boundaries with different RDD-id
    seeds and silently misalign global ranks. Pin the guarantee by
    asserting a ReusedExchange in the FINAL (post-AQE) plan."""
    li = load_table(spark, SF_DIR, "lineitem")
    out = exact_grouped_percentiles(
        li,
        group_col="l_returnflag",
        value_col="l_extendedprice",
        percentiles=[0.5],
        eager_checkpoint=False,
    )
    out.collect()  # finalize the adaptive plan
    final = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final or "ReusedQueryStage" in final, final


def test_default_pins_ranged_relation(spark):
    """r15 default: the ranged relation is a lazy localCheckpoint, so
    every consumer reads ONE materialization (same-boundaries contract
    by construction) and the plan collapses to RDD-leaf reads — no
    range exchange, no repeated upstream subtree, in the main plan."""
    li = load_table(spark, SF_DIR, "lineitem")
    out = exact_grouped_percentiles(
        li,
        group_col="l_returnflag",
        value_col="l_extendedprice",
        percentiles=[0.5],
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # the range exchange lives INSIDE the checkpointed lineage; the
    # outer plan consumes its RDD and must not re-derive the upstream
    assert "rangepartitioning" not in plan
    assert "Scan ExistingRDD" in plan
    # and the window stays chunk-bounded (pid in its partition spec)
    assert any(
        "pid" in line
        for line in plan.splitlines()
        if "row_number()" in line and "windowspecdefinition" in line
    )
    # results bit-equal to builtin through the pinned path
    got = {r["l_returnflag"]: r["p50"] for r in out.collect()}
    want = {g: p[0] for g, p in _builtin(li, [0.5]).items()}
    assert got == want


def test_reuse_disabled_default_stays_correct(spark):
    """With spark.sql.exchange.reuse off, the default (pinned) path is
    immune by construction — results stay bit-equal to builtin."""
    li = load_table(spark, SF_DIR, "lineitem").limit(5000)
    try:
        spark.conf.set("spark.sql.exchange.reuse", "false")
        got = {
            r["l_returnflag"]: r["p50"]
            for r in exact_grouped_percentiles(
                li,
                group_col="l_returnflag",
                value_col="l_extendedprice",
                percentiles=[0.5],
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.exchange.reuse", "true")
    want = {g: p[0] for g, p in _builtin(li, [0.5]).items()}
    assert got == want
