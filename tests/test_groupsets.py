"""Equivalence gate for the two-level grouping-sets re-aggregation
(operators/groupsets.py): on ANY input — including NULL dimension
values, the classic trap where a data-NULL must stay distinguishable
from an aggregate-NULL via the grouping id — `rollup_agg`/`cube_agg`
must equal Spark's built-in rollup()/cube() row-for-row."""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from extended_ops.operators import groupsets as G

ROWS = [
    Row(a="x", b="p", v=1.5),
    Row(a="x", b=None, v=2.25),  # data-NULL in dim b
    Row(a=None, b="p", v=4.0),   # data-NULL in dim a
    Row(a="y", b="q", v=8.125),
    Row(a="y", b="q", v=16.0),
    Row(a=None, b=None, v=32.5),
]


def _norm(df):
    return sorted(
        (
            (r["a"], r["b"], r["n"], float(r["sum_v"]), r["gid"])
            for r in df.collect()
        ),
        key=repr,
    )


def _builtin(df, kind):
    grouped = df.rollup("a", "b") if kind == "rollup" else df.cube("a", "b")
    return grouped.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast("decimal(18,6)")).cast("double").alias("sum_v"),
        F.grouping_id().cast("bigint").alias("gid"),
    ).select("a", "b", "n", "sum_v", "gid")


def test_rollup_agg_matches_builtin_with_null_dims(spark):
    df = spark.createDataFrame(ROWS)
    ours = G.rollup_agg(df, ["a", "b"], {"sum_v": F.col("v").cast("decimal(18,6)")})
    assert _norm(ours) == _norm(_builtin(df, "rollup"))


def test_cube_agg_matches_builtin_with_null_dims(spark):
    df = spark.createDataFrame(ROWS)
    ours = G.cube_agg(df, ["a", "b"], {"sum_v": F.col("v").cast("decimal(18,6)")})
    assert _norm(ours) == _norm(_builtin(df, "cube"))


def test_cube_agg_matches_builtin_on_random_frames(spark):
    """Hypothesis breadth: random tiny frames (dims drawn from a small
    alphabet INCLUDING None, exact dyadic values) — the re-aggregation
    must equal the built-in cube on every one."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    dim_vals = st.sampled_from(["x", "y", "z", None])
    # dyadic fractions: exact in double AND in decimal(18,6)
    vals = st.integers(-1000, 1000).map(lambda n: n / 8.0)
    rows = st.lists(
        st.tuples(dim_vals, dim_vals, vals), min_size=1, max_size=12
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(rows=rows)
    def check(rows):
        df = spark.createDataFrame(
            [Row(a=a, b=b, v=v) for a, b, v in rows],
            schema="a string, b string, v double",
        )
        ours = G.cube_agg(
            df, ["a", "b"], {"sum_v": F.col("v").cast("decimal(18,6)")}
        )
        assert _norm(ours) == _norm(_builtin(df, "cube"))

    check()


def test_int_sums_path_matches_dec_sums_path(spark):
    """The codegen-fast-path BIGINT measures (summed per (dims, pid),
    DECIMAL re-agg) must equal the DECIMAL path exactly after descaling
    — integer sums are associative, so any grouping gives the same
    exact result."""
    rows = [
        Row(a="x", b="p", v=1.25),
        Row(a="x", b="q", v=2.50),
        Row(a="x", b=None, v=0.75),
        Row(a="y", b="p", v=10.00),
        Row(a="y", b="p", v=0.01),
    ]
    df = spark.createDataFrame(rows)
    dec = G.cube_agg(df, ["a", "b"], {"s": F.col("v").cast("decimal(18,6)")})
    ints = G.cube_agg(
        df, ["a", "b"], {},
        int_sums={"s": F.round(F.col("v") * 100).cast("bigint")},
    ).withColumn("s", F.col("s") / F.lit(100.0))
    key = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    got = sorted(map(tuple, ints.collect()), key=key)
    want = sorted(map(tuple, dec.collect()), key=key)
    assert got == want


def test_int_sums_name_collision_rejected(spark):
    import pytest

    df = spark.createDataFrame([Row(a="x", v=1.0)])
    with pytest.raises(ValueError, match="both"):
        G.grouping_sets_agg(
            df, ["a"],
            {"s": F.col("v").cast("decimal(18,6)")},
            [("a",), ()],
            int_sums={"s": F.round(F.col("v") * 100).cast("bigint")},
        )
