"""Error-bound gates for the sketch aggregations (operators/sketches.py).

Sketch register layouts are engine-specific, so these operators cannot be
DuckDB-value-hashed; their contract IS the error bound vs the exact twin,
pinned here on the driver's real tables.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from extended_ops.operators import sketches as K
from extended_ops.sources.tables import load_table

from conftest import SF_DIR_001


def test_approx_distinct_within_rsd(spark):
    ev = load_table(spark, SF_DIR_001, "events")
    exact = {
        tuple(r[:-1]): r[-1]
        for r in K.exact_distinct_by(ev, ["event_type"], "user_id").collect()
    }
    approx = {
        tuple(r[:-1]): r[-1]
        for r in K.approx_distinct_by(ev, ["event_type"], "user_id", rsd=0.05).collect()
    }
    assert set(exact) == set(approx)
    for key, ex in exact.items():
        # 4 standard deviations of headroom on the 5% target rsd
        assert abs(approx[key] - ex) <= max(0.2 * ex, 2), (key, ex, approx[key])


def test_approx_quantiles_rank_error(spark):
    li = load_table(spark, SF_DIR_001, "lineitem")
    approx = {
        r.l_returnflag: (r.p_25, r.p_50, r.p_75)
        for r in K.approx_quantiles_by(
            li, ["l_returnflag"], "l_extendedprice"
        ).collect()
    }
    exact = {
        r.l_returnflag: (r.p25, r.p50, r.p75)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))"
            ).alias("p")
        )
        .select(
            "l_returnflag",
            F.element_at("p", 1).alias("p25"),
            F.element_at("p", 2).alias("p50"),
            F.element_at("p", 3).alias("p75"),
        )
        .collect()
    }
    assert set(exact) == set(approx)
    # rank error <= 1/accuracy; translate to a loose value tolerance via
    # the group's value spread
    spreads = {
        r.l_returnflag: r.mx - r.mn
        for r in li.groupBy("l_returnflag")
        .agg(F.min("l_extendedprice").alias("mn"), F.max("l_extendedprice").alias("mx"))
        .collect()
    }
    for flag, ex in exact.items():
        for a, e in zip(approx[flag], ex):
            assert abs(a - e) <= 0.01 * spreads[flag] + 1e-6, (flag, a, e)


def test_registered_quantiles_twin_tracks_exact(spark):
    """The production sketch path (approx_quantiles_by — the twin the
    docstrings point users at) stays within the documented rank-error
    envelope of the REGISTERED exact plan (rel_quantiles). Since r9 the
    registered ``rel_quantiles_approx`` key is the RANK bound check
    itself, asserted all-TRUE below (the driver hash-checks the same
    booleans against a TRUE-emitting oracle)."""
    from extended_ops.plans import QUERIES

    exact = {
        r.l_returnflag: (r.p25, r.p50, r.p75)
        for r in QUERIES["rel_quantiles"](spark, SF_DIR_001).collect()
    }
    li = load_table(spark, SF_DIR_001, "lineitem")
    approx = {
        r.l_returnflag: (r.p_25, r.p_50, r.p_75)
        for r in K.approx_quantiles_by(
            li, ["l_returnflag"], "l_extendedprice", accuracy=10_000
        ).collect()
    }
    assert set(exact) == set(approx)
    spreads = {
        r.l_returnflag: r.mx - r.mn
        for r in li.groupBy("l_returnflag")
        .agg(F.min("l_extendedprice").alias("mn"), F.max("l_extendedprice").alias("mx"))
        .collect()
    }
    for flag, ex in exact.items():
        for a, e in zip(approx[flag], ex):
            assert abs(a - e) <= 0.01 * spreads[flag] + 1e-6, (flag, a, e)
    checks = QUERIES["rel_quantiles_approx"](spark, SF_DIR_001).collect()
    assert len(checks) == len(exact)
    for r in checks:
        assert r.p25_ok and r.p50_ok and r.p75_ok, r


def test_approx_quantiles_quoted_identifier(spark):
    """Column names needing quoting (spaces, dots, hyphens, keywords)
    resolve — the expr backtick-quotes the identifier (ADVICE r3)."""
    df = spark.createDataFrame(
        [("a", float(v)) for v in range(1, 101)], ["k", "the value.col-1"]
    )
    out = K.approx_quantiles_by(
        df, ["k"], "the value.col-1", probabilities=(0.5,)
    ).collect()
    assert len(out) == 1
    assert abs(out[0].p_50 - 50.0) <= 1.0


def test_rank_check_ignores_null_values_and_keeps_null_groups(spark):
    """Review r9 regressions: (a) n must count VALUES, not rows — the
    sketch and the lt/le sums ignore NULLs, so NULL-bearing rows would
    inflate the rank target and falsely fail the lower bound; (b) a
    NULL group key must stay in the output (eqNullSafe join), not
    silently vanish un-verified."""
    rows = (
        [("a", float(v)) for v in range(1, 101)]
        + [("a", None)] * 500                      # NULL values
        + [(None, float(v)) for v in range(1, 51)]  # NULL group
    )
    df = spark.createDataFrame(rows, "k string, v double")
    got = {
        r.k: (r.p25_ok, r.p50_ok, r.p75_ok)
        for r in K.approx_quantiles_rank_check(df, ["k"], "v").collect()
    }
    assert set(got) == {"a", None}
    assert got["a"] == (True, True, True)
    assert got[None] == (True, True, True)


def test_quantile_sketch_duplicate_keys_deterministic(spark):
    """Review r9: duplicate key values draw identically; the qs_value
    tiebreak keeps the sketch partition-invariant and merge-exact even
    when the tie set straddles the k boundary."""
    rows = [(5, float(v)) for v in range(100)] + [
        (i, float(i)) for i in range(1000, 1050)
    ]
    df = spark.createDataFrame(rows, "k bigint, v double")
    sk = lambda d: {  # noqa: E731
        tuple(r)
        for r in K.quantile_sketch_table(
            d, "v", key_col="k", k=64
        ).collect()
    }
    assert sk(df) == sk(df.repartition(13))
    halves = K.quantile_sketch_table(
        df.where("v < 50"), "v", key_col="k", k=64
    ).unionByName(
        K.quantile_sketch_table(df.where("v >= 50"), "v", key_col="k", k=64)
    )
    assert {
        tuple(r)
        for r in K.quantile_sketch_merge(halves, k=64).collect()
    } == sk(df)
