"""profile_columns (single-scan ingest profile): DuckDB cross-engine
parity on the real events table, approx-mode bound check, and the
one-scan plan gate."""

from __future__ import annotations

import pytest
from conftest import SF_DIR
from oracle_utils import assert_parity

from extended_ops.operators.profile import (
    profile_columns,
)
from extended_ops.sources.tables import load_table

# oracle SQL: single source of truth = the staged registration
# (plans/staged.py) — review r9 killed the drifting duplicates
from extended_ops.plans.staged import (  # noqa: E501
    _REL_PROFILE_COLUMNS_ORACLE as PROFILE_ORACLE,
)



def test_profile_matches_duckdb(spark):
    ev = load_table(spark, SF_DIR, "events")
    got = profile_columns(ev, ["user_id", "event_type", "event_id"])
    assert_parity(got, PROFILE_ORACLE, SF_DIR)


def test_profile_approx_within_hll_bound(spark):
    """approx mode: same schema, exact nulls/min/max, and HLL++
    cardinalities within the documented 5% default error (events
    cardinalities are far below the sketch's exact-ish regime limit,
    so in practice they match tightly)."""
    ev = load_table(spark, SF_DIR, "events")
    exact = {
        r.column: r
        for r in profile_columns(
            ev, ["user_id", "event_type"], exact=True
        ).collect()
    }
    approx = {
        r.column: r
        for r in profile_columns(
            ev, ["user_id", "event_type"], exact=False
        ).collect()
    }
    for c, e in exact.items():
        a = approx[c]
        assert (a.n_nulls, a.min_val, a.max_val) == (
            e.n_nulls, e.min_val, e.max_val
        )
        assert abs(a.n_distinct - e.n_distinct) <= max(1, 0.05 * e.n_distinct)


def test_profile_edges(spark):
    df = spark.createDataFrame(
        [(None, None), (1, None), (2, None), (2, None)],
        "a int, b string",
    )
    rows = {r.column: r for r in profile_columns(df, ["a", "b"]).collect()}
    a, b = rows["a"], rows["b"]
    assert (a.n_rows, a.n_nulls, a.n_distinct, a.min_val, a.max_val) == (
        4, 1, 2, "1", "2"
    )
    # all-null column: 0 distinct, NULL min/max
    assert (b.n_nulls, b.n_distinct, b.min_val, b.max_val) == (4, 0, None, None)
    with pytest.raises(ValueError):
        profile_columns(df, [])


def test_profile_empty_table_and_awkward_names(spark):
    """An EMPTY drop must profile as zeros, not NULLs (sum-over-nothing
    is NULL; the gate uses count(when)); column names with spaces,
    dashes, and quotes must survive the unpivot as literals."""
    df = spark.createDataFrame(
        [], "`a b` int, `c-d` string, `e'f` double"
    )
    rows = {r.column: r for r in profile_columns(
        df, ["a b", "c-d", "e'f"]
    ).collect()}
    assert set(rows) == {"a b", "c-d", "e'f"}
    for r in rows.values():
        assert (r.n_rows, r.n_nulls, r.n_distinct) == (0, 0, 0)
        assert r.min_val is None and r.max_val is None


def test_profile_native_type_ordering_not_lexical(spark):
    """min/max must compare in the native type: bigint 10 > 9 even
    though '10' < '9' lexically."""
    df = spark.createDataFrame([(9,), (10,)], "a bigint")
    r = profile_columns(df, ["a"]).collect()[0]
    assert (r.min_val, r.max_val) == ("9", "10")


def test_profile_plan_single_scan(spark):
    """Scale gate: profiling N columns is ONE scan of the table (Expand
    fan-out for the exact distincts, a single FileScan node), never a
    per-column job; approx mode drops the Expand entirely."""
    ev = load_table(spark, SF_DIR, "events")
    exact_plan = (
        profile_columns(ev, ["user_id", "event_type", "event_id"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert exact_plan.count("FileScan parquet") == 1
    assert "Expand" in exact_plan
    approx_plan = (
        profile_columns(
            ev, ["user_id", "event_type", "event_id"], exact=False
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert approx_plan.count("FileScan parquet") == 1
    assert "Expand" not in approx_plan


def test_json_key_stats_approx_within_hll_bound(spark):
    """json_key_stats exact=False (the 100 TB mode for id-like keys):
    n_present and share stay EXACT (plain counts), n_distinct_values is
    an HLL++ estimate within the documented 5% default error, and the
    plan collapses to ONE exchange (no second (key, value) distinct
    rollup)."""
    from extended_ops.operators.profile import (
        json_key_stats,
    )

    ev = load_table(spark, SF_DIR, "events").select("props")
    exact = {
        r.key: r for r in json_key_stats(ev, json_col="props").collect()
    }
    approx = {
        r.key: r
        for r in json_key_stats(ev, json_col="props", exact=False).collect()
    }
    assert set(exact) == set(approx)
    for k, e in exact.items():
        a = approx[k]
        assert (a.n_present, a.share) == (e.n_present, e.share)
        assert abs(a.n_distinct_values - e.n_distinct_values) <= max(
            1, 0.05 * e.n_distinct_values
        )
    exact_plan = (
        json_key_stats(ev, json_col="props")
        ._jdf.queryExecution().executedPlan().toString()
    )
    approx_plan = (
        json_key_stats(ev, json_col="props", exact=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # exact: (key,value) agg then key rollup = 2 kv exchanges; approx:
    # one partial-merging HLL agg = exactly 1 (plus the broadcast total)
    assert approx_plan.count("hashpartitioning(key") == 1
    assert exact_plan.count("hashpartitioning(key") >= 2
