"""Winsorize: DuckDB cross-engine parity on the real corpus (per-priority
order totals clipped at p1/p99) plus NULL / degenerate-group edges."""

from __future__ import annotations

import pytest
from conftest import SF_DIR
from oracle_utils import assert_parity

from extended_ops.operators.quantiles import winsorize
from extended_ops.sources.tables import load_table

# oracle SQL: single source of truth = the staged registration
# (plans/staged.py) — review r9 killed the drifting duplicates
from extended_ops.plans.staged import (  # noqa: E501
    _XFORM_WINSORIZE_ORACLE as WINSORIZE_ORACLE,
)



def test_winsorize_matches_duckdb(spark):
    orders = load_table(spark, SF_DIR, "orders")
    got = winsorize(
        orders.select("o_orderkey", "o_orderpriority", "o_totalprice"),
        group_col="o_orderpriority",
        value_col="o_totalprice",
        out_col="price_w",
    )
    assert_parity(got, WINSORIZE_ORACLE, SF_DIR)
    # non-vacuity: clipping must actually move some rows at p1/p99
    moved = got.where("price_w <> o_totalprice").count()
    assert 0 < moved < got.count() / 10


def test_winsorize_edges(spark):
    df = spark.createDataFrame(
        [
            ("a", 1.0),
            ("a", 2.0),
            ("a", 100.0),  # clipped down at hi
            ("a", None),  # stays NULL
            ("b", 5.0),  # singleton group: p-band collapses to itself
            (None, 7.0),  # NULL group key winsorizes in its own group
            (None, 9.0),
            ("c", None),  # all-NULL group: passthrough (no bounds)
        ],
        "g string, v double",
    )
    got = {
        (r.g, r.v): r.v_w
        for r in winsorize(df, group_col="g", value_col="v", lo=0.25, hi=0.75)
        .collect()
    }
    assert got[("a", None)] is None
    assert got[("c", None)] is None
    assert got[("b", 5.0)] == 5.0
    # group a non-null values [1, 2, 100]: p25 = 1.5, p75 = 51.0
    assert got[("a", 1.0)] == 1.5
    assert got[("a", 2.0)] == 2.0
    assert got[("a", 100.0)] == 51.0
    # NULL group [7, 9]: p25 = 7.5, p75 = 8.5
    assert got[(None, 7.0)] == 7.5
    assert got[(None, 9.0)] == 8.5


def test_winsorize_validation(spark):
    df = spark.createDataFrame([("a", 1.0)], "g string, v double")
    with pytest.raises(ValueError):
        winsorize(df, group_col="g", value_col="v", lo=0.9, hi=0.1)
    with pytest.raises(ValueError):
        winsorize(df, group_col="g", value_col="v", lo=0.501, hi=0.502)
