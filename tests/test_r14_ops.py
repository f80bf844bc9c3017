"""Contract tests for the r14 staged operators (JSON schema profiling,
bot-regularity audit, association rules). DuckDB hash parity for the
full registrations is pinned by tests/test_oracle_parity.py; these pin
goldens, edge semantics, validation and the claimed plan topologies."""

from __future__ import annotations

import datetime as dt

import pytest
from conftest import SF_DIR

from extended_ops.operators.baskets import (
    association_rules,
)
from extended_ops.operators.profile import (
    json_key_stats,
)
from extended_ops.operators.quality import (
    regularity_audit,
)
from extended_ops.plans.staged_r14 import (
    STAGED_R14_QUERIES,
)


def _ts(s):
    return dt.datetime.fromisoformat(s)


def _final_plan(df):
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


# -- json key stats -----------------------------------------------------------


def test_json_key_stats_golden(spark):
    rows = [
        (1, '{"a": 1, "b": "x"}'),
        (2, '{"a": 2}'),
        (3, '{"a": 1, "c": true}'),
        (4, "not json"),          # excluded from stats AND denominator
        (5, None),                # ditto
    ]
    df = spark.createDataFrame(rows, "id int, props string")
    got = {
        r.key: (r.n_present, r.share, r.n_distinct_values)
        for r in json_key_stats(df, json_col="props").collect()
    }
    assert got["a"] == (3, 1.0, 2)          # values 1,2,1 -> 2 distinct
    assert got["b"] == (1, 0.333333, 1)
    assert got["c"] == (1, 0.333333, 1)
    assert set(got) == {"a", "b", "c"}


def test_json_key_stats_plan_is_jvm_side(spark):
    final = _final_plan(
        STAGED_R14_QUERIES["xform_props_schema"](spark, SF_DIR)
    )
    assert "Python" not in final  # from_json + explode, no UDF
    assert "CartesianProduct" not in final


# -- regularity ---------------------------------------------------------------


def test_regularity_planted_bot_vs_human(spark):
    base = _ts("2024-01-01 00:00:00")
    rows = []
    # bot: 30 events exactly 600 s apart
    for i in range(30):
        rows.append((1, base + dt.timedelta(seconds=600 * i)))
    # human: 30 events with strictly increasing, all-distinct gaps
    t = base
    for i in range(30):
        t += dt.timedelta(seconds=100 + 7 * i)
        rows.append((2, t))
    # sparse key: below min_events, even if regular
    for i in range(3):
        rows.append((3, base + dt.timedelta(seconds=600 * i)))
    # single event: no gaps at all
    rows.append((4, base))
    df = spark.createDataFrame(rows, "k long, ts timestamp")
    got = {
        r.k: (r.n_events, r.top_gap_share, r.is_suspect)
        for r in regularity_audit(
            df, key_col="k", ts_col="ts",
            min_events=20, top_gap_share_threshold=0.5,
        ).collect()
    }
    assert got[1] == (30, 1.0, True)            # the bot
    assert got[2][2] is False                   # messy human
    assert got[2][1] == pytest.approx(1 / 29, abs=1e-6)
    assert got[3] == (3, 1.0, False)            # regular but sparse
    assert got[4][0] == 1 and got[4][2] is False
    with pytest.raises(ValueError, match="min_events"):
        regularity_audit(df, key_col="k", ts_col="ts", min_events=1)


def test_regularity_null_key_cohort_is_audited(spark):
    """A NULL-key cohort (events behind a missing id — often the MOST
    suspicious traffic) must be audited, not silently dropped by an
    equi-join (review r11b: the joins are null-safe on both engines)."""
    base = _ts("2024-01-01 00:00:00")
    rows = [
        (None, base + dt.timedelta(seconds=600 * i)) for i in range(25)
    ] + [(1, base), (1, base + dt.timedelta(seconds=123))]
    df = spark.createDataFrame(rows, "k string, ts timestamp")
    got = {
        r.k: (r.n_events, r.top_gap_share, r.is_suspect)
        for r in regularity_audit(
            df, key_col="k", ts_col="ts",
            min_events=20, top_gap_share_threshold=0.5,
        ).collect()
    }
    assert got[None] == (25, 1.0, True)  # the bot hiding behind NULL
    assert got["1"][2] is False


def test_regularity_registered_plants_detected(spark):
    out = {
        r.user_id: r.is_suspect
        for r in STAGED_R14_QUERIES["dq_bot_regularity"](
            spark, SF_DIR
        ).collect()
    }
    bots = [u for u in out if u >= 900001]
    assert len(bots) == 3 and all(out[u] for u in bots)
    # and no real user trips the threshold on microsecond-messy gaps
    assert not any(v for u, v in out.items() if u < 900000)


# -- association rules --------------------------------------------------------


def test_association_rules_golden(spark):
    # baskets: {A,B} x3, {A,C} x1, {B} x1 -> N=5 baskets
    rows = [
        (1, "A"), (1, "B"),
        (2, "A"), (2, "B"),
        (3, "A"), (3, "B"),
        (4, "A"), (4, "C"),
        (5, "B"),
    ]
    df = spark.createDataFrame(rows, "o long, item string")
    got = {
        (r.antecedent, r.consequent): (
            r.n_pair, r.support, r.confidence, r.lift
        )
        for r in association_rules(
            df, basket_col="o", item_col="item", min_pair_count=2
        ).collect()
    }
    # A appears in 4 baskets, B in 4, AB pairs in 3; N=5
    assert got[("A", "B")] == (3, 0.6, 0.75, round(0.75 / (4 / 5), 6))
    assert got[("B", "A")] == (3, 0.6, 0.75, 0.9375)
    assert ("A", "C") not in got  # n_pair 1 < min_pair_count


def test_association_rules_no_self_join_plan(spark):
    final = _final_plan(STAGED_R14_QUERIES["rel_assoc_rules"](spark, SF_DIR))
    # pairs emit in-place from posting lists (Generate/explode), never a
    # basket-keyed self-join of the item relation
    assert "CartesianProduct" not in final
    assert "Generate explode" in final
    assert "SortMergeJoin" not in final  # supports/totals broadcast back
