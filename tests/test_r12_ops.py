"""Contract tests for the r12 staged operators (incremental SCD2
merge, OHLC resample, readability; lm_train_counts is a composition
of operators already under their own suites). Hash parity for the
registrations is pinned by tests/test_oracle_parity.py."""

from __future__ import annotations

import datetime as dt

import pytest
from conftest import SF_DIR

from extended_ops.operators.history import (
    scd2_history,
    scd2_merge,
)
from extended_ops.operators.text import (
    with_readability,
)
from extended_ops.operators.timeseries import (
    ohlc_resample,
)
from extended_ops.plans.staged_r12 import (
    STAGED_R12_QUERIES,
)
from extended_ops.sources.tables import load_table


def _ts(s):
    return dt.datetime.fromisoformat(s)


def _final_plan(df):
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


# -- scd2_merge ---------------------------------------------------------------


def _norm_scd2(rows):
    return {
        (r.k, r.version): (r.attr, r.valid_from, r.valid_to, r.is_current)
        for r in rows
    }


def test_scd2_merge_equals_from_scratch(spark):
    """The invariant on an adversarial split: increments that extend an
    open version with the SAME state (must collapse into it), change
    state, touch only some keys, and introduce brand-new keys."""
    base_rows = [
        (1, _ts("2024-01-01 00:00:00"), 1, "A"),
        (1, _ts("2024-01-01 02:00:00"), 2, "B"),
        (2, _ts("2024-01-01 00:00:00"), 3, "X"),   # untouched key
        (3, _ts("2024-01-01 00:00:00"), 4, "P"),
    ]
    inc_rows = [
        (1, _ts("2024-01-02 00:00:00"), 5, "B"),   # same state: collapses
        (1, _ts("2024-01-02 01:00:00"), 6, "C"),   # state change
        (3, _ts("2024-01-02 00:00:00"), 7, "P"),   # extends open version
        (4, _ts("2024-01-02 00:00:00"), 8, "N"),   # brand-new key
    ]
    schema = "k int, ts timestamp, seq int, attr string"
    base = spark.createDataFrame(base_rows, schema)
    inc = spark.createDataFrame(inc_rows, schema)
    kw = dict(
        key_cols=["k"], ts_col="ts", attr_cols=["attr"],
        tiebreak_cols=["seq"],
    )
    merged = scd2_merge(scd2_history(base, **kw), inc, **kw)
    scratch = scd2_history(base.unionByName(inc), **kw)
    assert _norm_scd2(merged.collect()) == _norm_scd2(scratch.collect())


def test_scd2_merge_invariant_on_real_events(spark):
    """Same invariant over the real events table at the registered
    cutoff — full-relation equality, not a sample."""
    q = STAGED_R12_QUERIES["xform_scd2_merge"]
    events = load_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    scratch = scd2_history(
        events, key_cols=["user_id"], ts_col="ts",
        attr_cols=["event_type"], tiebreak_cols=["event_id"],
    )
    got = {
        (r.user_id, r.version): (r.event_type, r.valid_from, r.valid_to)
        for r in q(spark, SF_DIR).collect()
    }
    want = {
        (r.user_id, r.version): (r.event_type, r.valid_from, r.valid_to)
        for r in scratch.collect()
    }
    assert got == want and got


def test_scd2_merge_untouched_keys_skip_the_rebuild(spark):
    """The scale contract: untouched history flows through an anti-join
    only — the rebuild window's exchange carries the affected slice.
    Structural check: the plan has exactly one Window pair (the
    rebuild), fed below the union branch, and the untouched branch is
    join-only."""
    final = _final_plan(STAGED_R12_QUERIES["xform_scd2_merge"](spark, SF_DIR))
    # the full-history rebuild would need Windows on BOTH union
    # branches; the merge has exactly the rebuild's two
    assert final.count("Window") == 2
    assert "LeftAnti" in final and "LeftSemi" in final


# -- ohlc ---------------------------------------------------------------------


def test_ohlc_golden(spark):
    rows = [
        (1, _ts("2024-01-01 01:00:00"), 1, 10.0),
        (1, _ts("2024-01-01 05:00:00"), 2, 3.0),
        (1, _ts("2024-01-01 23:00:00"), 3, 7.0),
        (1, _ts("2024-01-02 00:00:00"), 4, 99.0),   # next bucket
        (1, _ts("2024-01-01 01:00:00"), 0, 11.0),   # ts tie: seq 0 first
        (2, _ts("2024-01-01 12:00:00"), 5, None),   # NULL value excluded
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, seq int, v double")
    got = {
        (r.k, r.bucket): (r.open, r.high, r.low, r.close, r.n_events, r.v_sum)
        for r in ohlc_resample(
            df, key_col="k", ts_col="ts", value_col="v",
            tiebreak_cols=["seq"], unit="day",
        ).collect()
    }
    d1 = (1, _ts("2024-01-01 00:00:00"))
    assert got[d1] == (11.0, 11.0, 3.0, 7.0, 4, 31.0)
    assert got[(1, _ts("2024-01-02 00:00:00"))] == (
        99.0, 99.0, 99.0, 99.0, 1, 99.0
    )
    assert not any(k == 2 for k, _ in got)
    with pytest.raises(ValueError, match="unit"):
        ohlc_resample(
            df, key_col="k", ts_col="ts", value_col="v", unit="decade"
        )


def test_ohlc_single_aggregation_no_window(spark):
    final = _final_plan(STAGED_R12_QUERIES["win_ohlc"](spark, SF_DIR))
    assert "Window" not in final
    assert final.count("Exchange hashpartitioning") == 1


# -- readability --------------------------------------------------------------


def test_readability_golden(spark):
    df = spark.createDataFrame(
        [
            (1, "The cat sat. The dog ran!"),   # 6 words, 2 sentences
            (2, "no terminal punctuation here"),  # 1 sentence by fiat
            (3, ""),                              # wordless -> NULL score
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in with_readability(df).collect()}
    r1 = got[1]
    assert (r1.n_words, r1.n_sentences) == (6, 2)
    # syllable groups: the(1) cat(1) sat(1) the(1) dog(1) ran(1) = 6
    assert r1.n_syllables == 6
    expected = round(206.835 - 1.015 * (6 / 2) - 84.6 * (6 / 6), 6)
    assert r1.flesch == expected
    assert got[2].n_sentences == 1
    assert got[3].n_words == 0 and got[3].flesch is None


def test_readability_zero_shuffle(spark):
    final = _final_plan(STAGED_R12_QUERIES["text_readability"](spark, SF_DIR))
    assert "Exchange" not in final


def test_scd2_merge_string_tiebreaks_preserved(spark):
    """The merge must order new rows by the caller's tiebreak columns
    in their ORIGINAL types (review r10c: a long coercion reordered
    string ids — '10' < '9' lexicographically but 10 > 9 numerically —
    and broke the from-scratch invariant)."""
    schema = "k int, ts timestamp, seq string, attr string"
    base = spark.createDataFrame(
        [(1, _ts("2024-01-01 00:00:00"), "a", "A")], schema
    )
    t = _ts("2024-01-02 00:00:00")
    inc = spark.createDataFrame(
        [(1, t, "10", "B"), (1, t, "9", "C")], schema
    )
    kw = dict(
        key_cols=["k"], ts_col="ts", attr_cols=["attr"],
        tiebreak_cols=["seq"],
    )
    merged = _norm_scd2(
        scd2_merge(scd2_history(base, **kw), inc, **kw).collect()
    )
    scratch = _norm_scd2(scd2_history(base.unionByName(inc), **kw).collect())
    assert merged == scratch
    # lexicographic: '10' sorts before '9', so B precedes C
    assert merged[(1, 2)][0] == "B" and merged[(1, 3)][0] == "C"
