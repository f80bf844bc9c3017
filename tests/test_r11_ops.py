"""Contract tests for the r11 staged operators (PIT join, activity
streaks, co-occurrence, expectations audit, keep-best survivor
election). DuckDB hash parity for the full registrations is pinned by
tests/test_oracle_parity.py; these pin goldens, edge semantics, validation
and the claimed plan topologies."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest
from conftest import SF_DIR

from extended_ops.operators.asof import pit_join
from extended_ops.operators.dedup import (
    keep_best_per_cluster,
)
from extended_ops.operators.quality import (
    expectations_audit,
)
from extended_ops.operators.text import (
    cooccurrence_pairs,
)
from extended_ops.operators.timeseries import (
    activity_streaks,
)
from extended_ops.plans.staged_r11 import (
    STAGED_R11_QUERIES,
)


def _ts(s):
    return dt.datetime.fromisoformat(s)


def _final_plan(df):
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


# -- pit_join ----------------------------------------------------------------


def test_pit_join_boundaries_gaps_and_left_semantics(spark):
    dim = spark.createDataFrame(
        [
            # key 1: [10:00, 11:00) v1, GAP, [12:00, NULL) v2
            (1, _ts("2024-01-01 10:00:00"), _ts("2024-01-01 11:00:00"),
             "A", 1),
            (1, _ts("2024-01-01 12:00:00"), None, "B", 2),
        ],
        "k int, valid_from timestamp, valid_to timestamp, "
        "state string, version int",
    )
    facts = spark.createDataFrame(
        [
            (100, 1, _ts("2024-01-01 09:59:00")),  # before all -> NULL
            (101, 1, _ts("2024-01-01 10:00:00")),  # at v1 start -> A
            (102, 1, _ts("2024-01-01 10:59:59")),  # inside v1 -> A
            (103, 1, _ts("2024-01-01 11:00:00")),  # v1 end = gap -> NULL
            (104, 1, _ts("2024-01-01 11:30:00")),  # in gap -> NULL
            (105, 1, _ts("2024-01-01 12:00:00")),  # at v2 start -> B
            (106, 1, _ts("2024-01-02 00:00:00")),  # open interval -> B
            (107, 2, _ts("2024-01-01 12:00:00")),  # unknown key -> NULL
        ],
        "fid int, k int, ts timestamp",
    )
    out = pit_join(
        facts, dim, key_cols=["k"], ts_col="ts",
        payload_cols=["state", "version"],
    )
    got = {r.fid: (r.state, r.version) for r in out.collect()}
    assert len(got) == 8  # LEFT: every fact row preserved
    assert got[100] == (None, None)
    assert got[101] == ("A", 1)
    assert got[102] == ("A", 1)
    assert got[103] == (None, None)
    assert got[104] == (None, None)
    assert got[105] == ("B", 2)
    assert got[106] == ("B", 2)
    assert got[107] == (None, None)


def test_pit_join_zero_width_versions(spark):
    t = _ts("2024-01-01 10:00:00")
    dim = spark.createDataFrame(
        [
            (1, t, t, "A", 1),                              # zero-width
            (1, t, _ts("2024-01-01 11:00:00"), "B", 2),     # same start
        ],
        "k int, valid_from timestamp, valid_to timestamp, "
        "state string, version int",
    )
    facts = spark.createDataFrame(
        [(100, 1, t)], "fid int, k int, ts timestamp"
    )
    out = pit_join(
        facts, dim, key_cols=["k"], ts_col="ts",
        payload_cols=["state", "version"],
    ).collect()
    # the highest version at the shared start is the one whose interval
    # can contain the instant — half-open semantics
    assert (out[0].state, out[0].version) == ("B", 2)


def test_pit_join_is_a_merge_scan_not_a_join(spark):
    final = _final_plan(STAGED_R11_QUERIES["join_pit"](spark, SF_DIR))
    assert "Join" not in final  # sorted-union + window, no join operator
    assert final.count("Exchange hashpartitioning") <= 2


# -- activity_streaks --------------------------------------------------------


def test_activity_streaks_golden(spark):
    rows = [
        # user 1: days 1,2,3 (streak 3), 5 (streak 1) — day 2 twice
        (1, _ts("2024-01-01 10:00:00")),
        (1, _ts("2024-01-02 10:00:00")),
        (1, _ts("2024-01-02 23:00:00")),
        (1, _ts("2024-01-03 00:00:00")),
        (1, _ts("2024-01-05 10:00:00")),
        # user 2: two 2-day streaks -> tie broken by EARLIEST start
        (2, _ts("2024-02-01 09:00:00")),
        (2, _ts("2024-02-02 09:00:00")),
        (2, _ts("2024-02-10 09:00:00")),
        (2, _ts("2024-02-11 09:00:00")),
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp")
    got = {
        r.k: r
        for r in activity_streaks(df, key_col="k", ts_col="ts").collect()
    }
    r1 = got[1]
    assert (r1.active_days, r1.n_streaks, r1.longest_streak_days) == (4, 2, 3)
    assert r1.longest_streak_start == dt.date(2024, 1, 1)
    r2 = got[2]
    assert (r2.active_days, r2.n_streaks, r2.longest_streak_days) == (4, 2, 2)
    assert r2.longest_streak_start == dt.date(2024, 2, 1)


def test_activity_streaks_collapses_before_every_exchange(spark):
    """Two exchanges, BOTH on the collapsed user-day relation: the
    distinct's partial aggregate runs below its exchange (dup days die
    map-side), and the window exchange re-keys the already-collapsed
    rows; the run aggregations reuse the window's key partitioning."""
    final = _final_plan(STAGED_R11_QUERIES["win_streaks"](spark, SF_DIR))
    assert final.count("Exchange hashpartitioning") == 2
    first_ex = final.rindex("Exchange hashpartitioning")
    # tree prints parents first: below (after) the LAST exchange there
    # must be a partial HashAggregate — the map-side day collapse
    assert "HashAggregate" in final[first_ex:]


# -- cooccurrence ------------------------------------------------------------


def test_cooccurrence_golden_window_and_ordering(spark):
    df = spark.createDataFrame(
        [(1, "b a b"), (2, "a c")], "doc_id long, text string"
    )
    out = {
        (r.w1, r.w2): (r.pair_count, r.c1, r.c2, r.lift)
        for r in cooccurrence_pairs(df, window=2, min_count=1).collect()
    }
    # doc1 pairs within window 2: (b,a),(b,b),(a,b); doc2: (a,c)
    # canonical ordering folds (b,a) and (a,b) into (a,b) x2
    # totals: N=5, c(a)=2, c(b)=2, c(c)=1
    assert out[("a", "b")] == (2, 2, 2, round(2 * 5 / (2 * 2), 6))
    assert out[("b", "b")] == (1, 2, 2, round(1 * 5 / (2 * 2), 6))
    assert out[("a", "c")] == (1, 2, 1, round(1 * 5 / (2 * 1), 6))
    assert len(out) == 3
    # window truncates: distance-2 pair (b..b) counted, distance-3 none
    out1 = {
        (r.w1, r.w2)
        for r in cooccurrence_pairs(df, window=1, min_count=1).collect()
    }
    assert out1 == {("a", "b"), ("a", "c")}
    with pytest.raises(ValueError, match="window"):
        cooccurrence_pairs(df, window=0)


# -- expectations audit ------------------------------------------------------


def test_expectations_null_predicate_not_a_violation(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (3, None)], "id int, v double"
    )
    out = {
        r.rule: (r.rows_checked, r.violations)
        for r in expectations_audit(
            df,
            [
                ("neg", F.col("v") < 0),          # NULL -> not violated
                ("null_v", F.col("v").isNull()),  # explicit NULL rule
            ],
        ).collect()
    }
    assert out == {"neg": (3, 1), "null_v": (3, 1)}
    with pytest.raises(ValueError, match="at least one rule"):
        expectations_audit(df, [])
    with pytest.raises(ValueError, match="duplicate"):
        expectations_audit(df, [("r", F.col("v") < 0), ("r", F.col("v") > 9)])


def test_expectations_one_scan_one_pass(spark):
    final = _final_plan(STAGED_R11_QUERIES["dq_expectations"](spark, SF_DIR))
    # one pass: the audited union scans events twice (base + planted
    # slice) but NO per-rule re-scan — rule count never multiplies scans
    assert final.count("FileScan parquet") == 2
    assert "Expand" in final  # rules melt via unpivot, not union


# -- keep best ---------------------------------------------------------------


def test_keep_best_argmax_and_ties(spark):
    clusters = spark.createDataFrame(
        [(10, 1), (11, 1), (12, 1), (20, 2), (21, 2)],
        "doc_id long, cluster_id long",
    )
    scores = spark.createDataFrame(
        [(10, 5.0), (11, 9.0), (12, 9.0), (20, 1.0), (21, 1.0)],
        "doc_id long, s double",
    )
    got = {
        r.cluster_id: (r.keep_id, r.best_score, r.n_members)
        for r in keep_best_per_cluster(
            clusters, scores, score_col="s"
        ).collect()
    }
    # cluster 1: tie 9.0 between 11 and 12 -> min id 11
    assert got[1] == (11, 9.0, 3)
    assert got[2] == (20, 1.0, 2)


def test_keep_best_no_window_plan(spark):
    final = _final_plan(STAGED_R11_QUERIES["dedup_keep_best"](spark, SF_DIR))
    # survivor election is an aggregation, never a ranked window over
    # members (the agg_mode argmin rule)
    tail = final[final.index("HashAggregate(keys=[cluster_id"):] if (
        "HashAggregate(keys=[cluster_id" in final
    ) else final
    assert "partial_min(struct" in final
    assert "row_number" not in tail


def test_keep_best_string_ids(spark):
    """The min-id tiebreak must work for NON-numeric id types (r10
    advice #1: the old arithmetic-negation tiebreak failed analysis on
    string doc ids): ascending-id leg is native, so string ids order
    lexicographically."""
    clusters = spark.createDataFrame(
        [("doc-b", 1), ("doc-a", 1), ("doc-c", 1), ("doc-z", 2)],
        "doc_id string, cluster_id long",
    )
    scores = spark.createDataFrame(
        [("doc-b", 9.0), ("doc-a", 9.0), ("doc-c", 5.0)],
        "doc_id string, s double",
    )
    got = {
        r.cluster_id: (r.keep_id, r.best_score, r.n_members)
        for r in keep_best_per_cluster(
            clusters, scores, score_col="s"
        ).collect()
    }
    # tie at 9.0 -> lexicographically smallest id wins
    assert got[1] == ("doc-a", 9.0, 3)
    # all-unscored cluster still elects its min string id
    assert got[2] == ("doc-z", None, 1)


# -- review-round fixes (r10 review) ------------------------------------------


def test_pit_join_zero_width_with_higher_seq_cannot_shadow(spark):
    """A zero-width version carrying a HIGHER seq than the containing
    version at the same valid_from must not shadow it (review r10): the
    carry order is (valid_to as +inf, seq), so the longest-lived
    version wins the tie regardless of sequence assignment."""
    t = _ts("2024-01-01 10:00:00")
    dim = spark.createDataFrame(
        [
            (1, t, _ts("2024-01-01 11:00:00"), "KEEP", 5),
            (1, t, t, "ZERO", 9),  # zero-width, higher seq
        ],
        "k int, valid_from timestamp, valid_to timestamp, "
        "state string, version int",
    )
    facts = spark.createDataFrame(
        [(100, 1, t), (101, 1, _ts("2024-01-01 10:30:00"))],
        "fid int, k int, ts timestamp",
    )
    got = {
        r.fid: r.state
        for r in pit_join(
            facts, dim, key_cols=["k"], ts_col="ts",
            payload_cols=["state", "version"],
        ).collect()
    }
    assert got == {100: "KEEP", 101: "KEEP"}


def test_time_decay_null_values_excluded_like_oracle(spark):
    """NULL-valued events are excluded up front (review r10): a NULL
    term would poison Spark's fold to NULL while DuckDB's list_sum
    skips it — the contract pins both engines to exclusion."""
    base = _ts("2024-01-10 00:00:00")
    from extended_ops.operators.timeseries import (
        time_decay_stats,
    )
    df = spark.createDataFrame(
        [
            (1, base, 1, 10.0),
            (1, base + dt.timedelta(hours=1), 2, None),
            (1, base + dt.timedelta(hours=2), 3, 30.0),
        ],
        "k int, ts timestamp, seq int, v double",
    )
    out = time_decay_stats(
        df, key_col="k", ts_col="ts", value_col="v",
        tiebreak_cols=["seq"], half_life_hours=24,
    ).collect()
    r = out[0]
    assert r.n_events == 2          # valued events only
    assert r.decayed_sum == 40.0    # both within one half-life step
    assert r.decayed_weight == 2.0


def test_keep_best_unscored_members_counted_and_fallback(spark):
    """LEFT score join (review r10): unscored members count in
    n_members; a scored member always beats an unscored one; an
    entirely-unscored cluster elects min id with NULL best_score."""
    clusters = spark.createDataFrame(
        [(10, 1), (11, 1), (12, 1), (30, 3), (31, 3)],
        "doc_id long, cluster_id long",
    )
    scores = spark.createDataFrame(
        [(10, 1.0)], "doc_id long, s double"  # 11,12,30,31 unscored
    )
    got = {
        r.cluster_id: (r.keep_id, r.best_score, r.n_members)
        for r in keep_best_per_cluster(
            clusters, scores, score_col="s"
        ).collect()
    }
    assert got[1] == (10, 1.0, 3)      # scored beats unscored
    assert got[3] == (30, None, 2)     # all-unscored: min id, NULL score


def test_cooccurrence_single_arrow_pass(spark):
    """The tokenizer/pair-emit pass runs ONCE (review r10: unpinned,
    its four logical consumers re-executed it four times): the pinned
    lineage appears as Scan ExistingRDD and at most one MapInPandas
    survives in the final plan."""
    df = STAGED_R11_QUERIES["text_cooccurrence"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") <= 1
    assert "Scan ExistingRDD" in final
