"""Unit + plan gates for the round-10 capability families (SCD2,
skyline, time decay, containment, referential audit, char diversity,
unpivot). Hash parity vs DuckDB for each registered query is covered
per-key by tests/test_oracle_parity.py; these tests pin the operator
CONTRACTS (goldens, edge cases, validation) and the claimed plan
topologies."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest
from conftest import SF_DIR

from extended_ops.operators.dedup import (
    ngram_containment_pairs,
)
from extended_ops.operators.history import scd2_history
from extended_ops.operators.quality import (
    referential_audit,
)
from extended_ops.operators.reshape import (
    unpivot_metrics,
)
from extended_ops.operators.skyline import skyline_2d
from extended_ops.operators.text import (
    char_diversity_rows,
)
from extended_ops.operators.timeseries import (
    time_decay_stats,
)
from extended_ops.plans.round10 import ROUND10_QUERIES
from extended_ops.sources.tables import load_table


def _final_plan(df):
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


# -- scd2 --------------------------------------------------------------------


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_scd2_golden_collapse_and_intervals(spark):
    rows = [
        # key 1: A A B A  -> versions A, B, A (middle A collapses)
        (1, _ts("2024-01-01 00:00:00"), 1, "A"),
        (1, _ts("2024-01-01 01:00:00"), 2, "A"),
        (1, _ts("2024-01-01 02:00:00"), 3, "B"),
        (1, _ts("2024-01-01 03:00:00"), 4, "A"),
        # key 2: NULL -> X -> NULL is three versions (null-safe compare)
        (2, _ts("2024-01-02 00:00:00"), 5, None),
        (2, _ts("2024-01-02 01:00:00"), 6, "X"),
        (2, _ts("2024-01-02 02:00:00"), 7, None),
        # key 3: single row -> one open version
        (3, _ts("2024-01-03 00:00:00"), 8, "Z"),
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, seq int, attr string")
    out = scd2_history(
        df, key_cols=["k"], ts_col="ts", attr_cols=["attr"],
        tiebreak_cols=["seq"],
    )
    got = {
        (r.k, r.version): (r.attr, r.valid_from, r.valid_to, r.is_current)
        for r in out.collect()
    }
    assert len(got) == 7
    assert got[(1, 1)] == (
        "A", _ts("2024-01-01 00:00:00"), _ts("2024-01-01 02:00:00"), False
    )
    assert got[(1, 2)] == (
        "B", _ts("2024-01-01 02:00:00"), _ts("2024-01-01 03:00:00"), False
    )
    assert got[(1, 3)] == ("A", _ts("2024-01-01 03:00:00"), None, True)
    assert got[(2, 1)][0] is None and got[(2, 1)][3] is False
    assert got[(2, 2)][0] == "X"
    assert got[(2, 3)][0] is None and got[(2, 3)][3] is True
    assert got[(3, 1)] == ("Z", _ts("2024-01-03 00:00:00"), None, True)
    # intervals chain gaplessly: valid_to == next version's valid_from
    for k in (1, 2):
        vs = sorted(
            (v for (kk, v) in got if kk == k),
        )
        for a, b in zip(vs, vs[1:]):
            assert got[(k, a)][2] == got[(k, b)][1]


def test_scd2_single_exchange_plan(spark):
    """The claimed topology: both window passes share ONE keyed
    exchange (the filter between them preserves partitioning)."""
    final = _final_plan(ROUND10_QUERIES["xform_scd2"](spark, SF_DIR))
    assert final.count("Exchange hashpartitioning") == 1
    assert final.count("Window") == 2


# -- skyline -----------------------------------------------------------------


def test_skyline_matches_bruteforce_dominance(spark):
    part = load_table(spark, SF_DIR, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    got = {
        r.p_partkey
        for r in skyline_2d(
            part, min_col="p_retailprice", max_col="p_size"
        ).collect()
    }
    rows = part.collect()
    expected = {
        p.p_partkey
        for p in rows
        if p.p_retailprice is not None
        and p.p_size is not None
        and not any(
            q.p_retailprice is not None
            and q.p_size is not None
            and q.p_retailprice <= p.p_retailprice
            and q.p_size >= p.p_size
            and (q.p_retailprice < p.p_retailprice or q.p_size > p.p_size)
            for q in rows
        )
    }
    assert got == expected and got


def test_skyline_ties_and_nulls(spark):
    df = spark.createDataFrame(
        [
            (1, 1.0, 10),
            (2, 1.0, 10),   # exact tie with 1: both survive
            (3, 1.0, 9),    # dominated (same x, smaller y)
            (4, 2.0, 11),
            (5, 2.0, 10),   # dominated by 4 (same x) and ties 1 on y
            (6, None, 99),  # null coordinate: excluded
            (7, 0.5, None),
        ],
        "id int, x double, y int",
    )
    got = {r.id for r in skyline_2d(df, min_col="x", max_col="y").collect()}
    assert got == {1, 2, 4}


def test_skyline_broadcasts_frontier(spark):
    # AQE sizes the frontier onto the broadcast side — the hint is NOT
    # forced (r10 advice #4: a forced F.broadcast over an unbounded
    # continuous min_col domain risks driver OOM); this gate proves the
    # broadcast still happens when the frontier actually fits
    final = _final_plan(ROUND10_QUERIES["rel_skyline"](spark, SF_DIR))
    assert "BroadcastHashJoin" in final
    assert "SortMergeJoin" not in final and "CartesianProduct" not in final
    # the single-partition window runs over the DISTINCT-price
    # aggregate, never the base relation: its input is the hash agg
    assert final.index("Exchange SinglePartition") < final.index(
        "Exchange hashpartitioning"
    )


# -- time decay --------------------------------------------------------------


def test_time_decay_exact_weights(spark):
    # base is midnight UTC, so with a 24 h half-life the CALENDAR
    # buckets are whole days: weight = 2^-(anchor_day - event_day)
    base = _ts("2024-01-10 00:00:00")
    rows = [
        (1, base + dt.timedelta(hours=48), 4, 10.0),  # day+2 -> w 1
        (1, base + dt.timedelta(hours=24), 2, 10.0),  # day+1 -> w 1/2
        (1, base, 1, 10.0),                            # day   -> w 1/4
        (1, base + dt.timedelta(hours=12), 3, 8.0),   # day   -> w 1/4
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, seq int, v double")
    out = time_decay_stats(
        df, key_col="k", ts_col="ts", value_col="v",
        tiebreak_cols=["seq"], half_life_hours=24,
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_events == 4
    assert r.last_ts == base + dt.timedelta(hours=48)
    # 10*1 + 10*0.5 + 10*0.25 + 8*0.25 = 19.5 ; weights 1+.5+.25+.25
    assert r.decayed_sum == 19.5
    assert r.decayed_weight == 2.0


def test_time_decay_validation(spark):
    df = spark.createDataFrame(
        [(1, _ts("2024-01-01 00:00:00"), 1, 1.0)],
        "k int, ts timestamp, seq int, v double",
    )
    with pytest.raises(ValueError, match="half_life_hours"):
        time_decay_stats(
            df, key_col="k", ts_col="ts", value_col="v", half_life_hours=0
        )


# -- containment -------------------------------------------------------------


def test_containment_flags_subset_that_jaccard_misses(spark):
    quote = "the quick brown fox jumps over the lazy dog tonight"
    page = (
        "breaking news and a very long page of unrelated filler words "
        * 5
        + quote
    )
    df = spark.createDataFrame(
        [(1, quote), (2, page), (3, "completely different text here now")],
        "doc_id long, text string",
    )
    out = {
        (r.id_a, r.id_b): r.containment
        for r in ngram_containment_pairs(df, k=3, threshold=0.9).collect()
    }
    # every 3-shingle of the quote appears in the page -> containment 1
    assert out == {(1, 2): 1.0}
    # ...while Jaccard on the same pair is far below any dedup threshold
    from extended_ops.operators.dedup import (
        ngram_jaccard_pairs,
    )
    jac = ngram_jaccard_pairs(df, k=3, threshold=0.5).collect()
    assert jac == []


# -- referential audit -------------------------------------------------------


def test_referential_audit_counts_planted_orphans(spark):
    fact = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20), (4, 99), (5, 99), (6, None)],
        "row_id int, fk int",
    )
    dim = spark.createDataFrame([(10,), (20,)], "pk int")
    out = referential_audit([("f->d", fact, "fk", dim, "pk")]).collect()
    assert len(out) == 1
    r = out[0]
    # NULL fk excluded from fact_rows AND orphans
    assert (r.fact_rows, r.orphan_rows, r.distinct_orphan_keys) == (5, 2, 1)
    with pytest.raises(ValueError, match="at least one edge"):
        referential_audit([])


def test_referential_audit_registered_edges_broadcast(spark):
    final = _final_plan(ROUND10_QUERIES["dq_referential"](spark, SF_DIR))
    assert "SortMergeJoin" not in final
    assert final.count("BroadcastHashJoin") == 5


# -- char diversity ----------------------------------------------------------


def test_char_diversity_known_values(spark):
    df = spark.createDataFrame(
        [
            (1, "aaaa"),      # one symbol: diversity 0, top share 1
            (2, "ab"),        # two equal: 1 - 2*(1/2)^2 = 0.5
            (3, ""),          # empty: 0 distinct, NULL ratios
            (4, None),        # null: same as empty
            (5, "héé😀"),     # unicode: 4 code points, 3 distinct
        ],
        "doc_id long, text string",
    )
    got = {r.id: r for r in char_diversity_rows(df).collect()}
    assert (got[1].distinct_chars, got[1].char_diversity,
            got[1].top_char_share) == (1, 0.0, 1.0)
    assert (got[2].distinct_chars, got[2].char_diversity,
            got[2].top_char_share) == (2, 0.5, 0.5)
    for i in (3, 4):
        assert (got[i].n_chars_tok, got[i].distinct_chars) == (0, 0)
        assert got[i].char_diversity is None
        assert got[i].top_char_share is None
    assert (got[5].n_chars_tok, got[5].distinct_chars) == (4, 3)
    assert got[5].top_char_share == 0.5


def test_char_diversity_zero_shuffle_plan(spark):
    final = _final_plan(ROUND10_QUERIES["text_char_diversity"](spark, SF_DIR))
    assert "Exchange" not in final
    assert "MapInPandas" in final


# -- unpivot -----------------------------------------------------------------


def test_unpivot_shape_and_nulls(spark):
    df = spark.createDataFrame(
        [(1, 2.0, None), (2, 4.0, 5.0)], "id int, m1 double, m2 double"
    )
    out = unpivot_metrics(df, id_cols=["id"], value_cols=["m1", "m2"])
    rows = {(r.id, r.metric): r.value for r in out.collect()}
    # nulls are KEPT: tall count == rows x metrics
    assert len(rows) == 4
    assert rows[(1, "m2")] is None and rows[(2, "m2")] == 5.0
    with pytest.raises(ValueError, match="value_cols"):
        unpivot_metrics(df, id_cols=["id"], value_cols=[])
    with pytest.raises(ValueError, match="not in relation"):
        unpivot_metrics(df, id_cols=["id"], value_cols=["nope"])


def test_unpivot_zero_shuffle_plan(spark):
    df = ROUND10_QUERIES["xform_unpivot"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Exchange" not in final
    assert "Expand" in final
