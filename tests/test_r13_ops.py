"""Contract tests for the r13 staged operators (gap sessionization,
temperature mixture sampling, freshness audit, exact k-NN graph, event
transition matrix). DuckDB hash parity for the full registrations is
pinned by tests/test_oracle_parity.py; these pin goldens, edge semantics,
validation and the claimed plan topologies."""

from __future__ import annotations

import datetime as dt

import pyspark.sql.functions as F
import pytest
from conftest import SF_DIR

from extended_ops.operators.corpus import (
    mixture_sample,
)
from extended_ops.operators.quality import (
    freshness_audit,
)
from extended_ops.operators.similarity import (
    knn_graph,
)
from extended_ops.operators.timeseries import (
    event_transitions,
    gap_sessions,
)
from extended_ops.plans.staged_r13 import (
    STAGED_R13_QUERIES,
)


def _ts(s):
    return dt.datetime.fromisoformat(s)


def _final_plan(df):
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


# -- gap sessions -------------------------------------------------------------


def test_gap_sessions_golden(spark):
    """Hand-checked sessions: a 30-min gap closes EXACTLY-at-gap stays
    open (strict >); NULL ts excluded; per-key independence."""
    rows = [
        # user 1: 3 events within gaps, then a 31-min silence, then 1
        (1, _ts("2024-01-01 10:00:00"), 1),
        (1, _ts("2024-01-01 10:30:00"), 2),   # exactly 30 min: SAME session
        (1, _ts("2024-01-01 10:45:00"), 3),
        (1, _ts("2024-01-01 11:16:00"), 4),   # 31 min: NEW session
        # user 2: single event; plus a NULL ts row that must vanish
        (2, _ts("2024-01-01 09:00:00"), 5),
        (2, None, 6),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, eid int")
    got = {
        (r.user_id, r.session_seq): (
            r.n_events,
            r.duration_secs,
            r.session_start,
            r.session_end,
        )
        for r in gap_sessions(
            df, key_col="user_id", ts_col="ts", gap_minutes=30
        ).collect()
    }
    assert got[(1, 1)] == (
        3, 2700, _ts("2024-01-01 10:00:00"), _ts("2024-01-01 10:45:00")
    )
    assert got[(1, 2)] == (
        1, 0, _ts("2024-01-01 11:16:00"), _ts("2024-01-01 11:16:00")
    )
    assert got[(2, 1)][0] == 1
    assert len(got) == 3
    with pytest.raises(ValueError, match="gap_minutes"):
        gap_sessions(df, key_col="user_id", ts_col="ts", gap_minutes=0)


def test_gap_sessions_one_exchange_plan(spark):
    final = _final_plan(STAGED_R13_QUERIES["win_gap_sessions"](spark, SF_DIR))
    # the lag window, the running session index and the closing
    # per-session aggregation all ride ONE keyed exchange (shared window
    # spec + subset clustering); the loader's scan-spread exchange is
    # the only other one
    assert final.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in final


# -- mixture sample -----------------------------------------------------------


def test_mixture_sample_rates_and_determinism(spark):
    """Planted 3:1 skew: the big group's keep rate is sqrt(1/3), the
    smallest keeps rate 1.0 (every member survives — no upsampling);
    membership is draw-deterministic across runs."""
    rows = [(i, "big") for i in range(300)] + [
        (1000 + i, "small") for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = mixture_sample(df).collect()
    rates = {r.source: r.keep_rate for r in out}
    assert rates["small"] == 1.0
    assert rates["big"] == pytest.approx((100 / 300) ** 0.5, abs=1e-6)
    small_kept = sum(1 for r in out if r.source == "small")
    assert small_kept == 100  # rate 1.0 keeps EVERYTHING
    big_kept = sum(1 for r in out if r.source == "big")
    # md5 draws are uniform: expect ~300·0.577 ≈ 173, loose bounds
    assert 120 <= big_kept <= 230
    # deterministic: identical membership on re-run
    again = {(r.doc_id) for r in mixture_sample(df).collect()}
    assert again == {r.doc_id for r in out}


def test_mixture_sample_zero_shuffle_data_path(spark):
    final = _final_plan(
        STAGED_R13_QUERIES["corpus_mixture_sample"](spark, SF_DIR)
    )
    # the corpus side is scan -> broadcast-join filter; the only
    # exchanges aggregate the tiny per-group counts (and the loader
    # spread) — the DATA path never hash-shuffles doc rows to compute
    # membership
    assert "BroadcastHashJoin" in final
    assert "SortMergeJoin" not in final and "CartesianProduct" not in final


def test_mixture_sample_null_group_excluded_symmetrically(spark):
    """A NULL-group doc has no mixture share: it must neither survive
    sampling NOR count into the per-group sizes (a phantom NULL 'group'
    setting n_min would distort every real group's rate — review r11)."""
    rows = (
        [(i, "big") for i in range(300)]
        + [(1000 + i, "small") for i in range(100)]
        + [(2000 + i, None) for i in range(10)]  # smaller than 'small'
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = mixture_sample(df).collect()
    rates = {r.source: r.keep_rate for r in out}
    assert None not in rates             # NULL-group docs never emitted
    assert rates["small"] == 1.0         # n_min is 100, NOT the NULL 10
    assert rates["big"] == pytest.approx((100 / 300) ** 0.5, abs=1e-6)


# -- freshness ----------------------------------------------------------------


def test_freshness_golden_including_null_only_key(spark):
    base = _ts("2024-01-10 00:00:00")
    rows = [
        (1, base),                                  # the anchor key
        (1, base - dt.timedelta(hours=500)),
        (2, base - dt.timedelta(hours=100)),        # stale vs sla=96
        (3, base - dt.timedelta(hours=95)),         # fresh (95 < 96)
        (4, None),                                  # NULL-only feed
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp")
    got = {
        r.k: (r.staleness_hours, r.is_stale)
        for r in freshness_audit(
            df, key_col="k", ts_col="ts", sla_hours=96
        ).collect()
    }
    assert got[1] == (0, False)
    assert got[2] == (100, True)
    assert got[3] == (95, False)
    assert got[4] == (None, True)  # never-valid feed MUST flag
    with pytest.raises(ValueError, match="sla_hours"):
        freshness_audit(df, key_col="k", ts_col="ts", sla_hours=0)


def test_freshness_planted_defect_detected(spark):
    """The registered dq_freshness MUST flag every planted dead feed
    (user_id % 23 == 0, events cut at the registered cutoff) — an
    audit that can't see its planted defects is vacuous."""
    out = {
        r.user_id: r.is_stale
        for r in STAGED_R13_QUERIES["dq_freshness"](spark, SF_DIR).collect()
    }
    planted = [u for u in out if u is not None and u % 23 == 0]
    assert planted, "fixture lost its planted users"
    assert all(out[u] for u in planted)


# -- knn graph ----------------------------------------------------------------


def test_knn_graph_exact_vs_bruteforce(spark):
    """The blocked local-then-global top-k must equal the brute-force
    k-NN graph computed driver-side (round-6 sims, ties by id) — the
    exactness claim, checked on a corpus spanning several blocks."""
    import numpy as np

    rng = np.random.RandomState(11)
    n, dim, k = 60, 8, 4
    vecs = rng.randn(n, dim).astype(np.float64)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r.src_id, r.rank): (r.neighbor_id, r.sim)
        for r in knn_graph(df, k=k, blocks=4).collect()
    }
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = np.round(unit @ unit.T, 6)
    for i in range(n):
        order = sorted(
            (j for j in range(n) if j != i),
            key=lambda j: (-sims[i, j], j),
        )[:k]
        for rank, j in enumerate(order, start=1):
            nid, s = got[(i, rank)]
            assert nid == j, (i, rank, nid, j)
            assert s == pytest.approx(sims[i, j], abs=2e-6)
    assert len(got) == n * k
    with pytest.raises(ValueError, match="k must be"):
        knn_graph(df, k=0)
    with pytest.raises(ValueError, match="blocks must be"):
        # blocks=0 used to silently return an empty graph (review r11)
        knn_graph(df, k=2, blocks=0)


def test_knn_graph_null_id_and_null_vector_excluded(spark):
    """NULL ids crashed the Arrow int64 conversion mid-job while the
    oracle's equi-join silently dropped them (review r11): both NULL
    ids and NULL vectors are now excluded up front on both engines."""
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
            (None, [1.0, 0.0]),   # NULL id
            (3, None),            # NULL vector
        ],
        "vec_id long, embedding array<double>",
    )
    out = knn_graph(df, k=2, blocks=2).collect()
    ids = {r.src_id for r in out} | {r.neighbor_id for r in out}
    assert None not in ids and 3 not in ids
    assert {r.src_id for r in out} == {0, 1, 2}


def test_knn_graph_candidate_volume_is_k_bounded(spark):
    """Shuffle sanity: the ranked window's input is at most n·B·k
    candidate rows, never the n² pair stream."""
    emb = STAGED_R13_QUERIES["sim_knn_graph"](spark, SF_DIR)
    final = _final_plan(emb)
    assert "CartesianProduct" not in final
    # one applyInPandas stage (the block-pair scorer) feeds the window
    assert final.count("FlatMapGroupsInPandas") == 1


# -- transitions --------------------------------------------------------------


def test_transitions_golden_and_probabilities(spark):
    rows = [
        (1, _ts("2024-01-01 10:00:00"), 1, "view"),
        (1, _ts("2024-01-01 10:01:00"), 2, "click"),
        (1, _ts("2024-01-01 10:02:00"), 3, "view"),
        (1, _ts("2024-01-01 10:03:00"), 4, "click"),
        (2, _ts("2024-01-01 10:00:00"), 5, "view"),
        (2, _ts("2024-01-01 10:05:00"), 6, "error"),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts timestamp, event_id int, event_type string"
    )
    got = {
        (r.from_type, r.to_type): (r.n_transitions, r.p)
        for r in event_transitions(
            df,
            key_col="user_id",
            type_col="event_type",
            ts_col="ts",
            tiebreak_cols=["event_id"],
        ).collect()
    }
    # user1: view->click, click->view, view->click; user2: view->error
    assert got[("view", "click")] == (2, 0.666667)
    assert got[("view", "error")] == (1, 0.333333)
    assert got[("click", "view")] == (1, 1.0)
    assert sum(n for n, _ in got.values()) == 4
    with pytest.raises(ValueError, match="tiebreak"):
        event_transitions(
            df, key_col="user_id", type_col="event_type", ts_col="ts",
            tiebreak_cols=None,
        )


def test_transitions_equal_ts_tiebreak_deterministic(spark):
    """Two events at the SAME timestamp: the pair order is pinned by
    event_id, so the matrix is identical run-to-run."""
    t = _ts("2024-01-01 10:00:00")
    df = spark.createDataFrame(
        [(1, t, 2, "b"), (1, t, 1, "a"), (1, t, 3, "c")],
        "user_id int, ts timestamp, event_id int, event_type string",
    )
    got = {
        (r.from_type, r.to_type)
        for r in event_transitions(
            df, key_col="user_id", type_col="event_type", ts_col="ts",
            tiebreak_cols=["event_id"],
        ).collect()
    }
    assert got == {("a", "b"), ("b", "c")}


def test_transitions_null_and_nan_tiebreak_excluded(spark):
    """NULL tiebreaks are excluded symmetrically with NULL ts/type
    (review r12a: Spark windows sort NULLS FIRST, DuckDB NULLS LAST —
    keeping them would make tied-timestamp pairs engine-dependent), and
    NaN values in float-typed type/tiebreak columns are excluded the
    same way the streaming fold's pandas NaN handling does."""
    df = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), 1, "a"),
            (1, _ts("2024-01-01 10:01:00"), None, "b"),  # dropped
            (1, _ts("2024-01-01 10:02:00"), 3, "c"),
        ],
        "user_id int, ts timestamp, event_id int, event_type string",
    )
    got = {
        (r.from_type, r.to_type)
        for r in event_transitions(
            df, key_col="user_id", type_col="event_type", ts_col="ts",
            tiebreak_cols=["event_id"],
        ).collect()
    }
    assert got == {("a", "c")}
    # float tiebreak: NaN row dropped exactly like the NULL row above
    dff = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), 1.0, "a"),
            (1, _ts("2024-01-01 10:01:00"), float("nan"), "b"),
            (1, _ts("2024-01-01 10:02:00"), 3.0, "c"),
        ],
        "user_id int, ts timestamp, event_id double, event_type string",
    )
    got_f = {
        (r.from_type, r.to_type)
        for r in event_transitions(
            dff, key_col="user_id", type_col="event_type", ts_col="ts",
            tiebreak_cols=["event_id"],
        ).collect()
    }
    assert got_f == {("a", "c")}


def test_knn_graph_rejects_non_integer_id(spark):
    """The pandas kernel carries ids as int64 (output schema 'src_id
    long'); a string id must fail at plan time with a clear message,
    not mid-job inside an Arrow cast (review r12a)."""
    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    with pytest.raises(TypeError, match="integer id"):
        knn_graph(df, id_col="vec_id", vec_col="embedding", k=1)
