"""Operator-level tests for the r17 staged families: CUSUM vs the
direct recursion, Benford digit extraction edge cases, pagerank
per-iteration quantization, backoff-tier/score consistency, and the
only-late-supplier qualification rules on constructed orders."""

from __future__ import annotations

import datetime as dt

import pytest

from extended_ops.operators.graph import pagerank
from extended_ops.operators.lm import (
    backoff_tier_counts,
    score_documents,
    train_ngram_counts,
)
from extended_ops.operators.quality import (
    BENFORD_SHARES,
    benford_audit,
)
from extended_ops.operators.timeseries import (
    cusum_changepoints,
)
from extended_ops.plans.staged_r17 import (
    only_late_supplier_counts,
)

# ---------------------------------------------------------------- CUSUM


def _py_cusum(xs):
    """The textbook recursion the window identity must reproduce:
    S0 = 0, S_t = max(0, S_{t-1} + (x_t - mean))."""
    n = len(xs)
    mean = sum(xs) / n
    su = sd = 0.0
    peak_u = peak_d = 0.0
    iu = idn = 0
    for i, x in enumerate(xs):
        su = max(0.0, su + (x - mean))
        sd = max(0.0, sd + (mean - x))
        # strictly-greater: ties keep the EARLIEST peak
        if su > peak_u + 1e-12:
            peak_u, iu = su, i
        if sd > peak_d + 1e-12:
            peak_d, idn = sd, i
    return peak_u, iu, peak_d, idn


def _hourly_events(spark, counts):
    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for i, c in enumerate(counts):
        for _ in range(c):
            rows.append((eid, base + dt.timedelta(hours=i, minutes=7), "t"))
            eid += 1
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string"
    )


@pytest.mark.parametrize(
    "counts",
    [
        [5, 5, 5, 5, 20, 20, 20, 20],          # upward level shift
        [20, 20, 20, 20, 5, 5, 5, 5],          # downward level shift
        [7, 7, 7, 7, 7, 7],                    # flat: both peaks 0
        [1, 9, 1, 9, 1, 9],                    # oscillation
        [3, 14, 15, 9, 2, 6, 5, 35, 8, 9],     # irregular
    ],
)
def test_cusum_matches_direct_recursion(spark, counts):
    df = _hourly_events(spark, counts)
    got = cusum_changepoints(df, key_col="event_type", ts_col="ts").collect()
    assert len(got) == 1
    r = got[0]
    pu, iu, pd_, idn = _py_cusum(counts)
    assert r.n_buckets == len(counts)
    assert r.mean_rate == pytest.approx(sum(counts) / len(counts), abs=1e-6)
    assert r.cusum_up == pytest.approx(pu, abs=1e-6)
    assert r.cusum_down == pytest.approx(pd_, abs=1e-6)
    base = dt.datetime(2024, 1, 1)
    if pu > 0:
        assert r.up_bucket == base + dt.timedelta(hours=iu)
    if pd_ > 0:
        assert r.down_bucket == base + dt.timedelta(hours=idn)


def test_cusum_flat_series_is_zero(spark):
    df = _hourly_events(spark, [4, 4, 4, 4])
    r = cusum_changepoints(df, key_col="event_type", ts_col="ts").collect()[0]
    assert r.cusum_up == 0.0 and r.cusum_down == 0.0


def test_cusum_null_keys_and_ts_excluded(spark):
    rows = [
        (1, dt.datetime(2024, 1, 1, 0), "a"),
        (2, dt.datetime(2024, 1, 1, 1), "a"),
        (3, None, "a"),
        (4, dt.datetime(2024, 1, 1, 2), None),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string"
    )
    got = cusum_changepoints(df, key_col="event_type", ts_col="ts").collect()
    assert len(got) == 1 and got[0].n_buckets == 2


def test_cusum_rejects_unknown_bucket(spark):
    df = _hourly_events(spark, [1])
    with pytest.raises(ValueError, match="bucket"):
        cusum_changepoints(df, bucket="fortnight")


# -------------------------------------------------------------- Benford


def test_benford_digit_extraction_and_exclusions(spark):
    rows = [
        (1, 1.0),        # digit 1 (boundary: |x| >= 1 included)
        (2, 999.99),     # digit 9
        (3, -250.0),     # digit 2 via abs
        (4, 0.5),        # excluded: sub-unit
        (5, None),       # excluded: NULL
        (6, float("nan")),   # excluded: NaN
        (7, float("inf")),   # excluded: non-finite
        (8, 30000.0),    # digit 3
        (9, 1.0),        # digit 1 again
    ]
    df = spark.createDataFrame(rows, "id long, v double")
    got = {r.digit: r for r in benford_audit(df, value_col="v").collect()}
    # full 1..9 domain: absent digits emit n_obs=0 rows (their n*p_d
    # chi2 terms count — r12 advice #1)
    assert set(got) == set(range(1, 10))
    assert {d: r.n_obs for d, r in got.items() if r.n_obs} == {
        1: 2, 2: 1, 3: 1, 9: 1,
    }
    assert got[4].n_obs == 0 and got[4].obs_share == 0.0
    assert got[1].obs_share == pytest.approx(0.4, abs=1e-6)
    assert got[1].benford_share == BENFORD_SHARES[1]
    # chi2 identical on every row of the (single) group
    assert len({r.chi2 for r in got.values()}) == 1
    # ... and includes the absent digits' n*p terms: chi2 >= n * sum of
    # missing shares (each missing digit contributes exactly n*p_d)
    missing_mass = sum(
        BENFORD_SHARES[d] for d in range(1, 10) if got[d].n_obs == 0
    )
    assert got[1].chi2 > 5 * missing_mass
    assert got[1].chi2 > 0


def test_benford_conforming_sample_has_small_chi2(spark):
    # a log-uniform sample follows Benford by construction: mantissae
    # 10^u for u uniform on [0,3) — use a fixed lattice, not RNG
    vals = [(i, 10.0 ** (3.0 * i / 997.0)) for i in range(997)]
    df = spark.createDataFrame(vals, "id long, v double")
    rows = benford_audit(df, value_col="v").collect()
    assert len(rows) == 9
    chi2 = rows[0].chi2
    # chi-square critical value at 8 dof / p=0.01 is 20.1; the lattice
    # sample sits way under it, a uniform sample sits way over
    assert chi2 < 20.0
    uni = spark.createDataFrame(
        [(i, 100.0 + 800.0 * i / 996.0) for i in range(997)],
        "id long, v double",
    )
    assert benford_audit(uni, value_col="v").collect()[0].chi2 > 100.0


def test_benford_grouped_shares_sum_to_one(spark):
    rows = [(i, float(10 + i), "g" + str(i % 2)) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, v double, g string")
    out = benford_audit(df, value_col="v", group_cols=["g"]).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r.g, 0.0)
        by_g[r.g] += r.obs_share
    for g, s in by_g.items():
        assert s == pytest.approx(1.0, abs=1e-5), g


# ------------------------------------------------------------- PageRank


def test_pagerank_round_dp_close_to_unrounded_and_stable(spark):
    edges = [(i, (i * 3 + 1) % 23) for i in range(23)] + [
        (i, (i + 1) % 23) for i in range(23)
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    exact = {
        r.vertex: r.rank for r in pagerank(df, max_iter=6).collect()
    }
    rounded = {
        r.vertex: r.rank
        for r in pagerank(df, max_iter=6, round_dp=9).collect()
    }
    assert set(exact) == set(rounded)
    for v in exact:
        # 6 iterations amplify the per-round 5e-10 quantization by at
        # most the damping geometric series (~6.7x)
        assert rounded[v] == pytest.approx(exact[v], abs=1e-8), v
    again = {
        r.vertex: r.rank
        for r in pagerank(df, max_iter=6, round_dp=9).collect()
    }
    assert again == rounded


# ------------------------------------------------------- LM tier counts


def test_backoff_tiers_match_score_documents_tiers(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat sat on the mat"),
            (3, "the dog sat on a log"),
            (4, "zyx wvu tsr"),  # all-OOV under min_count=2
        ],
        "doc_id long, text string",
    )
    model = train_ngram_counts(
        docs.select("text"), order=3, min_count=2
    )
    tiers = {
        r.doc_id: r for r in backoff_tier_counts(docs, model).collect()
    }
    assert set(tiers) == {1, 2, 3, 4}
    for r in tiers.values():
        assert r.n_tri + r.n_bi + r.n_uni + r.n_oov == r.n_tokens
    # docs 1 and 2 are identical: identical tier rows
    a, b = tiers[1], tiers[2]
    assert (a.n_tri, a.n_bi, a.n_uni, a.n_oov) == (
        b.n_tri, b.n_bi, b.n_uni, b.n_oov
    )
    # the duplicated sentence's trigrams all hit count>=2
    assert a.n_tri == a.n_tokens - 2  # first two tokens lack a trigram
    assert tiers[4].n_oov == tiers[4].n_tokens
    assert tiers[4].hit_rate == 0.0
    assert a.hit_rate == 1.0
    # consistency with the scorer: a doc on the OOV floor scores worse
    scores = {
        r.doc_id: r.avg_logprob
        for r in score_documents(docs, model).collect()
    }
    assert scores[4] < scores[1]


def test_backoff_tiers_empty_docs_absent(spark):
    docs = spark.createDataFrame(
        [(1, "real text here"), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    model = train_ngram_counts(docs.select("text"), min_count=1)
    got = {r.doc_id for r in backoff_tier_counts(docs, model).collect()}
    assert got == {1}


# --------------------------------------------- only-late supplier rules


def _delay_fixture(spark):
    d0 = dt.datetime(2024, 1, 1)
    late = d0 + dt.timedelta(days=120)
    ontime = d0 + dt.timedelta(days=10)
    # order 1: two suppliers, only s1 late -> s1 counts (2 late rows)
    # order 2: two suppliers, both late -> nobody counts
    # order 3: single supplier, late -> nobody (no co-supplier)
    # order 4: open status 'O' -> excluded entirely
    li = spark.createDataFrame(
        [
            (1, 101, late), (1, 101, late), (1, 102, ontime),
            (2, 101, late), (2, 102, late),
            (3, 103, late),
            (4, 104, late), (4, 101, ontime),
        ],
        "l_orderkey long, l_suppkey long, l_shipdate timestamp",
    )
    orders = spark.createDataFrame(
        [(1, "F", d0), (2, "F", d0), (3, "F", d0), (4, "O", d0)],
        "o_orderkey long, o_orderstatus string, o_orderdate timestamp",
    )
    supp = spark.createDataFrame(
        [(101, "s101"), (102, "s102"), (103, "s103"), (104, "s104")],
        "s_suppkey long, s_name string",
    )
    return li, orders, supp


def test_only_late_supplier_qualification_rules(spark):
    got = {
        r.s_name: r.numwait
        for r in only_late_supplier_counts(*_delay_fixture(spark)).collect()
    }
    assert got == {"s101": 2}
