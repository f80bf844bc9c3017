"""pagerank (iterative authority scoring): exact parity vs a pure-Python
power iteration with dangling redistribution (same formula, same
iteration count), structural sanity on known graphs, convergence/tol,
and mass conservation on a real edge sample. Pytest-gated only —
iterative fixpoints are the documented non-SQL-expressible class."""

from __future__ import annotations

from collections import Counter, defaultdict

import pytest
from conftest import SF_DIR

from extended_ops.operators.graph import pagerank
from extended_ops.sources.tables import load_table


def _py_pagerank(edges, d=0.85, iters=20):
    verts = sorted({u for e in edges for u in e})
    n = len(verts)
    out = Counter(s for s, _ in edges)
    r = {v: 1.0 for v in verts}
    for _ in range(iters):
        dang = sum(r[v] for v in verts if out[v] == 0)
        contrib = defaultdict(float)
        for s, t in edges:
            contrib[t] += r[s] / out[s]
        r = {v: (1 - d) + d * (contrib[v] + dang / n) for v in verts}
    return r


EDGES = [
    (1, 2), (2, 3), (3, 1),          # cycle
    (4, 1), (4, 2), (4, 3),          # 4 feeds the cycle, nothing feeds 4
    (5, 4), (5, 4),                  # parallel edges count twice... to 4
    (6, 6),                          # self-loop
    (7, 1),                          # 7 and 8: 8 is dangling (dst only)
    (7, 8),
]


def test_pagerank_matches_python_power_iteration(spark):
    df = spark.createDataFrame(EDGES, "src bigint, dst bigint")
    got = {
        r.vertex: r.rank
        for r in pagerank(df, max_iter=12).collect()
    }
    expect = _py_pagerank(EDGES, d=0.85, iters=12)
    assert set(got) == set(expect)
    for v, rv in expect.items():
        assert got[v] == pytest.approx(rv, abs=1e-9), v
    # mass conservation: ranks sum to N (dangling redistribution works)
    assert sum(got.values()) == pytest.approx(len(expect), rel=1e-9)


def test_pagerank_known_structures(spark):
    # pure cycle: perfectly symmetric, every rank exactly 1
    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src bigint, dst bigint"
    )
    ranks = {r.vertex: r.rank for r in pagerank(cyc, max_iter=8).collect()}
    assert all(v == pytest.approx(1.0) for v in ranks.values())
    # star: everyone points at the hub; hub outranks all leaves
    star = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)], "src bigint, dst bigint"
    )
    ranks = {r.vertex: r.rank for r in pagerank(star, max_iter=8).collect()}
    assert ranks[0] > max(v for k, v in ranks.items() if k != 0) * 3


def _py_pagerank_exact(edges, scale, d=0.85, iters=5):
    """The scaled-BIGINT recurrence, replayed in pure Python ints —
    every op (integral division, integer sums, one float multiply,
    floor) mirrors the exact_scale loop term for term."""
    import math

    verts = sorted({u for e in edges for u in e})
    n = len(verts)
    out = Counter(s for s, _ in edges)
    base_s = round((1.0 - d) * scale)
    r = {v: scale for v in verts}
    for _ in range(iters):
        dang = sum(r[v] for v in verts if out[v] == 0)
        contrib = defaultdict(int)
        for s, t in edges:
            contrib[t] += r[s] // out[s]
        r = {
            v: base_s + math.floor(d * (contrib[v] + dang // n))
            for v in verts
        }
    return {v: rv / scale for v, rv in r.items()}


def test_pagerank_exact_scale_matches_python_integer_recurrence(spark):
    """exact_scale runs the ENTIRE iteration in scaled-BIGINT
    arithmetic: equality vs the pure-Python integer recurrence is
    ==, not approx — bit-stability is the mode's contract."""
    df = spark.createDataFrame(EDGES, "src bigint, dst bigint")
    got = {
        r.vertex: r.rank
        for r in pagerank(df, max_iter=5, exact_scale=10**9).collect()
    }
    expect = _py_pagerank_exact(EDGES, 10**9, d=0.85, iters=5)
    assert got == expect
    # quantization truncation only loses < 1/scale per edge term: the
    # exact fixpoint tracks the float one to ~1e-6 on this graph
    flt = _py_pagerank(EDGES, d=0.85, iters=5)
    for v in flt:
        assert got[v] == pytest.approx(flt[v], abs=1e-6), v


def test_pagerank_exact_scale_validation(spark):
    df = spark.createDataFrame(EDGES, "src bigint, dst bigint")
    with pytest.raises(ValueError, match="mutually exclusive"):
        pagerank(df, round_dp=9, exact_scale=10**9)
    with pytest.raises(ValueError, match="positive integer"):
        pagerank(df, exact_scale=0)


def test_pagerank_tol_early_stop_matches_long_run(spark):
    df = spark.createDataFrame(EDGES, "src bigint, dst bigint")
    converged = {
        r.vertex: r.rank
        for r in pagerank(df, max_iter=60, tol=1e-10).collect()
    }
    long_run = {
        r.vertex: r.rank
        for r in pagerank(df, max_iter=60).collect()
    }
    for v in long_run:
        assert converged[v] == pytest.approx(long_run[v], abs=1e-7)


def test_pagerank_real_edge_sample_mass_and_determinism(spark):
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_suppkey", "l_partkey"
    ).limit(500)
    edges = li.selectExpr("l_suppkey AS src", "l_partkey + 100000 AS dst")
    ranks = pagerank(edges, max_iter=6).collect()
    n = len(ranks)
    assert sum(r.rank for r in ranks) == pytest.approx(n, rel=1e-9)
    again = pagerank(edges.repartition(7), max_iter=6).collect()
    assert {r.vertex: pytest.approx(r.rank, abs=1e-9) for r in ranks} == {
        r.vertex: r.rank for r in again
    }


def test_pagerank_validation(spark):
    df = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    with pytest.raises(ValueError):
        pagerank(df, damping=1.0)
    with pytest.raises(ValueError):
        pagerank(df, max_iter=0)
    empty = spark.createDataFrame([], "src bigint, dst bigint")
    assert pagerank(empty).count() == 0


def test_pagerank_warm_start_accelerates_and_converges_same(spark):
    """Warm start from a previous graph's ranks: same fixpoint (power
    iteration is start-independent), reached closer in fewer iterations
    — 3 warm iterations beat 3 cold ones in L1 distance to the new
    graph's converged ranks."""
    old_edges = spark.createDataFrame(EDGES, "src bigint, dst bigint")
    prev = pagerank(old_edges, max_iter=40, tol=1e-12)
    # the graph grows: a new page 9 linking into the cycle, 3 links to 9
    new_edges = spark.createDataFrame(
        EDGES + [(9, 1), (1, 9), (4, 9)], "src bigint, dst bigint"
    )
    target = {
        r.vertex: r.rank
        for r in pagerank(new_edges, max_iter=80, tol=1e-12).collect()
    }

    def l1(df):
        return sum(
            abs(r.rank - target[r.vertex]) for r in df.collect()
        )

    warm = l1(pagerank(new_edges, max_iter=3, init_ranks=prev))
    cold = l1(pagerank(new_edges, max_iter=3))
    assert warm < cold
    # and the warm run converges to the SAME fixpoint
    warm_full = {
        r.vertex: r.rank
        for r in pagerank(
            new_edges, max_iter=80, tol=1e-12, init_ranks=prev
        ).collect()
    }
    # both runs stop after the same geometric contraction (~0.85^80 of
    # their different starting distances), so residuals agree to ~1e-6,
    # not machine precision
    for v, rv in target.items():
        assert warm_full[v] == pytest.approx(rv, abs=1e-6)
