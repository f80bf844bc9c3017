"""Misra-Gries heavy hitters (`operators/sketches.py::heavy_hitters`).

A mergeable summary: the contract is NOT an engine-hashable value set
(membership itself is approximate) but the deterministic bound
``est <= true <= est + err_bound`` plus guaranteed membership for keys
whose true count exceeds the bound. These tests pin that contract on
hand-built adversarial streams, under hypothesis-random multi-partition
inputs, and on the real corpus vs a DuckDB exact twin (pre-validating a
future ``within_bound``-style oracle registration, the
``agg_approx_distinct`` pattern).
"""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from conftest import SF_DIR
from extended_ops.operators.sketches import (
    heavy_hitters,
)


def _df(spark, values, parts=4):
    return spark.createDataFrame(
        [(v,) for v in values], "k string"
    ).repartition(parts)


def test_exact_when_distinct_fits_capacity(spark):
    """distinct <= capacity: no compression ever fires, so the summary
    IS the exact count table and the bound collapses to zero."""
    vals = ["a"] * 5 + ["b"] * 3 + ["c"] * 2 + [None]
    out = heavy_hitters(_df(spark, vals), "k", k=10, capacity=8).collect()
    assert [(r.key, r.est, r.err_bound) for r in out] == [
        ("a", 5, 0),
        ("b", 3, 0),
        ("c", 2, 0),
    ]


def test_bound_holds_beyond_capacity(spark):
    """Adversarial stream with distinct >> capacity: every reported
    estimate underestimates by at most err_bound, and every key whose
    true count exceeds err_bound is present (k large enough to keep the
    whole merged summary — up to partitions x capacity keys)."""
    vals = (
        ["hot"] * 200
        + ["warm"] * 60
        + [f"noise{i}" for i in range(400)]
        + ["warm"] * 40
    )
    true = Counter(v for v in vals if v is not None)
    cap = 16
    out = heavy_hitters(
        _df(spark, vals), "k", k=10_000, capacity=cap
    ).collect()
    assert out, "summary must not be empty"
    bound = out[0].err_bound
    got = {r.key: r.est for r in out}
    for key, est in got.items():
        assert est <= true[key] <= est + bound, (key, est, true[key], bound)
    for key, cnt in true.items():
        if cnt > bound:
            assert key in got, (key, cnt, bound)


def test_capacity_validation(spark):
    with pytest.raises(ValueError, match="capacity"):
        heavy_hitters(_df(spark, ["a"]), "k", capacity=0)
    with pytest.raises(ValueError, match="k must"):
        heavy_hitters(_df(spark, ["a"]), "k", k=0)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    values=st.lists(
        st.sampled_from([f"v{i}" for i in range(40)]),
        min_size=1,
        max_size=300,
    ),
    cap=st.sampled_from([4, 8, 16]),
    parts=st.sampled_from([1, 3, 7]),
)
def test_mg_invariants_random(spark, values, cap, parts):
    """Hypothesis sweep over random streams, capacities, and partition
    counts: underestimate-only within bound; membership above bound;
    deficits add across partitions (the mergeability claim)."""
    true = Counter(values)
    # k above partitions x capacity: the membership guarantee holds for
    # the MERGED summary; a k=capacity cut could legitimately drop an
    # above-bound key that ranks low by summed estimate
    out = heavy_hitters(
        _df(spark, values, parts), "k", k=10_000, capacity=cap
    ).collect()
    if not out:
        # compression can legitimately empty every partition's summary
        # (e.g. an all-distinct stream at small capacity); the rows
        # carry the bound, so with none emitted assert the conservative
        # W=0 form of the guarantee instead of a bogus bound=0
        assert max(true.values()) <= len(values) // (cap + 1)
        return
    bound = out[0].err_bound
    got = {r.key: r.est for r in out}
    for key, est in got.items():
        assert est <= true[key] <= est + bound
    for key, cnt in true.items():
        if cnt > bound:
            assert key in got


def test_corpus_words_vs_duckdb_exact(spark):
    """Real-corpus gate, the future oracle shape: the exact top-10 words
    (DuckDB twin) must all be reported with estimates inside the bound —
    i.e. `within_bound` pins TRUE for every exact-top-10 row."""
    import duckdb

    from extended_ops.plans.extended import (
        _SQL_WORDS,
    )
    from extended_ops.sources.tables import load_table

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    exact = con.execute(
        f"""
        SELECT w AS word, COUNT(*) AS cnt
        FROM (SELECT unnest({_SQL_WORDS}) AS w FROM documents)
        GROUP BY w ORDER BY cnt DESC, w LIMIT 10
        """
    ).fetchall()
    con.close()

    docs = load_table(spark, SF_DIR, "documents")
    words = docs.selectExpr(
        "explode(split(lower(trim(text)), '\\\\s+')) AS word"
    ).where("word != ''")
    out = heavy_hitters(words, "word", k=10_000, capacity=256).collect()
    got = {r.key: (r.est, r.err_bound) for r in out}
    for word, cnt in exact:
        assert word in got, (word, cnt)
        est, bound = got[word]
        assert est <= cnt <= est + bound, (word, est, cnt, bound)


def test_plan_pinned_single_scan(spark):
    """Plan gate: the totals row and the per-key sum both read the
    PINNED summary — the finalized plan has no parquet scan and no
    Python stage (unpinned, the full corpus scan would run twice), and
    the only exchanges move summary-sized data."""
    from extended_ops.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    words = docs.selectExpr(
        "explode(split(lower(trim(text)), '\\\\s+')) AS word"
    )
    out = heavy_hitters(words, "word", k=20, capacity=64)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    assert final.count("MapInPandas") == 0, final
    assert final.count("Scan parquet") == 0, final
    assert final.count("Scan ExistingRDD") >= 1, final
